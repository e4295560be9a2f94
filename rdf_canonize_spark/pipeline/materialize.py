"""Graph materialization, lineage/metrics, checkpoint resumability.

Outputs (parquet; an Iceberg deployment swaps ``write_batch``'s body,
see its docstring):

* ``canonical_nquads(url, nquads, label_map, ...)`` -- per-document
  canonical form (the flagship output).
* ``nodes(term_kind, term, n_refs)`` -- distinct canonical terms.
* ``edges(url, s_kind, s, p, o_kind, o, g)`` -- canonically relabeled
  edge list.
* ``lineage(url, text_sha256, n_quads, deep_iterations, error)`` --
  per-document provenance incl. the byte-identical-text invariant hash.
* ``metrics(partition_id, n_urls, n_quads, n_errors, deep_iterations)``
  -- per-partition rollup.

Checkpoint/resume: each batch commits atomically (one write job plus a
rename) into ``<out>/canonical_nquads/batch=<id>/``; those committed
directories are the completion record, and ``resume_filter`` anti-joins
pages against their url column so a restarted job only processes the
remainder.  (Batch-level resumability, not Structured Streaming -- the
reference pipeline is strictly batch, SURVEY.md section 2.2; the
streaming ingest commits each micro-batch through the same
``write_batch``.)
"""

from __future__ import annotations

import os

from pyspark.sql import Observation
from pyspark.sql import functions as F

from ..rdfc.terms import BLANK


def relabel_edges(canonical_df, quads_df):
    """Canonically relabeled edge list.

    Joins the quad table against the per-url blank-node label maps.  The
    join key is url (co-partitioned with the canonize shuffle); label
    substitution is a map lookup, not a second join.
    """
    maps = canonical_df.select("url", "label_map")
    joined = quads_df.join(maps, "url", "left")

    def relabel(kind_col, val_col):
        canonical = F.col("label_map")[F.col(val_col)]
        return (
            F.when(
                (F.col(kind_col) == BLANK) & canonical.isNotNull(),
                canonical,
            )
            .otherwise(F.col(val_col))
        )

    return joined.select(
        "url",
        F.col("s_kind"),
        relabel("s_kind", "s").alias("s"),
        F.col("p"),
        F.col("o_kind"),
        relabel("o_kind", "o").alias("o"),
        F.col("g"),
    )


def node_table(edges_df):
    """Distinct canonical terms with reference counts (partial agg is
    map-side; one shuffle on the term).

    Blank nodes are document-scoped, so they are skolemized with the
    owning url (``<url>#_:c14nN``) -- otherwise every document's
    ``c14n0`` would merge into one false hub node.
    """

    def skolem(kind_col, val_col):
        return F.when(
            F.col(kind_col) == BLANK,
            F.concat(F.col("url"), F.lit("#_:"), F.col(val_col)),
        ).otherwise(F.col(val_col))

    s_nodes = edges_df.select(
        F.col("s_kind").alias("term_kind"),
        skolem("s_kind", "s").alias("term"),
    )
    o_nodes = edges_df.select(
        F.col("o_kind").alias("term_kind"),
        skolem("o_kind", "o").alias("term"),
    )
    return (
        s_nodes.unionAll(o_nodes)
        .groupBy("term_kind", "term")
        .agg(F.count(F.lit(1)).alias("n_refs"))
    )


def lineage_table(canonical_df, pages_df):
    """Per-document lineage; ``text_sha256`` is the byte-identical
    extracted-text invariant from the north rule."""
    text_hash = pages_df.select(
        "url", F.sha2(F.col("text"), 256).alias("text_sha256")
    )
    return canonical_df.join(text_hash, "url", "left").select(
        "url", "text_sha256", "n_quads", "n_bnodes",
        "deep_iterations", "quads_hash", "error",
    )


def metrics_table(canonical_df):
    """Per-partition rollup (executor-local partial agg, tiny result)."""
    return (
        canonical_df.withColumn("partition_id", F.spark_partition_id())
        .groupBy("partition_id")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.sum("n_quads").alias("n_quads"),
            F.sum(
                F.when(F.col("error").isNotNull(), 1).otherwise(0)
            ).alias("n_errors"),
            F.sum("deep_iterations").alias("deep_iterations"),
        )
    )


# --- checkpointed batch writes -------------------------------------------------
def _fs_for(spark, path):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _committed_batches(spark, out_dir):
    """Names of the committed ``batch=<id>`` directories under
    ``<out>/canonical_nquads`` (driver-side listing, no Spark job).

    Also the one-time migration sweep: an earlier writer staged INSIDE
    the data root as ``canonical_nquads/batch=<id>.staging``; the
    current writer stages under ``<out>/_staging``, but a crash under
    the old layout can have left ``*.staging`` dirs that whole-table
    reads would pick up as bogus string-valued ``batch`` partitions
    (duplicated rows + a flipped partition type).  Deleting them is
    always safe -- staging content is by definition uncommitted (the
    old commit was a rename away from the ``.staging`` name)."""
    data_root = os.path.join(out_dir, "canonical_nquads")
    fs, root_p = _fs_for(spark, data_root)
    if not fs.exists(root_p):
        return []
    names = []
    for st in fs.listStatus(root_p):
        name = st.getPath().getName()
        if name.endswith(".staging"):
            fs.delete(st.getPath(), True)
        elif st.isDirectory() and name.startswith("batch="):
            names.append(name)
    return names


def resume_filter(spark, pages_df, out_dir):
    """Drop pages whose url is in a committed batch.  The committed
    ``canonical_nquads/batch=<id>/`` directories are the completion
    record (a commit is an atomic rename, and nothing is staged under
    that root); an absent or batch-less root means nothing is done.
    The explicit read schema spares a schema-inference job."""
    if not _committed_batches(spark, out_dir):
        return pages_df
    data_root = os.path.join(out_dir, "canonical_nquads")
    done = spark.read.schema("url string").parquet(data_root)
    return pages_df.join(done, "url", "left_anti")


def write_batch(canonical_df, out_dir, batch_id):
    """Stage-then-commit batch write in one Spark job; returns the
    written ``{"docs", "quads", "errors"}`` counts.

    The batch is staged under ``<out>/_staging/batch=<id>`` first --
    OUTSIDE the partitioned data root, and under an underscore-prefixed
    directory that Spark/Hadoop partition discovery ignores anyway: a
    crash between staging and commit must not leave a directory that a
    whole-table read would pick up as a bogus ``batch='<id>.staging'``
    partition (duplicating rows and flipping the inferred partition
    type to string).  The counts come from an ``Observation`` on the
    written frame, so emptiness is known when the write returns, with
    no read-back.  An empty result discards the staging directory,
    leaving any previously completed ``batch=<id>`` data untouched (a
    fully-resumed batch has an empty todo set; overwriting then would
    wipe completed data).  A non-empty result commits by
    Hadoop-FileSystem rename over the old directory, which is then the
    completion record ``resume_filter`` reads: reusing a batch id
    replaces its urls, and the replaced ones become todo again.

    Format note: the stage/rename dance is for a PATH-based format
    (parquet on a filesystem or rename-capable object store).  An
    Iceberg deployment gets atomic replacement from the table format's
    own snapshot commit -- swap this function's body for a plain
    ``writeTo(table).overwritePartitions()`` on the same observed
    frame, skipped when the observed count is zero, and read the
    table's url column in ``resume_filter``.
    """
    spark = canonical_df.sparkSession
    _committed_batches(spark, out_dir)  # sweeps legacy in-root staging
    obs = Observation()
    observed = canonical_df.observe(
        obs,
        F.count(F.lit(1)).alias("docs"),
        F.coalesce(F.sum("n_quads"), F.lit(0)).alias("quads"),
        F.count(F.col("error")).alias("errors"),
    )
    staging = os.path.join(out_dir, "_staging", f"batch={batch_id}")
    observed.write.mode("overwrite").parquet(staging)
    written = obs.get
    fs, staging_p = _fs_for(spark, staging)
    if written["docs"] == 0:
        fs.delete(staging_p, True)
        return written
    data_path = os.path.join(out_dir, "canonical_nquads", f"batch={batch_id}")
    _, data_p = _fs_for(spark, data_path)
    fs.delete(data_p, True)
    # rename needs the destination parent to exist (first batch creates
    # the canonical_nquads/ root here)
    fs.mkdirs(data_p.getParent())
    if not fs.rename(staging_p, data_p):
        raise IOError(f"commit rename failed: {staging} -> {data_path}")
    return written
