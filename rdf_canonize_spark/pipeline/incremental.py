"""Incremental recanonicalization for recrawls.

At 10^12 documents a daily recrawl changes a small fraction of pages;
recanonicalizing everything wastes the cluster.  Every canonize output
carries ``input_hash`` -- an order-independent content hash of the
document's input quads.  ``canonize_documents`` computes each row's
digest in Catalyst, in the projection that feeds its kernel, and the
kernel rolls up the digests of the document's rows, which are already
co-located there, so it costs zero extra shuffles -- and
``incremental_canonize`` joins the new crawl's hashes against the
prior output:

* unchanged url (same input_hash)  -> prior row carried forward,
  zero canonicalization work (correct because every per-url output is
  a pure function of the url's quads -- the repartition-invariance
  property the tests pin);
* changed/new url                  -> canonized fresh;
* disappeared url                  -> dropped (not carried).

Hash framing (``functions/framing.py``; shared byte-exact by the
canonize stage, this module's relational form, the Python framing of
the ``.nq`` file kernel and the DuckDB oracle): each quad field is
byte-length-prefixed (``<len>:<value>``, null -> chr(0)) and joined
with chr(31); per-row SHA-256 hex digests are deduplicated, sorted,
concatenated and SHA-256'd again.  Length prefixes make a field
containing chr(31)/chr(0)/chr(10) unable to shift framing, and
aggregating fixed-width digests (not raw lines) removes cross-line
ambiguity -- a hash collision here would silently carry forward stale
canonical output, so the framing is prefix-free by construction.

Plan shape (the recrawl path is the operator's whole reason to exist,
so its plan is audited in PLANS.md):

1. ``input_quads_hash`` over the new crawl -- ONE map-side-combinable
   groupBy shuffle; the Arrow kernel never touches unchanged urls.
2. status = hashes x prior(url, input_hash) -- one url-keyed join,
   ``localCheckpoint``'d because two filters branch from it (slim
   3-column frame; checkpointing avoids recomputing the join per
   branch and truncates the lineage).
3. carried  = prior LEFT SEMI unchanged_urls (url-keyed sort-merge --
   both sides are corpus-sized on a real recrawl, no broadcast).
   fresh = kernel over quads LEFT SEMI changed_urls; the changed set
   is a small fraction of a recrawl by definition, so it is always
   broadcast.  The semi-join output keeps the quads' url co-location,
   which is exactly the canonize kernel's input contract -- fresh costs
   no extra exchange.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.framing import ROW_DIGEST, input_hash_agg
from .canon_stage import canonize_documents


def input_quads_hash(quads_df):
    """(url, input_hash): order-independent content hash of each
    document's quads, relational form (one groupBy shuffle with
    map-side partial aggregation; used on the NEW crawl so the
    expensive kernel only runs on changed documents).  The same per-row
    digest as ``canonize_documents``, so byte-identical to its
    ``input_hash`` column -- parity is pinned by tests and by the
    ``canonize_incremental`` driver oracle."""
    return (
        quads_df.selectExpr("url", f"{ROW_DIGEST} AS qh")
        .groupBy("url")
        .agg(input_hash_agg().alias("input_hash"))
    )


def incremental_canonize(quads_df, prior_df, **kwargs):
    """Canonical output for the new crawl, recomputing only documents
    whose input quads changed since ``prior_df`` (a previous
    ``canonize_documents`` output, which carries ``input_hash``).
    Adds ``recomputed: boolean``.  The changed-url set is broadcast
    into the fresh-path semi-join (a recrawl changes a small fraction).
    """
    hashes = input_quads_hash(quads_df)
    prior_slim = prior_df.select(
        "url", F.col("input_hash").alias("prior_hash")
    )
    # Slim (url, input_hash, prior_hash) frame, branched twice below --
    # checkpoint so the hash aggregation + join run once, not per branch.
    status = hashes.join(prior_slim, "url", "left").localCheckpoint()
    unchanged_urls = status.filter(
        F.col("prior_hash") == F.col("input_hash")
    ).select("url")
    changed_urls = F.broadcast(status.filter(
        F.col("prior_hash").isNull()
        | (F.col("prior_hash") != F.col("input_hash"))
    ).select("url"))

    carried = prior_df.join(unchanged_urls, "url", "left_semi") \
        .withColumn("recomputed", F.lit(False))
    todo = quads_df.join(changed_urls, "url", "left_semi")
    fresh = canonize_documents(todo, **kwargs) \
        .withColumn("recomputed", F.lit(True))
    return fresh.unionByName(carried.select(*fresh.columns))
