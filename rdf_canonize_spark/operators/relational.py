"""Dataset-level relational analogues of the canonicalization stages.

The reference runs these steps per document inside one process; at
engine level each has a natural distributed form (SURVEY.md section 2
"Spark primitive it maps to").  These power the driver-contract
``queries()`` entries, each with a DuckDB oracle:

* O2  per-graph distinct            -> ``dedup_quads``
* O4  hash-first-degree (simplified) -> ``bnode_first_hash``
* O4  hash-first-degree (exact)      -> ``bnode_first_degree_hash_exact``
* O5  hash-group + unique detection -> ``hash_groups``
* O5b issue order (row_number)      -> ``issue_canonical_ids``
* O11 relabel via label-map join    -> ``relabel_quads``
* O13 global sort + concat          -> ``canonical_document``

The simplification vs the real algorithm: pure SQL cannot do the
n-degree recursion, so these stop at first-degree hashing and issue
ids in hash order.  That's why the real canonize stage is the Arrow
kernel in ``pipeline.canon_stage``; these analogues back the contract
queries and are not on the canonicalization path.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..rdfc.terms import BLANK, NAMED


def serialize_line(df):
    """N-Quad line per row, Catalyst-only (named/blank subjects+objects,
    plain literals; datatype/lang handling mirrors the serializer)."""
    s_term = F.when(F.col("s_kind") == NAMED,
                    F.concat(F.lit("<"), F.col("s"), F.lit(">"))
                    ).otherwise(F.concat(F.lit("_:"), F.col("s")))
    o_term = (
        F.when(F.col("o_kind") == NAMED,
               F.concat(F.lit("<"), F.col("o"), F.lit(">")))
        .when(F.col("o_kind") == BLANK,
              F.concat(F.lit("_:"), F.col("o")))
        .otherwise(
            F.concat(
                F.lit('"'), F.col("o"), F.lit('"'),
                F.when(
                    F.col("o_lang").isNotNull(),
                    F.concat(F.lit("@"), F.col("o_lang")),
                ).otherwise(
                    F.when(
                        F.col("o_datatype").isNotNull()
                        & (F.col("o_datatype")
                           != "http://www.w3.org/2001/XMLSchema#string")
                        & (F.col("o_datatype")
                           != "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"),
                        F.concat(F.lit("^^<"), F.col("o_datatype"),
                                 F.lit(">")),
                    ).otherwise(F.lit(""))
                ),
            )
        )
    )
    return df.withColumn(
        "nq_line",
        F.concat(s_term, F.lit(" <"), F.col("p"), F.lit("> "), o_term,
                 F.lit(" .")),
    )


def dedup_quads(quads_df):
    """O2: per-(url, graph) set semantics via exact-match distinct."""
    return quads_df.select(
        "url", "s_kind", "s", "p", "o_kind", "o",
        "o_datatype", "o_lang", "g_kind", "g",
    ).distinct()


def bnode_first_hash(quads_df):
    """O4 (simplified, SQL-expressible): per (url, bnode), SHA-256 over
    the sorted concatenation of that bnode's incident serialized lines.

    Distributed shape: explode bnode positions -> shuffle on
    (url, bnode) -> sort_array(collect_list) -> sha2.  Map-side partial
    aggregation applies to collect_list; the sort is per-group.
    """
    lines = serialize_line(quads_df)
    # Single-shuffle shape: serialize each quad once, explode the row's
    # distinct bnode set, aggregate with collect_set.  Set semantics
    # absorb BOTH the quad-level dedup (O2) and the cross-position line
    # dedup, so the only exchange is the (url, bnode) groupBy (with
    # map-side partial aggregation).  The 3-branch union + two
    # distincts alternative costs three shuffles and three scans.
    cands = F.array_distinct(
        F.filter(
            F.array(
                F.when(F.col("s_kind") == BLANK, F.col("s")),
                F.when(F.col("o_kind") == BLANK, F.col("o")),
                F.when(F.col("g_kind") == BLANK, F.col("g")),
            ),
            lambda x: x.isNotNull(),
        )
    )
    return (
        lines.select("url", "nq_line", F.explode(cands).alias("bnode"))
        .groupBy("url", "bnode")
        .agg(
            F.sha2(
                F.concat_ws("\n", F.sort_array(F.collect_set("nq_line"))),
                256,
            ).alias("first_hash"),
            F.size(F.collect_set("nq_line")).alias("n_lines"),
        )
    )


def bnode_first_degree_hash_exact(quads_df):
    """O4 EXACT in pure SQL: the real hash-first-degree-quads.

    Per (url, bnode): serialize each incident quad with the reference
    bnode replaced by ``_:a`` and every other bnode by ``_:z``
    (spec-bug semantics, lib/RDFC10Sync.js:414-428), sort the lines,
    SHA-256 the concatenation (each line keeps its trailing newline; no
    separator -- matching the incremental md.update framing).

    Valid whenever values need no N-Quads escaping and contain no
    astral characters (UTF-8 sort == UTF-16 sort then).  Byte-parity
    with the Python kernel's first-degree hashes is asserted in tests.
    """
    q = dedup_quads(quads_df)
    # One scan, one extra shuffle total (the dedup): explode each
    # deduped quad over its distinct bnode set.  Unlike the simplified
    # variant, duplicate *serialized* lines from different quads must
    # be kept (the reference hashes per-quad, and distinct quads can
    # serialize identically after _:a/_:z substitution), so dedup
    # happens at quad level, not line level.
    cands = F.array_distinct(
        F.filter(
            F.array(
                F.when(F.col("s_kind") == BLANK, F.col("s")),
                F.when(F.col("o_kind") == BLANK, F.col("o")),
                F.when(F.col("g_kind") == BLANK, F.col("g")),
            ),
            lambda x: x.isNotNull(),
        )
    )
    pairs = q.select("*", F.explode(cands).alias("bnode"))

    def subst(kind_col, val_col):
        return F.when(
            F.col(kind_col) == BLANK,
            F.when(F.col(val_col) == F.col("bnode"), F.lit("a"))
            .otherwise(F.lit("z")),
        ).otherwise(F.col(val_col))

    s_term = F.when(
        F.col("s_kind") == NAMED,
        F.concat(F.lit("<"), F.col("s"), F.lit(">")),
    ).otherwise(F.concat(F.lit("_:"), subst("s_kind", "s")))
    o_term = (
        F.when(F.col("o_kind") == NAMED,
               F.concat(F.lit("<"), F.col("o"), F.lit(">")))
        .when(F.col("o_kind") == BLANK,
              F.concat(F.lit("_:"), subst("o_kind", "o")))
        .otherwise(
            F.concat(
                F.lit('"'), F.col("o"), F.lit('"'),
                F.when(F.col("o_lang").isNotNull(),
                       F.concat(F.lit("@"), F.col("o_lang")))
                .otherwise(
                    F.when(
                        F.col("o_datatype").isNotNull()
                        & (F.col("o_datatype")
                           != "http://www.w3.org/2001/XMLSchema#string")
                        & (F.col("o_datatype")
                           != "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"),
                        F.concat(F.lit("^^<"), F.col("o_datatype"),
                                 F.lit(">")),
                    ).otherwise(F.lit(""))
                ),
            )
        )
    )
    # graph term: DefaultGraph adds nothing in this pipeline's quads
    g_term = F.when(
        F.col("g_kind") == NAMED,
        F.concat(F.lit(" <"), F.col("g"), F.lit(">")),
    ).when(
        F.col("g_kind") == BLANK,
        F.concat(F.lit(" _:"), subst("g_kind", "g")),
    ).otherwise(F.lit(""))
    line = F.concat(
        s_term, F.lit(" <"), F.col("p"), F.lit("> "), o_term, g_term,
        F.lit(" .\n"),
    )
    return (
        pairs.withColumn("fd_line", line)
        .groupBy("url", "bnode")
        .agg(
            F.sha2(
                F.concat_ws("", F.sort_array(F.collect_list("fd_line"))),
                256,
            ).alias("first_degree_hash")
        )
    )


def hash_groups(quads_df):
    """O5: group bnodes by first-degree hash; singleton groups are the
    'unique' fast path that skips n-degree work."""
    fh = bnode_first_hash(quads_df)
    return fh.groupBy("url", "first_hash").agg(
        F.count(F.lit(1)).alias("group_size"),
        F.concat_ws(
            ",", F.sort_array(F.collect_list("bnode"))
        ).alias("members"),
        (F.count(F.lit(1)) == 1).alias("is_unique"),
    )


def issue_canonical_ids(quads_df):
    """O5b: issue c14n ids per url in first-degree-hash order
    (``row_number() over (partition by url order by hash, bnode)``)."""
    fh = bnode_first_hash(quads_df)
    w = Window.partitionBy("url").orderBy("first_hash", "bnode")
    return fh.select(
        "url",
        "bnode",
        "first_hash",
        F.concat(
            F.lit("c14n"), (F.row_number().over(w) - 1).cast("string")
        ).alias("canonical_id"),
    )


def relabel_quads(quads_df):
    """O11: rewrite blank-node labels to canonical ids.

    The issued-id table folds to ONE map per url (the groupBy reuses
    the issue-window's url partitioning, no extra exchange) and joins
    the quad table once on url; per-term rewriting is then a map
    lookup.  The two-wide-joins alternative (join on (url, s) then
    (url, o)) shuffles the quad table twice on different keys — 9
    exchanges total vs ~4 here, and the per-url map is exactly the
    label-map shape the canonize stage emits anyway.
    """
    ids = issue_canonical_ids(quads_df)
    id_map = ids.groupBy("url").agg(
        F.map_from_entries(
            F.collect_list(F.struct("bnode", "canonical_id"))
        ).alias("c14n_map")
    )
    q = dedup_quads(quads_df)
    j = q.join(id_map, "url", "left")

    def sub(kind_col, val_col):
        repl = F.try_element_at(F.col("c14n_map"), F.col(val_col))
        return F.when(
            (F.col(kind_col) == BLANK) & repl.isNotNull(), repl
        ).otherwise(F.col(val_col))

    return j.select(
        "url",
        "s_kind",
        sub("s_kind", "s").alias("s"),
        "p",
        "o_kind",
        sub("o_kind", "o").alias("o"),
        "o_datatype",
        "o_lang",
        "g_kind",
        "g",
    )


def canonical_document(quads_df):
    """O13: per url, the sorted-concatenated canonical serialization of
    the relabeled quads (one output row per document)."""
    lines = serialize_line(relabel_quads(quads_df))
    return lines.groupBy("url").agg(
        F.concat_ws(
            "\n", F.sort_array(F.collect_list("nq_line"))
        ).alias("doc_nquads"),
        F.count(F.lit(1)).alias("n_lines"),
    )
