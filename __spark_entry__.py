"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` -- flagship query: full KG-construction pipeline
(extract -> link -> per-document RDFC-1.0 canonicalization) over
synthetic Common-Crawl-style pages derived from sf0.001 documents.

``queries()`` / ``oracle_sql()`` -- one entry per implemented operator
from SURVEY.md section 2; DuckDB oracles verify every SQL-expressible
stage.  The canonicalization stage itself (O4-O10 with n-degree
recursion) is non-SQL-expressible -- it gets a rows-only check here and
is byte-verified against reference-generated goldens in tests/.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rdf_canonize_spark.functions import vectors
from rdf_canonize_spark.operators import (
    dedup,
    oracle_ops,
    oracles,
    relational,
    similarity,
    temporal,
    textstats,
)
from rdf_canonize_spark.pipeline.canon_stage import canonize_documents
from rdf_canonize_spark.pipeline.link import build_quads, gazetteer_df
from rdf_canonize_spark.pipeline.pages import pages_from_documents
from rdf_canonize_spark.pipeline.runner import run_pipeline


def _quads(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = pages_from_documents(spark, sf_dir)
    return build_quads(pages, gazetteer_df(spark))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: canonical N-Quads per document at sf0.001."""
    pages = pages_from_documents(spark, "/root/testdata/sf0.001")
    results = run_pipeline(spark, pages, max_work_factor=3)
    return results["canonical"].select(
        "url", "nquads", "n_quads", "n_bnodes", "deep_iterations",
        "quads_hash", "error",
    )


# --- query implementations -----------------------------------------------------
def q_triples_extract(spark, sf_dir):
    """O1-analogue + north-rule extraction: pages -> linked quads."""
    return _quads(spark, sf_dir)


def q_dedup_quads(spark, sf_dir):
    """O2: per-graph set semantics via distinct."""
    return relational.dedup_quads(_quads(spark, sf_dir))


def q_first_degree_hash(spark, sf_dir):
    """O4 (simplified): per-bnode SHA-256 over sorted incident lines."""
    return relational.bnode_first_hash(_quads(spark, sf_dir))


def q_first_degree_hash_exact(spark, sf_dir):
    """O4 exact (with _:a/_:z substitution) in Catalyst."""
    return relational.bnode_first_degree_hash_exact(_quads(spark, sf_dir))


def q_hash_groups(spark, sf_dir):
    """O5: group bnodes by hash, unique detection."""
    return relational.hash_groups(_quads(spark, sf_dir))


def q_issue_ids(spark, sf_dir):
    """O5b: canonical id issuance in hash order (window row_number)."""
    return relational.issue_canonical_ids(_quads(spark, sf_dir))


def q_relabel(spark, sf_dir):
    """O11: relabel bnodes via label-map join."""
    return relational.relabel_quads(_quads(spark, sf_dir))


def q_canonical_document(spark, sf_dir):
    """O12+O13: per-document sorted canonical serialization."""
    return relational.canonical_document(_quads(spark, sf_dir))


def q_canonize_rdfc10(spark, sf_dir):
    """O4-O10 full RDFC-1.0 via the co-located Arrow kernel.

    The canonical serialization itself (n-degree recursion) is not
    SQL-expressible, so the driver check is a PARTIAL oracle over the
    kernel's SQL-expressible outputs: per-url deduped quad count,
    distinct blank-node count, and the order-independent input content
    hash (all computed inside the kernel, DuckDB recomputes them from
    the quads CTE).  Byte-level nquads/label_map correctness is gated
    by tests/test_canonize_fixtures.py (92 reference-generated goldens
    + ~14.5k differential sweep cases) and tests/test_pipeline_spark.py
    (Spark stage vs pure-Python core).
    Kernel-bound, so the pages scan passes the min_parallelism guard:
    a small-file scan would otherwise feed the whole zero-shuffle
    kernel chain through one task (see pages_from_documents).
    """
    pages = pages_from_documents(
        spark, sf_dir,
        min_parallelism=spark.sparkContext.defaultParallelism,
    )
    quads = build_quads(pages, gazetteer_df(spark))
    return canonize_documents(quads, max_work_factor=3).select(
        "url", "n_quads", "n_bnodes", "input_hash"
    )


def q_entity_degrees(spark, sf_dir):
    """Skew-aware two-phase salted aggregation over entity mentions."""
    from rdf_canonize_spark.pipeline.entities import entity_degrees

    return entity_degrees(_quads(spark, sf_dir))


def q_entity_canonical_map(spark, sf_dir):
    """Cross-document entity canonicalization dictionary."""
    from rdf_canonize_spark.pipeline.entities import canonical_entity_map

    return canonical_entity_map(_quads(spark, sf_dir))


def q_entity_canonicalized_quads(spark, sf_dir):
    """Quads rewritten to canonical entity IRIs (broadcast map join)."""
    from rdf_canonize_spark.pipeline.entities import (
        canonical_entity_map,
        canonicalize_entities,
    )

    quads = _quads(spark, sf_dir)
    return canonicalize_entities(quads, canonical_entity_map(quads))


def q_lineitem_pricing_summary(spark, sf_dir):
    """TPC-H Q1-style aggregation (engine breadth: groupBy/agg)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("sum_disc_price"),
            F.avg("l_quantity").alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_orders_customer_join(spark, sf_dir):
    """Broadcast-dimension join (orders x customer x nation)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return (
        orders.join(
            F.broadcast(customer),
            orders["o_custkey"] == customer["c_custkey"],
        )
        .join(
            F.broadcast(nation),
            customer["c_nationkey"] == nation["n_nationkey"],
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_totalprice").alias("total_price"),
        )
    )


def q_orders_rollup(spark, sf_dir):
    """Hierarchical aggregate (ROLLUP) over orders."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_totalprice").alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "total_price",
        )
    )


def q_customer_set_ops(spark, sf_dir):
    """Set operations: customers with orders INTERSECT high-balance,
    EXCEPT low-nation -- one row per op tag."""
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    with_orders = customer.join(
        orders.select(F.col("o_custkey").alias("c_custkey")).distinct(),
        "c_custkey",
    ).select("c_custkey")
    high_bal = customer.filter(F.col("c_acctbal") > 5000).select(
        "c_custkey"
    )
    inter = with_orders.intersect(high_bal).withColumn(
        "op", F.lit("with_orders_and_high_balance")
    )
    exc = high_bal.exceptAll(with_orders).withColumn(
        "op", F.lit("high_balance_without_orders")
    )
    return inter.unionByName(exc)


def q_top_parts_by_size(spark, sf_dir):
    """Top-3 parts per size by retail price (window top-k)."""
    from pyspark.sql import Window

    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    w = Window.partitionBy("p_size").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey").asc()
    )
    return (
        part.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("p_size", "p_partkey", "p_retailprice", "rank")
    )


def q_customers_without_orders(spark, sf_dir):
    """Anti-join: customers with no finished ('F') orders."""
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return customer.join(
        orders.filter(F.col("o_orderstatus") == "F").select(
            F.col("o_custkey").alias("c_custkey")
        ),
        "c_custkey",
        "left_anti",
    ).select("c_custkey", "c_name", "c_acctbal")


def q_events_sessions(spark, sf_dir):
    """Sessionization: lag + cumulative-sum session ids per user
    (30-minute inactivity gap), then per-session aggregates."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(
        F.lag("ts").over(w)
    )
    with_session = (
        ev.withColumn(
            "new_session",
            F.when(gap.isNull() | (gap > 1800), 1).otherwise(0),
        )
        .withColumn(
            "session_idx",
            F.sum("new_session").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    return with_session.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.round(F.sum("value"), 4).alias("session_value"),
    )


def q_events_json_props(spark, sf_dir):
    """Scalar JSON extraction over the props column."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.select(
            "event_id",
            F.get_json_object("props", "$.k").cast("int").alias("k"),
        )
        .groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


def q_events_hourly(spark, sf_dir):
    """Time-bucketed aggregation over the events table."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
    )


def q_events_asof_orders(spark, sf_dir):
    """As-of join: each event annotated with the user's most recent
    order at or before the event time (custom temporal operator —
    union + single-window carry-forward, no range explosion)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return temporal.asof_last_order(ev, orders)


def q_events_close_pairs(spark, sf_dir):
    """Band (range) self-join: event pairs by the same user within
    60 s, bucket-equi-join implementation (never a cross product)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return temporal.close_event_pairs(ev, window_seconds=60)


def q_lineitem_quantiles(spark, sf_dir):
    """Exact percentiles (linear interpolation) per return flag."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return li.groupBy("l_returnflag").agg(
        F.round(
            F.expr("percentile(l_extendedprice, 0.25)"), 6
        ).alias("p25"),
        F.round(
            F.expr("percentile(l_extendedprice, 0.50)"), 6
        ).alias("p50"),
        F.round(
            F.expr("percentile(l_extendedprice, 0.75)"), 6
        ).alias("p75"),
        F.count(F.lit(1)).alias("n"),
    )


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_events_pivot(spark, sf_dir):
    """Pivot: event counts per user bucket x event type.  Explicit
    value list so the pivot needs no extra distinct-values pass."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy((F.col("user_id") % 10).alias("user_mod"))
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .select(
            "user_mod",
            *[F.coalesce(F.col(t), F.lit(0)).alias(t)
              for t in EVENT_TYPES],
        )
    )


def q_orders_cube(spark, sf_dir):
    """CUBE over (status, priority) — all grouping-set combinations."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_totalprice").alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "total_price",
        )
    )


def q_customers_above_nation_avg(spark, sf_dir):
    """Correlated-subquery analogue: customers above their nation's
    average balance, via a partition window (one shuffle, no
    self-join)."""
    from pyspark.sql import Window

    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    w = Window.partitionBy("c_nationkey")
    return (
        customer.withColumn("nation_avg", F.avg("c_acctbal").over(w))
        .filter(F.col("c_acctbal") > F.col("nation_avg"))
        .select(
            "c_custkey",
            "c_nationkey",
            F.round("c_acctbal", 6).alias("acctbal"),
            F.round("nation_avg", 6).alias("nation_avg"),
        )
    )


def q_embedding_norms(spark, sf_dir):
    """Catalyst-only vector math over array<float> embeddings."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return vectors.embedding_norms(emb)


def q_events_user_rolling(spark, sf_dir):
    """RANGE-frame window: per-user rolling 1-hour sum of value
    (time-based frame, not row-based -- ties share the frame)."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    epoch = F.unix_timestamp("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(epoch)
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 6).alias("rolling_value_1h"),
    )


def q_text_word_udtf(spark, sf_dir):
    """Python UDTF surface (Spark 4): table function exploding text
    into (word_idx, word) rows via a SQL LATERAL join."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="word_idx int, word string")
    class SplitWords:
        def eval(self, text):
            if text:
                for i, w in enumerate(text.split(" ")):
                    yield i, w

    spark.udtf.register("split_words", SplitWords)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.filter(F.col("doc_id") % 25 == 0).createOrReplaceTempView(
        "docs_sample"
    )
    return spark.sql(
        "SELECT d.doc_id, s.word_idx, s.word "
        "FROM docs_sample d, LATERAL split_words(d.text) s"
    )


def q_docs_geo_mean(spark, sf_dir):
    """Grouped-agg pandas UDF surface (Arrow-batched UDAF): geometric
    mean of document length per language."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textstats.geo_mean_by_lang(docs)


def q_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5-style six-table join (customer-orders-lineitem-
    supplier-nation-region, local-supplier condition): dims broadcast,
    the lineitem-orders join is the only large equi-join."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    supplier = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(customer),
              orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(supplier),
              li["l_suppkey"] == supplier["s_suppkey"])
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation),
              supplier["s_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region),
              nation["n_regionkey"] == region["r_regionkey"])
        .filter(
            (F.col("r_name") == "ASIA")
            & (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1998-01-01"))
        )
        .groupBy("n_name")
        .agg(
            F.sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_canonize_incremental(spark, sf_dir):
    """Recrawl path: incremental canonicalization against a prior run.

    PARTIAL oracle: here the prior IS the current crawl, so every row
    must carry forward un-recomputed -- the DuckDB side recomputes
    n_quads and input_hash from the quads CTE and asserts
    ``recomputed = false`` for every url.  This also pins byte-parity
    between the kernel-computed ``input_hash`` and the relational
    ``input_quads_hash`` (a mismatch would flip rows to
    recomputed=true and fail the hash check).  Equality of incremental
    vs full recompute under real edits is byte-asserted in
    tests/test_pipeline_spark.py.
    """
    from rdf_canonize_spark.pipeline.incremental import incremental_canonize

    quads = _quads(spark, sf_dir)
    prior = canonize_documents(quads, max_work_factor=3)
    inc = incremental_canonize(quads, prior, max_work_factor=3)
    return inc.select("url", "n_quads", "input_hash", "recomputed")


def q_lineitem_salted_join(spark, sf_dir):
    """Skew-safe salted equi-join (fact salted, dim replicated) when
    neither side broadcasts and the key is hot; result equals the
    plain join."""
    from rdf_canonize_spark.operators import joins

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    j = joins.salted_join(li, orders, "l_orderkey", n_salts=8)
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("l_extendedprice").alias("revenue"),
    )


def q_word_heavy_hitters(spark, sf_dir):
    """Exact heavy hitters (SpaceSaving candidates + recount): words
    above 2% corpus frequency.  The skew-detection primitive that
    decides salting factors before any keyed shuffle."""
    from rdf_canonize_spark.operators.sketches import heavy_hitters

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    words = docs.select(
        F.explode(F.split("text", " ")).alias("word")
    )
    return heavy_hitters(words, "word", 0.02)


def q_entity_components(spark, sf_dir):
    """Connected components of the entity co-statement graph
    (iterative hash-min label propagation; one shuffle per round,
    lineage truncated per round).  Oracle: DuckDB recursive CTE."""
    from rdf_canonize_spark.operators.graph import connected_components

    ent = "http://kg.example.org/entity/"
    quads = _quads(spark, sf_dir)
    edges = (
        quads.filter(
            (F.col("s_kind") == 0) & (F.col("o_kind") == 0)
            & F.col("s").startswith(ent) & F.col("o").startswith(ent)
        )
        .select(F.col("s").alias("src"), F.col("o").alias("dst"))
        .distinct()
    )
    return connected_components(edges)


def q_entity_pagerank(spark, sf_dir):
    """PageRank over the directed entity graph (10 iterations, 85/100
    damping, uniform dangling redistribution) in FIXED-POINT BIGINT
    arithmetic: integer sums are summation-order-independent, so the
    oracle (same iterations unrolled as chained SQL CTEs, same integer
    floor divisions) matches bit-for-bit by construction -- no float
    rounding boundary exists (round-4 verdict action #4).  rank_fp is
    the rank scaled by 1e12."""
    from rdf_canonize_spark.operators.graph import pagerank_fixedpoint

    ent = "http://kg.example.org/entity/"
    quads = _quads(spark, sf_dir)
    edges = (
        quads.filter(
            (F.col("s_kind") == 0) & (F.col("o_kind") == 0)
            & F.col("s").startswith(ent) & F.col("o").startswith(ent)
        )
        .select(F.col("s").alias("src"), F.col("o").alias("dst"))
        .distinct()
    )
    pr = pagerank_fixedpoint(edges, n_iter=10)
    return pr.select("node", "rank_fp")


def q_entity_sharded_link(spark, sf_dir):
    """Dictionary join for above-broadcast-limit dimensions: gazetteer
    hash-sharded, each shard broadcast in turn — the fact side is
    never shuffled (SCALE.md scale path for 10^9-entry dictionaries).
    Result equals the plain left join."""
    from rdf_canonize_spark.operators import joins
    from rdf_canonize_spark.pipeline.extract import extract_mentions

    pages = pages_from_documents(spark, sf_dir)
    mentions = extract_mentions(pages).select(
        "url", F.col("s_surface").alias("surface")
    ).distinct()
    return joins.sharded_broadcast_join(
        mentions, gazetteer_df(spark), "surface", n_shards=4, how="left"
    )


# --- training-data operators -----------------------------------------------------
def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def q_dedup_exact(spark, sf_dir):
    return dedup.exact_dedup(dedup.near_dup_corpus(spark, sf_dir))


def q_paragraph_dedup(spark, sf_dir):
    """Sub-document exact dedup: window-aligned 12-word segments
    repeated across distinct documents, with spread + keeper."""
    return dedup.paragraph_dedup(dedup.near_dup_corpus(spark, sf_dir))


def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights (hashed bag-of-tokens log-likelihood
    ratio vs the lang='en' target), integerized to micro-nats per
    bucket before the per-doc sum (operators/sampling.py)."""
    from rdf_canonize_spark.operators import sampling

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "text"
    )
    return sampling.dsir_weights(docs)


def q_unigram_ppl(spark, sf_dir):
    """CCNet-style unigram-LM perplexity: add-one-smoothed unigram
    distribution fit on the lang='en' reference subset, every doc
    scored by integer micro-nat mean NLL + whole-nat ppl_band
    (operators/sampling.py unigram_ppl)."""
    from rdf_canonize_spark.operators import sampling

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "text"
    )
    return sampling.unigram_ppl(docs, ref_predicate="lang = 'en'")


def q_bigram_ppl(spark, sf_dir):
    """Order-aware bigram-LM perplexity vs the lang='en' reference
    subset (sampling.bigram_ppl; integer micro-nat exact)."""
    from rdf_canonize_spark.operators import sampling

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "text"
    )
    return sampling.bigram_ppl(docs, ref_predicate="lang = 'en'")


def q_line_filter(spark, sf_dir):
    """C4-style line-level cleaning: first-failing rule per line,
    rebuilt clean text, kept-line + lorem-ipsum document gate
    (textstats.line_filter)."""
    from rdf_canonize_spark.operators.textstats import line_filter

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    return line_filter(docs)


def q_robots_rules(spark, sf_dir):
    """robots.txt parsing: comment strip, case-insensitive keys,
    carry-forward group assignment (operators/robots.py)."""
    from rdf_canonize_spark.operators import robots

    return robots.parse_robots(robots.robots_corpus(spark, sf_dir))


def q_robots_gate(spark, sf_dir):
    """robots.txt compliance gate over the crawl corpus:
    longest-prefix match, allow wins ties, no match = allowed
    (operators/robots.py)."""
    from rdf_canonize_spark.operators import robots, urls

    rules = robots.parse_robots(robots.robots_corpus(spark, sf_dir))
    return robots.robots_gate(urls.crawl_urls(spark, sf_dir), rules)


def q_quality_threshold(spark, sf_dir):
    """Per-language quality cutoff calibration: histogram-level
    cumulative threshold, never a per-lang corpus sort
    (textstats.quality_threshold)."""
    from rdf_canonize_spark.operators.textstats import quality_threshold

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "text"
    )
    return quality_threshold(docs)


def q_length_histogram(spark, sf_dir):
    """Token-length power-of-2 histogram per language
    (textstats.length_histogram)."""
    from rdf_canonize_spark.operators.textstats import length_histogram

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "lang", "text"
    )
    return length_histogram(docs)


def q_url_blocklist(spark, sf_dir):
    """Domain blocklist gate over the synthetic crawl corpus: exact
    host + registered-suffix rules (urls.blocklist_filter)."""
    from rdf_canonize_spark.operators import urls

    return urls.blocklist_filter(urls.crawl_urls(spark, sf_dir))


def q_entity_cooccurrence(spark, sf_dir):
    """Entity co-occurrence PMI graph: capped within-document pair
    join, micro-nat PMI over document frequencies
    (entities.entity_cooccurrence)."""
    from rdf_canonize_spark.pipeline.entities import entity_cooccurrence

    return entity_cooccurrence(_quads(spark, sf_dir))


def q_temperature_sample(spark, sf_dir):
    """Temperature-based source mixing: alpha=0.5 source
    re-balancing under a 50% document budget, integer-exact keep
    probabilities, hash-threshold selection
    (sampling.temperature_sample)."""
    from rdf_canonize_spark.operators.sampling import temperature_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source"
    )
    return temperature_sample(docs)


def q_incremental_dedup(spark, sf_dir):
    """Snapshot-over-snapshot dedup: the derived crawl variants
    screened against the original corpus -- exact hash, then LSH-band
    candidates verified by exact Jaccard, old x new quadrant only
    (dedup.incremental_dedup)."""
    from pyspark.sql import functions as F

    from rdf_canonize_spark.operators.dedup import (
        incremental_dedup,
        near_dup_corpus,
    )

    corpus = near_dup_corpus(spark, sf_dir)
    old = corpus.filter(F.col("doc_id") < 1000000)
    new = corpus.filter(F.col("doc_id") >= 1000000)
    return incremental_dedup(new, old)


def q_media_ahash(spark, sf_dir):
    """Perceptual image hashing through the Arrow kernel: real aHash
    for decodable rasters, deterministic sha256-prefix fallback for
    the html corpus (multimodal.image_ahash)."""
    from rdf_canonize_spark.operators import multimodal

    pages = pages_from_documents(spark, sf_dir)
    return multimodal.image_ahash(multimodal.attach_media(pages))


def q_media_ahash_near_dups(spark, sf_dir):
    """Banded-Hamming near-duplicate image pairs
    (multimodal.ahash_near_dups) over a synthetic hash table derived
    from the corpus: every doc's md5-prefix code, an exact twin for
    doc_id %% 7, and a 1-bit-flipped twin for doc_id %% 5 (the
    hex-digit low-bit flip is the translate trick, SQL-reproducible)
    -- so the exact pigeonhole guarantee is exercised at Hamming 0
    and 1 against random 64-bit non-pairs."""
    from pyspark.sql import functions as F

    from rdf_canonize_spark.operators.multimodal import ahash_near_dups

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    h = F.md5("text")
    flip = F.concat(
        F.substring(h, 1, 4),
        F.translate(
            F.substring(h, 5, 1),
            "0123456789abcdef",
            "1032547698badcfe",
        ),
        F.substring(h, 6, 11),
    )
    base = docs.select(
        F.concat(F.lit("doc:"), F.col("doc_id").cast("string")).alias(
            "url"
        ),
        F.substring(h, 1, 16).alias("ahash"),
    )
    near = docs.filter(F.col("doc_id") % 5 == 0).select(
        F.concat(F.lit("near:"), F.col("doc_id").cast("string")).alias(
            "url"
        ),
        flip.alias("ahash"),
    )
    copy = docs.filter(F.col("doc_id") % 7 == 0).select(
        F.concat(F.lit("copy:"), F.col("doc_id").cast("string")).alias(
            "url"
        ),
        F.substring(h, 1, 16).alias("ahash"),
    )
    return ahash_near_dups(base.unionByName(near).unionByName(copy))


def q_bpe_merges(spark, sf_dir):
    """BPE tokenizer training: the top-6 learned symbol-pair merges
    with deterministic ties (textstats.bpe_merges)."""
    from rdf_canonize_spark.operators.textstats import bpe_merges

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    return bpe_merges(docs)


def q_inverted_index(spark, sf_dir):
    """Inverted-index construction: per-token df / total count and a
    rank-capped ascending posting list (textstats.inverted_index)."""
    from rdf_canonize_spark.operators.textstats import inverted_index

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    return inverted_index(docs)


def q_source_profile(spark, sf_dir):
    """Per-source curation profile: doc count, exact-dup rate, token
    volume, majority language + purity, mean length
    (textstats.source_profile)."""
    from rdf_canonize_spark.operators.textstats import source_profile

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", "lang", "text"
    )
    return source_profile(docs)


def q_containment_pairs(spark, sf_dir):
    """Asymmetric containment dedup over the planted near-dup corpus:
    rare-shingle candidates, full-set intersection, directional
    inner/outer containment (dedup.containment_pairs)."""
    return dedup.containment_pairs(dedup.near_dup_corpus(spark, sf_dir))


def q_nfc_profile(spark, sf_dir):
    """Unicode NFC-normalization profile: changed flag, normalized
    code-point length, md5 dedup key (textstats.nfc_profile,
    Arrow-batched kernel; zero shuffles)."""
    from rdf_canonize_spark.operators.textstats import nfc_profile

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    return nfc_profile(docs)


def q_kmeans_quantized(spark, sf_dir):
    """Bit-portable Lloyd k-means over integer-quantized embeddings:
    2 assign/update rounds + final per-cell stats, exact integer
    means and inertia (similarity.kmeans_quantized)."""
    from rdf_canonize_spark.operators import similarity

    return similarity.kmeans_quantized(similarity._load(spark, sf_dir))


def q_tfidf_keywords(spark, sf_dir):
    """TF-IDF keyword extraction: per-doc top-5 alphabetic
    non-stopword tokens by tf x integer micro-nat smoothed idf
    (textstats.tfidf_keywords)."""
    from rdf_canonize_spark.operators.textstats import tfidf_keywords

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    return tfidf_keywords(docs)


def q_build_vocab(spark, sf_dir):
    """Tokenizer-vocabulary construction: top-k corpus tokens with
    deterministic ties and contiguous ids (textstats.build_vocab)."""
    from rdf_canonize_spark.operators.textstats import build_vocab

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    return build_vocab(docs)


def q_oov_stats(spark, sf_dir):
    """Per-doc OOV rate against the built vocab (broadcast join)."""
    from rdf_canonize_spark.operators.textstats import (
        build_vocab,
        oov_stats,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    return oov_stats(docs, build_vocab(docs))


def q_quality_gate(spark, sf_dir):
    """The composed C4/Gopher-style filter ladder: one keep/drop
    verdict + first-failing-rule reason per document
    (operators/gate.py)."""
    from rdf_canonize_spark.operators import gate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "text"
    )
    return gate.quality_gate(docs)


def q_gate_histogram(spark, sf_dir):
    """Reject-reason histogram over the gate output -- the pipeline
    tuning artifact."""
    from rdf_canonize_spark.operators import gate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "text"
    )
    return gate.gate_histogram(gate.quality_gate(docs))


def q_url_canonicalize(spark, sf_dir):
    """SURT-form URL canonicalization over a synthetic recrawl corpus:
    scheme/www/port/fragment/tracking-param/query-order folding as a
    narrow Catalyst projection (operators/urls.py)."""
    from rdf_canonize_spark.operators import urls

    return urls.canonical_urls(urls.crawl_urls(spark, sf_dir)).select(
        "doc_id", "url", "canonical_url"
    )


def q_url_dedup(spark, sf_dir):
    """Canonical-URL recrawl dedup: fetch groups with count + keeper,
    one uniform-key groupBy after the canonicalization projection."""
    from rdf_canonize_spark.operators import urls

    return urls.url_dedup(urls.crawl_urls(spark, sf_dir))


def q_duplicate_spans(spark, sf_dir):
    """Exact-substring duplicate spans (Lee et al. 2022 family):
    offset-free merged runs of cross-document 13-grams -- the
    suffix-array dedup use case as rolling-gram explode + md5 groupBy
    + gaps-and-islands merge."""
    return dedup.duplicate_spans(dedup.near_dup_corpus(spark, sf_dir))


def q_duplicate_span_stats(spark, sf_dir):
    """Per-doc duplicated-text profile (coverage fraction, span
    count, longest span) -- the doc-level filter signal over the
    exact-substring span table."""
    return dedup.duplicate_span_stats(
        dedup.near_dup_corpus(spark, sf_dir)
    )


def q_remove_duplicate_spans(spark, sf_dir):
    """Span-level cleaning: drop every token covered by a
    cross-document duplicate span, rebuild whitespace-normalized
    text (drop-all-occurrences policy)."""
    return dedup.remove_duplicate_spans(
        dedup.near_dup_corpus(spark, sf_dir)
    )


def _boiler_corpus(spark, sf_dir):
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    reposts = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), "source", "text"
    )
    return docs.unionAll(reposts)


def q_boilerplate_segments(spark, sf_dir):
    """CCNet-style per-source boilerplate list over documents plus an
    every-10th exact repost (same source) -- the removal list a
    cleaning pass anti-joins against."""
    return dedup.boilerplate_segments(_boiler_corpus(spark, sf_dir))


def q_remove_boilerplate(spark, sf_dir):
    """The consuming cleaning pass: drop flagged segments, rebuild
    whitespace-normalized text, count removals per document."""
    corpus = _boiler_corpus(spark, sf_dir)
    removal = dedup.boilerplate_segments(corpus)
    return dedup.remove_boilerplate(corpus, removal)


def q_dedup_jaccard(spark, sf_dir):
    return dedup.jaccard_pairs(
        dedup.near_dup_corpus(spark, sf_dir), threshold=0.5
    )


def q_dedup_minhash_signatures(spark, sf_dir):
    return dedup.minhash_signatures(dedup.near_dup_corpus(spark, sf_dir))


def q_dedup_lsh_candidates(spark, sf_dir):
    return dedup.lsh_candidates(dedup.near_dup_corpus(spark, sf_dir))


def q_dedup_simhash(spark, sf_dir):
    return dedup.simhash(dedup.near_dup_corpus(spark, sf_dir))


def q_dedup_clusters(spark, sf_dir):
    """End-to-end near-dup clustering: LSH -> verify -> connected
    components -> per-cluster keeper (DuckDB recursive-CTE oracle)."""
    return dedup.dedup_clusters(
        dedup.near_dup_corpus(spark, sf_dir), threshold=0.5
    )


def q_dedup_lsh_verified(spark, sf_dir):
    """Composed near-dup scale path: MinHash -> LSH band candidates ->
    exact Jaccard verification restricted to survivors (never a
    corpus-wide shingle self-join)."""
    return dedup.lsh_verified_pairs(
        dedup.near_dup_corpus(spark, sf_dir), threshold=0.5
    )


def q_text_lang_id(spark, sf_dir):
    return textstats.lang_id(_docs(spark, sf_dir))


def q_text_quality(spark, sf_dir):
    return textstats.quality_score(_docs(spark, sf_dir))


def q_text_token_counts(spark, sf_dir):
    return textstats.token_counts(_docs(spark, sf_dir))


def q_text_fingerprint(spark, sf_dir):
    return textstats.fingerprint(_docs(spark, sf_dir))


def q_text_repetition(spark, sf_dir):
    """Gopher repetition rules: duplicate-word / top-bigram /
    duplicate-trigram fractions + the combined filter flag (the
    standard boilerplate-loop and keyword-stuffing catch that length
    checks miss).  One tagged n-gram explode, two narrow shuffles."""
    return textstats.repetition_stats(_docs(spark, sf_dir))


SAMPLE_RATES = {"en": 0.5, "de": 0.25, "fr": 0.1}
MIX_QUOTAS = {"en": 40, "de": 25, "fr": 10, "es": 5}


def q_docs_chunks(spark, sf_dir):
    """Overlapping word-window chunking (context packing)."""
    return textstats.chunk_documents(_docs(spark, sf_dir))


def q_text_redact_pii(spark, sf_dir):
    """Deterministic PII scrubbing with redaction counts."""
    return textstats.redact_pii(_docs(spark, sf_dir))


def q_docs_stratified_sample(spark, sf_dir):
    """Per-language deterministic hash sampling (zero shuffle)."""
    from rdf_canonize_spark.operators import sampling

    return sampling.stratified_sample(_docs(spark, sf_dir), SAMPLE_RATES)


def q_docs_source_mix(spark, sf_dir):
    """Exact per-source quotas for dataset mixing (hash-order rank)."""
    from rdf_canonize_spark.operators import sampling

    return sampling.source_mix_quota(_docs(spark, sf_dir), MIX_QUOTAS)


def q_docs_decontaminate(spark, sf_dir):
    """Benchmark decontamination: distinct shared word n-grams per
    training doc vs a (broadcast) benchmark subset, plus the flag.
    Benchmark set = every 50th document, so planted contamination is
    guaranteed (those docs appear in both sets)."""
    docs = _docs(spark, sf_dir)
    return dedup.decontaminate(
        docs, docs.filter(F.col("doc_id") % 50 == 0)
    )


def q_docs_pack_sequences(spark, sf_dir):
    """Concat-then-chunk sequence packing into a 512-token budget over
    8 deterministic hash shards."""
    from rdf_canonize_spark.operators import sampling

    return sampling.pack_sequences(_docs(spark, sf_dir))


def q_ann_brute_force(spark, sf_dir):
    return similarity.brute_force_topk(spark, sf_dir)


def q_ann_ivf(spark, sf_dir):
    """Stride-centroid IVF (diagnostic configuration: K grows with
    N/stride; kept for continuity with the round-2/3 artifacts --
    ann_ivf_trained_topk is the scale path)."""
    return similarity.ivf_topk(spark, sf_dir)


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup-shape embedding dedup: Voronoi-cell-bucketed exact-
    cosine comparison, keeper = smallest duplicated cell-mate.  The
    cell join bounds candidates the way LSH tables do, but groups
    semantically (cosine-close) instead of by random projections.
    SCALED configuration (round-4 verdict action #2): k is derived
    from the corpus count at constant target occupancy, so the
    within-cell pair join stays O(N * occupancy) at any corpus size
    -- and the oracle recomputes the identical k from COUNT(*)."""
    return similarity.semantic_dedup(spark, sf_dir)


def q_ann_ivf_trained(spark, sf_dir):
    """FIXED-K IVF -- the scale-correct configuration: centroids are
    the deterministic init selection (k=16 regardless of corpus size),
    so the broadcast assignment join stays N x 16 at any N.  Fully
    oracle-checked (init selection, L2 argmin assignment, nprobe
    probing, cosine rerank all bit-reproducible in SQL)."""
    return similarity.ivf_trained_topk(spark, sf_dir)


def q_ann_lsh(spark, sf_dir):
    return similarity.lsh_ann_topk(spark, sf_dir)


def q_ann_lsh_banded(spark, sf_dir):
    """Banded multi-table hyperplane ANN -- the bounded-occupancy
    scale configuration of lsh_ann_topk (OR-of-tables recall,
    candidates deduped before the exact rerank)."""
    return similarity.lsh_ann_topk(spark, sf_dir, n_tables=3, bits=6)


def q_embedding_near_dups(spark, sf_dir):
    """Embedding-cosine near-dup pairs via LSH buckets + exact cosine
    verification (the dedup-flavored ANN variant)."""
    return similarity.embedding_near_dup_pairs(spark, sf_dir)


def q_embedding_near_dups_banded(spark, sf_dir):
    """Banded multi-table hyperplane LSH near-dups -- the bounded-
    occupancy scale path: bits sized to the corpus, recall recovered
    via OR-of-tables, exact cosine on candidate survivors only."""
    return similarity.embedding_near_dup_pairs(
        spark, sf_dir, threshold=0.2, n_tables=3, bits=6
    )


def q_media_features(spark, sf_dir):
    """Multimodal plumbing: binary payloads -> Arrow-batched feature
    extraction.  Decode is REAL for uncompressed rasters (pure-Python
    BMP/PPM parsers); the html corpus takes the deterministic digest
    fallback ('stubbed'), which the oracle checks alongside the
    metadata columns."""
    from rdf_canonize_spark.operators import multimodal

    pages = pages_from_documents(spark, sf_dir)
    feats = multimodal.extract_media_features(
        multimodal.attach_media(pages)
    )
    return feats.select(
        "url", "media_type", "media_len", "media_sha256", "decode_status"
    )


def q_media_frames(spark, sf_dir):
    """Multimodal frame sampling: binary payload -> every-3rd
    fixed-size frame, one row per frame through a single exploding
    mapInPandas (decode stubbed; slicing/digests oracle-checked)."""
    from rdf_canonize_spark.operators import multimodal

    pages = pages_from_documents(spark, sf_dir)
    return multimodal.sample_frames(multimodal.attach_media(pages))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordering is deliberate: the driver's CORRECTNESS artifact samples
    # a prefix of this registry, so the queries never yet captured in a
    # driver artifact come FIRST -- the 8 round-5 additions lead, then
    # the round-4 priority block, then the round-3-verified 50 in
    # their original order (all 70 prior entries are green in
    # CORRECTNESS_full_r04.json).
    return {
        "entity_cooccurrence": q_entity_cooccurrence,  # round 5
        "robots_rules": q_robots_rules,  # round 5
        "robots_gate": q_robots_gate,  # round 5
        "docs_quality_threshold": q_quality_threshold,  # round 5
        "docs_length_histogram": q_length_histogram,  # round 5
        "url_blocklist": q_url_blocklist,  # round 5
        "docs_temperature_sample": q_temperature_sample,  # round 5
        "dedup_incremental": q_incremental_dedup,  # round 5
        "media_ahash": q_media_ahash,  # round 5
        "media_ahash_near_dups": q_media_ahash_near_dups,  # round 5
        "docs_bpe_merges": q_bpe_merges,  # round 5
        "docs_inverted_index": q_inverted_index,  # round 5
        "docs_line_filter": q_line_filter,  # round 5
        "docs_bigram_ppl": q_bigram_ppl,  # round 5
        "docs_source_profile": q_source_profile,  # round 5
        "dedup_containment_pairs": q_containment_pairs,  # round 5
        "docs_nfc_profile": q_nfc_profile,  # round 5
        "emb_kmeans_quantized": q_kmeans_quantized,  # round 5
        "docs_tfidf_keywords": q_tfidf_keywords,  # round 5
        "docs_unigram_ppl": q_unigram_ppl,  # round 5
        "dedup_duplicate_spans": q_duplicate_spans,  # round 5
        "dedup_span_stats": q_duplicate_span_stats,  # round 5
        "dedup_remove_spans": q_remove_duplicate_spans,  # round 5
        "url_canonicalize": q_url_canonicalize,  # round 5
        "url_dedup": q_url_dedup,  # round 5
        "docs_dsir_weights": q_dsir_weights,  # round 5
        "docs_quality_gate": q_quality_gate,  # round 5
        "docs_gate_histogram": q_gate_histogram,  # round 5
        "docs_build_vocab": q_build_vocab,  # round 5
        "docs_oov_stats": q_oov_stats,  # round 5
        "events_asof_orders": q_events_asof_orders,
        "events_close_pairs": q_events_close_pairs,
        "lineitem_quantiles": q_lineitem_quantiles,
        "events_pivot": q_events_pivot,
        "orders_cube": q_orders_cube,
        "customers_above_nation_avg": q_customers_above_nation_avg,
        "embedding_norms": q_embedding_norms,
        "entity_sharded_link": q_entity_sharded_link,
        "entity_components": q_entity_components,
        "entity_pagerank": q_entity_pagerank,
        "events_user_rolling": q_events_user_rolling,
        "text_word_udtf": q_text_word_udtf,
        "docs_geo_mean": q_docs_geo_mean,
        "word_heavy_hitters": q_word_heavy_hitters,
        "lineitem_salted_join": q_lineitem_salted_join,
        "local_supplier_volume": q_local_supplier_volume,
        "canonize_incremental": q_canonize_incremental,
        "ann_ivf_trained_topk": q_ann_ivf_trained,  # new in round 4
        "text_repetition": q_text_repetition,  # new in round 4
        "semantic_dedup": q_semantic_dedup,  # new in round 4
        "dedup_exact": q_dedup_exact,
        "paragraph_dedup": q_paragraph_dedup,
        "boilerplate_segments": q_boilerplate_segments,
        "remove_boilerplate": q_remove_boilerplate,
        "dedup_jaccard_pairs": q_dedup_jaccard,
        "dedup_minhash_signatures": q_dedup_minhash_signatures,
        "dedup_lsh_candidates": q_dedup_lsh_candidates,
        "dedup_lsh_verified": q_dedup_lsh_verified,
        "dedup_clusters": q_dedup_clusters,
        "dedup_simhash": q_dedup_simhash,
        "text_lang_id": q_text_lang_id,
        "text_quality": q_text_quality,
        "text_token_counts": q_text_token_counts,
        "text_fingerprint": q_text_fingerprint,
        "docs_chunks": q_docs_chunks,
        "text_redact_pii": q_text_redact_pii,
        "docs_stratified_sample": q_docs_stratified_sample,
        "docs_source_mix": q_docs_source_mix,
        "docs_decontaminate": q_docs_decontaminate,
        "docs_pack_sequences": q_docs_pack_sequences,
        "ann_brute_force_topk": q_ann_brute_force,
        "ann_ivf_topk": q_ann_ivf,
        "ann_lsh_topk": q_ann_lsh,
        "ann_lsh_banded_topk": q_ann_lsh_banded,
        "embedding_near_dups": q_embedding_near_dups,
        "embedding_near_dups_banded": q_embedding_near_dups_banded,
        "media_features": q_media_features,
        "media_frames": q_media_frames,
        "triples_extract": q_triples_extract,
        "dedup_quads": q_dedup_quads,
        "first_degree_hash": q_first_degree_hash,
        "first_degree_hash_exact": q_first_degree_hash_exact,
        "hash_groups": q_hash_groups,
        "issue_ids": q_issue_ids,
        "relabel_quads": q_relabel,
        "canonical_document": q_canonical_document,
        "canonize_rdfc10": q_canonize_rdfc10,
        "entity_degrees": q_entity_degrees,
        "entity_canonical_map": q_entity_canonical_map,
        "entity_canonicalized_quads": q_entity_canonicalized_quads,
        "lineitem_pricing_summary": q_lineitem_pricing_summary,
        "orders_customer_join": q_orders_customer_join,
        "orders_rollup": q_orders_rollup,
        "customer_set_ops": q_customer_set_ops,
        "top_parts_by_size": q_top_parts_by_size,
        "customers_without_orders": q_customers_without_orders,
        "events_sessions": q_events_sessions,
        "events_json_props": q_events_json_props,
        "events_hourly": q_events_hourly,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "dedup_exact": oracle_ops.exact_dedup(),
        "dedup_jaccard_pairs": oracle_ops.jaccard_pairs(threshold=0.5),
        "dedup_minhash_signatures": oracle_ops.minhash_signatures(),
        "dedup_lsh_candidates": oracle_ops.lsh_candidates(),
        "dedup_lsh_verified": oracle_ops.lsh_verified_pairs(threshold=0.5),
        "dedup_clusters": oracle_ops.dedup_clusters(threshold=0.5),
        "dedup_simhash": oracle_ops.simhash(),
        "dedup_duplicate_spans": oracle_ops.duplicate_spans(),
        "url_canonicalize": oracle_ops.url_canonicalize(),
        "url_dedup": oracle_ops.url_dedup(),
        "docs_dsir_weights": oracle_ops.dsir_weights(),
        "docs_unigram_ppl": oracle_ops.unigram_ppl(
            ref_predicate="lang = 'en'"
        ),
        "docs_tfidf_keywords": oracle_ops.tfidf_keywords(),
        "emb_kmeans_quantized": oracle_ops.kmeans_quantized(),
        "docs_nfc_profile": oracle_ops.nfc_profile(),
        "dedup_containment_pairs": oracle_ops.containment_pairs(),
        "docs_source_profile": oracle_ops.source_profile(),
        "docs_line_filter": oracle_ops.line_filter(),
        "docs_inverted_index": oracle_ops.inverted_index(),
        "docs_bpe_merges": oracle_ops.bpe_merges(),
        "media_ahash": oracle_ops.media_ahash(),
        "dedup_incremental": oracle_ops.incremental_dedup(),
        "docs_temperature_sample": oracle_ops.temperature_sample(),
        "entity_cooccurrence": oracles.entity_cooccurrence(),
        "docs_length_histogram": oracle_ops.length_histogram(),
        "url_blocklist": oracle_ops.url_blocklist(),
        "robots_rules": oracle_ops.robots_rules(),
        "robots_gate": oracle_ops.robots_gate(),
        "docs_quality_threshold": oracle_ops.quality_threshold(),
        "media_ahash_near_dups": oracle_ops.ahash_near_dups(),
        "docs_bigram_ppl": oracle_ops.bigram_ppl(
            ref_predicate="lang = 'en'"
        ),
        "dedup_span_stats": oracle_ops.duplicate_span_stats(),
        "dedup_remove_spans": oracle_ops.remove_duplicate_spans(),
        "docs_quality_gate": oracle_ops.quality_gate(),
        "docs_gate_histogram": oracle_ops.gate_histogram(),
        "docs_build_vocab": oracle_ops.build_vocab(),
        "docs_oov_stats": oracle_ops.oov_stats(),
        "paragraph_dedup": oracle_ops.paragraph_dedup(),
        "boilerplate_segments": oracle_ops.boilerplate_segments(),
        "remove_boilerplate": oracle_ops.remove_boilerplate(),
        "text_lang_id": oracle_ops.lang_id(),
        "text_quality": oracle_ops.quality_score(),
        "text_token_counts": oracle_ops.token_counts(),
        "text_fingerprint": oracle_ops.fingerprint(),
        "text_repetition": oracle_ops.repetition_stats(),
        "docs_chunks": oracle_ops.chunk_documents(),
        "text_redact_pii": oracle_ops.redact_pii(),
        "docs_stratified_sample": oracle_ops.stratified_sample(SAMPLE_RATES),
        "docs_source_mix": oracle_ops.source_mix_quota(MIX_QUOTAS),
        "docs_decontaminate": oracle_ops.decontaminate(),
        "docs_pack_sequences": oracle_ops.pack_sequences(),
        "ann_brute_force_topk": oracle_ops.brute_force_topk(),
        "ann_ivf_topk": oracle_ops.ivf_topk(),
        "ann_ivf_trained_topk": oracle_ops.ivf_trained_topk(),
        "semantic_dedup": oracle_ops.semantic_dedup(),
        "ann_lsh_topk": oracle_ops.lsh_ann_topk(),
        "ann_lsh_banded_topk": oracle_ops.lsh_ann_topk_banded(
            n_tables=3, bits=6
        ),
        "embedding_near_dups": oracle_ops.embedding_near_dup_pairs(),
        "embedding_near_dups_banded":
            oracle_ops.embedding_near_dup_pairs_banded(
                threshold=0.2, n_tables=3, bits=6
            ),
        "media_features": oracle_ops.media_features(),
        "media_frames": oracle_ops.media_frames(),
        "triples_extract": oracles.triples(),
        "dedup_quads": oracles.dedup(),
        "first_degree_hash": oracles.first_degree_hash(),
        "first_degree_hash_exact": oracles.first_degree_hash_exact(),
        "hash_groups": oracles.hash_groups(),
        "issue_ids": oracles.issue_ids(),
        "relabel_quads": oracles.relabel(),
        "canonical_document": oracles.canonical_document(),
        # canonize_rdfc10 / canonize_incremental: PARTIAL oracles over
        # the kernel's SQL-expressible outputs (n_quads, n_bnodes,
        # input_hash, recomputed); the canonical serialization itself is
        # byte-checked against reference-generated goldens in tests/.
        "canonize_rdfc10": oracles.canonize_partial(),
        "canonize_incremental": oracles.canonize_incremental_partial(),
        "entity_degrees": oracles.entity_degrees(),
        "entity_canonical_map": oracles.canonical_entity_map(),
        "entity_canonicalized_quads": oracles.entity_canonicalized_quads(),
        "lineitem_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   SUM(l_quantity) AS sum_qty,
                   SUM(l_extendedprice) AS sum_base_price,
                   SUM(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
                   AVG(l_quantity) AS avg_qty,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "orders_customer_join": """
            SELECT n_name,
                   COUNT(*) AS n_orders,
                   SUM(o_totalprice) AS total_price
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "orders_rollup": """
            SELECT COALESCE(o_orderstatus, 'ALL') AS status,
                   COALESCE(o_orderpriority, 'ALL') AS priority,
                   COUNT(*) AS n_orders,
                   SUM(o_totalprice) AS total_price
            FROM orders
            GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        """,
        "customer_set_ops": """
            WITH with_orders AS (
              SELECT DISTINCT c_custkey FROM customer
              JOIN orders ON o_custkey = c_custkey
            ),
            high_bal AS (
              SELECT c_custkey FROM customer WHERE c_acctbal > 5000
            )
            SELECT c_custkey, 'with_orders_and_high_balance' AS op
            FROM (SELECT * FROM with_orders INTERSECT
                  SELECT * FROM high_bal)
            UNION ALL
            SELECT c_custkey, 'high_balance_without_orders' AS op
            FROM (SELECT * FROM high_bal EXCEPT ALL
                  SELECT * FROM with_orders)
        """,
        "top_parts_by_size": """
            SELECT p_size, p_partkey, p_retailprice, rank FROM (
              SELECT p_size, p_partkey, p_retailprice,
                CAST(ROW_NUMBER() OVER (
                  PARTITION BY p_size
                  ORDER BY p_retailprice DESC, p_partkey ASC
                ) AS INT) AS rank
              FROM part
            ) WHERE rank <= 3
        """,
        "customers_without_orders": """
            SELECT c_custkey, c_name, c_acctbal FROM customer
            WHERE c_custkey NOT IN (
              SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
            )
        """,
        "events_sessions": """
            WITH gaps AS (
              SELECT user_id, event_id, ts, value,
                CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                     THEN 1 ELSE 0 END AS new_session
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            sess AS (
              SELECT *, SUM(new_session) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING
              ) AS session_idx
              FROM gaps
            )
            SELECT user_id,
                   CAST(session_idx AS BIGINT) AS session_idx,
                   COUNT(*) AS n_events,
                   MIN(ts) AS session_start,
                   MAX(ts) AS session_end,
                   ROUND(SUM(value), 4) AS session_value
            FROM sess GROUP BY user_id, session_idx
        """,
        "events_json_props": """
            SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10
                     AS k_mod,
                   COUNT(*) AS n,
                   MIN(CAST(json_extract_string(props, '$.k') AS INT))
                     AS min_k,
                   MAX(CAST(json_extract_string(props, '$.k') AS INT))
                     AS max_k
            FROM events
            GROUP BY CAST(json_extract_string(props, '$.k') AS INT) % 10
        """,
        "events_hourly": """
            SELECT date_trunc('hour', ts) AS hour,
                   event_type,
                   COUNT(*) AS n_events,
                   SUM(value) AS sum_value
            FROM events
            GROUP BY date_trunc('hour', ts), event_type
        """,
        "events_asof_orders": """
            WITH best AS (
              SELECT o_custkey, o_orderdate,
                     MAX(o_totalprice) AS ord_price
              FROM orders GROUP BY o_custkey, o_orderdate
            )
            SELECT e.event_id, e.user_id,
                   b.o_orderdate AS last_order_date,
                   ROUND(b.ord_price, 6) AS last_order_price
            FROM events e ASOF LEFT JOIN best b
              ON e.user_id = b.o_custkey AND e.ts >= b.o_orderdate
        """,
        "events_close_pairs": """
            SELECT a.user_id,
                   a.event_id AS event_a,
                   b.event_id AS event_b,
                   CAST(floor(epoch(b.ts)) - floor(epoch(a.ts)) AS BIGINT)
                     AS dt_seconds
            FROM events a JOIN events b
              ON a.user_id = b.user_id
             AND a.event_id < b.event_id
             AND abs(floor(epoch(a.ts)) - floor(epoch(b.ts))) <= 60
        """,
        "lineitem_quantiles": """
            SELECT l_returnflag,
                   ROUND(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
                   ROUND(quantile_cont(l_extendedprice, 0.50), 6) AS p50,
                   ROUND(quantile_cont(l_extendedprice, 0.75), 6) AS p75,
                   COUNT(*) AS n
            FROM lineitem GROUP BY l_returnflag
        """,
        "events_pivot": """
            SELECT user_id % 10 AS user_mod,
                   COUNT(*) FILTER (WHERE event_type = 'click')
                     AS click,
                   COUNT(*) FILTER (WHERE event_type = 'error')
                     AS error,
                   COUNT(*) FILTER (WHERE event_type = 'purchase')
                     AS purchase,
                   COUNT(*) FILTER (WHERE event_type = 'signup')
                     AS signup,
                   COUNT(*) FILTER (WHERE event_type = 'view')
                     AS view
            FROM events GROUP BY user_id % 10
        """,
        "orders_cube": """
            SELECT COALESCE(o_orderstatus, 'ALL') AS status,
                   COALESCE(o_orderpriority, 'ALL') AS priority,
                   COUNT(*) AS n_orders,
                   SUM(o_totalprice) AS total_price
            FROM orders
            GROUP BY CUBE (o_orderstatus, o_orderpriority)
        """,
        "customers_above_nation_avg": """
            SELECT c_custkey, c_nationkey,
                   ROUND(c_acctbal, 6) AS acctbal,
                   ROUND((SELECT AVG(c2.c_acctbal) FROM customer c2
                          WHERE c2.c_nationkey = c.c_nationkey), 6)
                     AS nation_avg
            FROM customer c
            WHERE c_acctbal > (SELECT AVG(c2.c_acctbal) FROM customer c2
                               WHERE c2.c_nationkey = c.c_nationkey)
        """,
        "embedding_norms": """
            SELECT vec_id, label,
                   len(embedding) AS dim,
                   ROUND(sqrt(list_sum(list_transform(
                     CAST(embedding AS DOUBLE[]), x -> x * x))), 6)
                     AS l2_norm
            FROM embeddings
        """,
        "entity_sharded_link": oracles.sharded_link(),
        "entity_components": oracles.entity_components(),
        "entity_pagerank": oracles.entity_pagerank(),
        "events_user_rolling": """
            SELECT event_id, user_id,
                   ROUND(SUM(value) OVER (
                     PARTITION BY user_id
                     ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                     RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
                   ), 6) AS rolling_value_1h
            FROM events
        """,
        "text_word_udtf": """
            SELECT doc_id, CAST(idx - 1 AS INT) AS word_idx,
                   words[idx] AS word
            FROM (SELECT doc_id, string_split(text, ' ') AS words
                  FROM documents WHERE doc_id % 25 = 0),
                 LATERAL (SELECT unnest(generate_series(1, len(words)))
                          AS idx) t
        """,
        "docs_geo_mean": """
            SELECT lang,
                   ROUND(exp(avg(ln(n_chars))), 6) AS geo_chars,
                   COUNT(*) AS n_docs
            FROM documents GROUP BY lang
        """,
        "word_heavy_hitters": """
            WITH words AS (
              SELECT unnest(string_split(text, ' ')) AS word
              FROM documents
            ),
            tot AS (SELECT COUNT(*) AS n FROM words)
            SELECT word, COUNT(*) AS n_occurrences
            FROM words, tot
            GROUP BY word, tot.n
            HAVING COUNT(*) > tot.n * 0.02
        """,
        "lineitem_salted_join": """
            SELECT o_orderpriority,
                   COUNT(*) AS n_items,
                   SUM(l_extendedprice) AS revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderpriority
        """,
        "local_supplier_volume": """
            SELECT n_name,
                   SUM(l_extendedprice * (1 - l_discount)) AS revenue,
                   COUNT(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE c_nationkey = s_nationkey
              AND r_name = 'ASIA'
              AND o_orderdate >= '1996-01-01'
              AND o_orderdate < '1998-01-01'
            GROUP BY n_name
        """,
    }
