"""Plan-shape assertions (the 100 TB contract) + streaming ingest."""

import re

import pytest
from pyspark.sql import functions as F

from rdf_canonize_spark.pipeline.canon_stage import canonize_documents
from rdf_canonize_spark.pipeline.link import build_quads, gazetteer_df
from rdf_canonize_spark.pipeline.pages import synthesize_pages
from rdf_canonize_spark.plans import checks


def test_colocated_canonize_has_zero_shuffles(spark):
    pages = synthesize_pages(spark, 50)
    quads = build_quads(pages, gazetteer_df(spark))
    canon = canonize_documents(quads, max_work_factor=3)
    checks.assert_no_shuffle(canon, "colocated canonize")
    # generic strategy pays exactly one shuffle
    repart = canonize_documents(
        quads, max_work_factor=3, strategy="repartition"
    )
    assert checks.count_shuffles(repart) == 1


def test_deploy_runs_python_only_in_the_kernel(spark):
    """The runner's one-boundary claim: the deploy's canonize plan has
    exactly one Python stage (the ``MapInArrow`` kernel) and no
    ``ExistingRDD`` scan, whose every evaluation -- broadcasts included
    -- would run Python workers.  The projection feeding the kernel
    computes each row's input-hash digest (``sha2``) in the JVM, and
    the colocated plan has no shuffle.  The gazetteer is a JVM local
    relation holding exactly the known-entity dictionary."""
    from rdf_canonize_spark.pipeline.gazetteer import (
        KNOWN_SURFACES,
        entity_iri,
    )
    from rdf_canonize_spark.pipeline.runner import run_pipeline

    canon = run_pipeline(spark, synthesize_pages(spark, 50))["canonical"]
    canon.write.format("noop").mode("overwrite").save()
    plan = checks.executed_plan(canon)
    assert "ExistingRDD" not in plan, plan
    assert len(re.findall(r"\bMapInArrow\b", plan)) == 1, plan
    # below the kernel: its url sort, then the digest projection
    nodes = [line.lstrip(" :+-") for line in plan.splitlines()]
    below = nodes[next(i for i, n in enumerate(nodes)
                       if n.startswith("MapInArrow")) + 1:]
    assert below[0].startswith("Sort [url"), plan
    assert below[1].startswith("Project ["), plan
    assert re.search(r"\bsha2\(.* AS qh#", below[1]), plan
    assert checks.count_shuffles(canon) == 0, plan

    gaz = gazetteer_df(spark)
    gaz_plan = checks.executed_plan(gaz)
    assert "LocalTableScan" in gaz_plan
    assert "ExistingRDD" not in gaz_plan
    rows = [tuple(r) for r in gaz.collect()]
    assert len(rows) == 150
    assert sorted(rows) == sorted((s, entity_iri(s)) for s in KNOWN_SURFACES)


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.filter(F.col("l_quantity") > 40).select(
        "l_orderkey", "l_quantity"
    )
    pushed = checks.pushed_filters(q)
    assert any("l_quantity" in p for p in pushed), pushed
    schemas = checks.read_schema(q)
    # column pruning: scan must not read all 11 lineitem columns
    assert schemas and all("l_shipdate" not in s for s in schemas)


def test_global_window_detection(spark):
    """count_global_windows flags only UNPARTITIONED Window operators
    (round-4 verdict action #7: the plan audit fails on unfootnoted
    ones)."""
    from pyspark.sql import Window

    df = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(1.0)] * 4).alias("v"),
        (F.col("id") % 3).alias("k"),
    )
    part = df.withColumn(
        "rn", F.row_number().over(Window.partitionBy("k").orderBy("vec_id"))
    )
    assert checks.count_global_windows(part) == 0
    # partitionBy with NO orderBy also prints two plan groups -- must
    # not be mistaken for a global window (the false positive the
    # sort-marker disambiguation exists for)
    part_only = df.withColumn(
        "avg_v", F.avg("vec_id").over(Window.partitionBy("k"))
    )
    assert checks.count_global_windows(part_only) == 0
    glob = df.withColumn(
        "rn", F.row_number().over(Window.orderBy("vec_id"))
    )
    assert checks.count_global_windows(glob) == 1


def test_temporal_join_plan_shapes(spark, sf_dir):
    """The temporal operators must never degenerate to a per-key cross
    product: as-of is union + one window (key-partitioned exchanges
    only); the band join stays an equi-join (hash/broadcast), never
    BroadcastNestedLoopJoin/CartesianProduct."""
    from rdf_canonize_spark.operators import temporal

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")

    asof = temporal.asof_last_order(ev, orders)
    p = checks.executed_plan(asof)
    assert "Join" not in p, "as-of must be window-based, not a join"
    assert p.count("Window") >= 1
    # shuffles: one for the orders (key, ts) pre-agg, one on the key
    assert checks.count_shuffles(asof) <= 2, p

    band = temporal.close_event_pairs(ev, window_seconds=60)
    bp = checks.executed_plan(band)
    assert "BroadcastNestedLoopJoin" not in bp
    assert "CartesianProduct" not in bp
    assert "HashJoin" in bp or "SortMergeJoin" in bp, bp


def test_streaming_canonize_exactly_once(spark, tmp_path):
    from rdf_canonize_spark.streaming.ingest import start_canonize_stream

    in_dir = str(tmp_path / "pages_in")
    out_dir = str(tmp_path / "stream_out")
    synthesize_pages(spark, 40).repartition(8).write.parquet(in_dir)

    q = start_canonize_stream(spark, in_dir, out_dir)
    q.awaitTermination(timeout=300)

    got = spark.read.parquet(f"{out_dir}/canonical_nquads")
    assert got.select("url").distinct().count() == 40
    assert got.count() == 40  # exactly-once: no duplicate urls
    assert got.filter("error is not null").count() == 0

    # restart with no new files: nothing reprocessed
    q2 = start_canonize_stream(spark, in_dir, out_dir)
    q2.awaitTermination(timeout=300)
    assert spark.read.parquet(
        f"{out_dir}/canonical_nquads"
    ).count() == 40


def test_streaming_canonize_crash_replay_exactly_once(spark, tmp_path):
    """Failure injection: kill the canonize stream AFTER a batch's
    data write but BEFORE its checkpoint commit -- exactly the window
    where an append sink would double-write that batch on replay --
    then restart from the same checkpoint and assert exactly-once
    output (the replayed batch's commit renames over the directory the
    crashed attempt committed)."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from rdf_canonize_spark.streaming.ingest import start_canonize_stream

    in_dir = str(tmp_path / "pages_in")
    out_dir = str(tmp_path / "stream_out")
    synthesize_pages(spark, 40).repartition(8).write.parquet(in_dir)

    fired = {}

    def injector(batch_id):
        if batch_id >= 1 and not fired:
            fired["batch_id"] = batch_id
            raise RuntimeError("injected crash after batch write")

    q = start_canonize_stream(
        spark, in_dir, out_dir, fault_injector=injector
    )
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(timeout=300)
    assert fired, "injector never fired -- stream ran as one batch?"
    # the killed batch's data IS on disk (that's the hazard being
    # tested) while its checkpoint commit is not
    partial = spark.read.parquet(f"{out_dir}/canonical_nquads")
    assert partial.count() > 0

    q2 = start_canonize_stream(spark, in_dir, out_dir)
    q2.awaitTermination(timeout=300)
    got = spark.read.parquet(f"{out_dir}/canonical_nquads")
    assert got.count() == 40
    assert got.select("url").distinct().count() == 40
    assert got.filter("error is not null").count() == 0


def test_streaming_canonize_equals_batch_deploy(spark, tmp_path):
    """The stream commits like a batch deploy: every micro-batch is a
    ``write_batch`` commit under ``canonical_nquads/batch=<id>``, each
    url's canonical N-Quads equal a batch ``run_pipeline`` of the same
    pages, and the committed stream output is a resume record that
    ``resume_filter`` honours."""
    import os

    from rdf_canonize_spark.pipeline.materialize import resume_filter
    from rdf_canonize_spark.pipeline.runner import run_pipeline
    from rdf_canonize_spark.streaming.ingest import start_canonize_stream

    in_dir = str(tmp_path / "pages_in")
    out_dir = str(tmp_path / "stream_out")
    synthesize_pages(spark, 40).repartition(8).write.parquet(in_dir)
    pages = spark.read.parquet(in_dir)

    q = start_canonize_stream(spark, in_dir, out_dir)
    q.awaitTermination(timeout=300)

    root = f"{out_dir}/canonical_nquads"
    got = spark.read.parquet(root)
    batches = {r["batch"] for r in got.select("batch").distinct().collect()}
    assert len(batches) > 1, "stream ran as one micro-batch"
    assert sorted(os.listdir(root)) == sorted(f"batch={b}" for b in batches)

    streamed = {r["url"]: r["nquads"] for r in got.collect()}
    batch = {
        r["url"]: r["nquads"]
        for r in run_pipeline(spark, pages)["canonical"].collect()
    }
    assert len(streamed) == got.count() == 40
    assert streamed == batch
    assert resume_filter(spark, pages, out_dir).count() == 0


def test_streaming_watermark_windowed_agg(spark, tmp_path):
    """Watermarked window agg over the crawl stream: on-time windows
    finalize; a second batch of strictly-later events closes earlier
    windows (append mode emits only finalized windows)."""
    from rdf_canonize_spark.streaming.ingest import start_crawl_rate_stream

    in_dir = str(tmp_path / "pages_in")
    out_dir = str(tmp_path / "rate_out")
    # pages 0..99: warc_ts = epoch + k sec -> all within ~2 windows
    synthesize_pages(spark, 100).write.parquet(in_dir)
    q = start_crawl_rate_stream(spark, in_dir, out_dir,
                                window="1 minute", watermark="1 minute")
    q.awaitTermination(timeout=300)
    # batch 2: pages far in the future advance the watermark,
    # finalizing the first batch's windows
    far = synthesize_pages(spark, 50000).filter("k >= 49000")
    far.write.mode("append").parquet(in_dir)
    q2 = start_crawl_rate_stream(spark, in_dir, out_dir,
                                 window="1 minute", watermark="1 minute")
    q2.awaitTermination(timeout=300)
    got = spark.read.parquet(f"{out_dir}/crawl_rate")
    rows = got.collect()
    assert rows, "no finalized windows"
    # the first 100 pages span warc_ts epoch..epoch+99s = 2 windows,
    # each split by 4 langs -> 8 finalized groups summing to 100 pages
    early = [r for r in rows
             if r["window_start"].year == 2026 and r["window_start"].month == 1
             and r["window_start"].day == 1 and r["window_start"].hour == 0
             and r["window_start"].minute <= 1]
    assert sum(r["n_pages"] for r in early) == 100
    assert {r["lang"] for r in early} == {"en", "de", "fr", "es"}


def test_streaming_stream_stream_interval_join(spark, tmp_path):
    """Stream-stream inner join with watermarks + time-range bound:
    in-window fetch records join their page; a fetch outside the join
    window for the same url never appears (the range condition, not
    just the key, gates the join)."""
    from pyspark.sql import functions as F

    from rdf_canonize_spark.streaming.ingest import (
        start_fetch_join_stream,
    )

    pages_dir = str(tmp_path / "pages_in")
    fetch_dir = str(tmp_path / "fetch_in")
    out_dir = str(tmp_path / "join_out")
    pages = synthesize_pages(spark, 40)
    pages.write.parquet(pages_dir)
    base = pages.select("url", "warc_ts")
    in_window = base.select(
        "url",
        (F.col("warc_ts") + F.expr("interval 2 minutes"))
        .alias("fetch_ts"),
        F.lit(200).alias("status"),
    )
    out_of_window = base.select(
        "url",
        (F.col("warc_ts") + F.expr("interval 1 day"))
        .alias("fetch_ts"),
        F.lit(503).alias("status"),
    )
    in_window.unionByName(out_of_window).write.parquet(fetch_dir)

    q = start_fetch_join_stream(
        spark, pages_dir, fetch_dir, out_dir,
        watermark="30 minutes", join_window="10 minutes",
    )
    q.awaitTermination(timeout=300)
    got = spark.read.parquet(f"{out_dir}/fetch_join")
    rows = got.collect()
    assert len(rows) == 40  # one in-window fetch per page
    assert {r["status"] for r in rows} == {200}
    assert got.select("url").distinct().count() == 40
    # restart with no new files: exactly-once, nothing re-emitted
    q2 = start_fetch_join_stream(
        spark, pages_dir, fetch_dir, out_dir,
        watermark="30 minutes", join_window="10 minutes",
    )
    q2.awaitTermination(timeout=300)
    assert spark.read.parquet(f"{out_dir}/fetch_join").count() == 40
