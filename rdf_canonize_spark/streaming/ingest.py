"""Structured Streaming ingest for continuously-arriving pages.

The reference is strictly batch (SURVEY.md section 2.2) and the north
rule's resumability reads the committed batch directories, but a crawl
is naturally a stream: this module runs the SAME pipeline incrementally --
``readStream`` over a pages directory, each micro-batch is
``run_pipeline`` inside ``foreachBatch``, committed by the batch
deploy's ``write_batch`` into ``canonical_nquads/batch=<id>``; the
replay-safe rename plus Spark's streaming checkpoint give exactly-once
per-batch output.

``foreachBatch`` (not a continuous sink) because the canonize stage is
a grouped-map transform over a bounded batch -- each micro-batch is a
complete set of documents, so no watermark/state is needed: documents
are self-contained (url-keyed), the embarrassing-parallel case of
streaming.
"""

from __future__ import annotations

import os


PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def stream_pages(spark, in_dir):
    """File-source stream of pages (one micro-batch per trigger)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(in_dir)
    )


def start_crawl_rate_stream(spark, in_dir, out_dir, window="10 minutes",
                            watermark="30 minutes"):
    """Watermarked windowed aggregation over the crawl stream:
    pages-per-(window, lang) with late-data tolerance.

    ``warc_ts`` is the event time; rows later than the watermark past
    the max seen event time are dropped from their window (standard
    late-data semantics).  Append mode: a window emits once final.
    """
    from pyspark.sql import functions as F

    pages = stream_pages(spark, in_dir)
    agg = (
        pages.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "lang")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum(F.length("text")).alias("n_chars"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "lang",
            "n_pages",
            "n_chars",
        )
    )
    return (
        agg.writeStream.format("parquet")
        .option("path", os.path.join(out_dir, "crawl_rate"))
        .option(
            "checkpointLocation", os.path.join(out_dir, "_rate_checkpoint")
        )
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def start_canonize_stream(spark, in_dir, out_dir, max_work_factor=3,
                          fault_injector=None):
    """pages stream -> canonical N-Quads parquet, exactly-once.

    Each micro-batch is one ``run_pipeline`` deploy committed by
    ``write_batch`` into ``<out>/canonical_nquads/batch=<id>`` -- the
    same stage-then-rename commit and layout as a batch deploy, so
    ``resume_filter`` and whole-table reads see streamed and batch
    output alike.  ``foreachBatch`` is at-least-once per batch: a crash
    after the commit but before the streaming checkpoint commits
    replays the batch on restart with the same batch id and the same
    source offsets, hence the same documents, and its rename replaces
    the directory the crashed attempt committed instead of appending
    beside it.  The pages are not resume-filtered: a url crawled again
    in a later micro-batch is canonized again, into that batch.

    ``fault_injector``: test hook called with ``batch_id`` AFTER the
    batch's commit and BEFORE the checkpoint commit -- raising inside
    it simulates a crash in precisely that window
    (tests/test_plans_and_streaming.py kills batch 1 and asserts the
    restart produces exactly-once output).
    """
    from ..pipeline.materialize import write_batch
    from ..pipeline.runner import run_pipeline

    def process_batch(batch_df, batch_id):
        canonical = run_pipeline(spark, batch_df, max_work_factor)["canonical"]
        write_batch(canonical, out_dir, batch_id)
        if fault_injector is not None:
            fault_injector(batch_id)

    return (
        stream_pages(spark, in_dir)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(out_dir, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )


EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, "
    "event_type string, value double, props string"
)


def start_session_stream(spark, in_dir, out_dir, gap_seconds=1800,
                         watermark="1 hour"):
    """Custom stateful streaming operator: user sessionization via
    ``applyInPandasWithState`` (arbitrary per-key state + event-time
    timeout) -- the streaming twin of the batch ``events_sessions``
    query (lag + running sum).

    A session closes two ways:

    * a later event for the same user arrives more than ``gap_seconds``
      after the session's end -> the old session is emitted in that
      micro-batch (in-data gap);
    * no event arrives and the watermark passes
      ``session_end + gap_seconds`` -> the state times out
      (``EventTimeTimeout``) and the session is emitted then.

    Late events within the watermark still extend their session; later
    than the watermark they are dropped before the operator (standard
    late-data semantics).  State per key is four scalars, so state-store
    size is O(active users), not O(events) -- the property that makes
    this viable on an unbounded crawl/clickstream.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..session import pin_archive_importers

    events = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(in_dir)
        .withWatermark("ts", watermark)
    )

    out_type = (
        "user_id long, session_start timestamp, session_end timestamp, "
        "n_events long, session_value double"
    )
    state_type = "start_s double, end_s double, n long, v double"

    def sessionize(key, pdf_iter, state):
        pin_archive_importers()
        user = key[0]
        closed = []
        if state.hasTimedOut:
            closed.append(tuple(state.get))
            state.remove()
        else:
            cur = tuple(state.get) if state.exists else None
            parts = [pdf[["ts", "value"]] for pdf in pdf_iter]
            if parts:
                ev = pd.concat(parts).sort_values("ts")
                for ts, val in zip(ev["ts"], ev["value"]):
                    t = ts.timestamp()
                    if cur is None:
                        cur = (t, t, 1, float(val))
                    elif t - cur[1] > gap_seconds:
                        closed.append(cur)
                        cur = (t, t, 1, float(val))
                    else:
                        cur = (
                            cur[0],
                            max(cur[1], t),
                            cur[2] + 1,
                            cur[3] + float(val),
                        )
            if cur is not None:
                state.update(cur)
                state.setTimeoutTimestamp(
                    int((cur[1] + gap_seconds) * 1000)
                )
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user] * len(closed),
                    "session_start": [
                        pd.Timestamp(c[0], unit="s") for c in closed
                    ],
                    "session_end": [
                        pd.Timestamp(c[1], unit="s") for c in closed
                    ],
                    "n_events": [c[2] for c in closed],
                    "session_value": [round(c[3], 6) for c in closed],
                }
            )

    sessions = events.groupBy("user_id").applyInPandasWithState(
        sessionize,
        out_type,
        state_type,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )
    return (
        sessions.writeStream.format("parquet")
        .option("path", os.path.join(out_dir, "sessions"))
        .option(
            "checkpointLocation",
            os.path.join(out_dir, "_sessions_checkpoint"),
        )
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def start_dedup_stream(spark, in_dir, out_dir, watermark="1 hour"):
    """Streaming exact dedup of the event stream by event_id within
    the watermark (``dropDuplicatesWithinWatermark``): re-delivered
    events (at-least-once sources) are dropped as long as they arrive
    within the watermark delay; state per key expires with the
    watermark, so state size is bounded by the delay window, not the
    stream length.
    """
    events = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(in_dir)
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    return (
        events.writeStream.format("parquet")
        .option("path", os.path.join(out_dir, "deduped"))
        .option(
            "checkpointLocation",
            os.path.join(out_dir, "_dedup_checkpoint"),
        )
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def start_fetch_join_stream(spark, pages_dir, fetch_dir, out_dir,
                            watermark="30 minutes",
                            join_window="10 minutes"):
    """Stream-stream INNER JOIN with watermarks + a time-range
    condition: each crawled page joins the fetch-log record(s) for the
    same url whose ``fetch_ts`` falls in
    ``[warc_ts, warc_ts + join_window]``.

    Both sides carry watermarks and the join predicate bounds the
    event-time distance -- together they let Spark expire each side's
    buffered state (an unconstrained stream-stream join keeps state
    forever, the classic streaming footgun).  Append mode: a joined
    row emits once both watermarks pass its window.
    """
    from pyspark.sql import functions as F

    pages = (
        stream_pages(spark, pages_dir)
        .select("url", "warc_ts", "lang")
        .withWatermark("warc_ts", watermark)
        .alias("p")
    )
    fetches = (
        spark.readStream.schema(
            "url string, fetch_ts timestamp, status int"
        )
        .option("maxFilesPerTrigger", 4)
        .parquet(fetch_dir)
        .withWatermark("fetch_ts", watermark)
        .alias("f")
    )
    joined = pages.join(
        fetches,
        F.expr(
            "p.url = f.url AND "
            f"f.fetch_ts BETWEEN p.warc_ts AND "
            f"p.warc_ts + interval {join_window}"
        ),
    ).select(
        F.col("p.url").alias("url"),
        "warc_ts",
        "lang",
        "fetch_ts",
        "status",
    )
    return (
        joined.writeStream.format("parquet")
        .option("path", os.path.join(out_dir, "fetch_join"))
        .option(
            "checkpointLocation",
            os.path.join(out_dir, "_fetch_join_checkpoint"),
        )
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def start_url_dedup_stream(spark, in_dir, out_dir, watermark="1 hour"):
    """Streaming CANONICAL-URL ingest dedup: the crawl-frontier use of
    ``operators/urls.py`` -- a page re-fetched under a cosmetically
    different URL (scheme/www/port/fragment/tracking-param/query-order
    variants) is dropped at ingest as long as the duplicate arrives
    within the watermark delay.  ``canonical_urls`` is a pure Catalyst
    projection, so it composes with
    ``dropDuplicatesWithinWatermark`` unchanged; state is keyed by the
    canonical form and expires with the watermark (bounded by the
    delay window, not the stream length)."""
    from ..operators.urls import canonical_urls

    pages = stream_pages(spark, in_dir)
    deduped = (
        canonical_urls(pages)
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["canonical_url"])
    )
    return (
        deduped.writeStream.format("parquet")
        .option("path", os.path.join(out_dir, "url_deduped"))
        .option(
            "checkpointLocation",
            os.path.join(out_dir, "_url_dedup_checkpoint"),
        )
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
