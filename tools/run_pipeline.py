"""Cluster entry point for the KG-construction pipeline.

Deployed via spark-submit with the package zipped as --py-files::

    python3 -m zipfile -c /tmp/rdf_canonize_spark.zip rdf_canonize_spark
    spark-submit --master <cluster> \\
        --py-files /tmp/rdf_canonize_spark.zip \\
        tools/run_pipeline.py \\
        --pages-parquet <iceberg/parquet pages table> \\
        --out /path/to/output --batch-id 0

(or ``--synth-docs N`` / ``--sf-dir DIR`` for generated input).
Re-running with the same --out resumes past the urls already committed
under <out>/canonical_nquads.  With --out, the printed counts are the
ones observed during the write, so the kernel runs once.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__)
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--pages-parquet",
                     help="path to a pages table (input_hint schema)")
    src.add_argument("--sf-dir",
                     help="testdata dir; pages derived from documents")
    src.add_argument("--synth-docs", type=int,
                     help="generate N synthetic pages")
    src.add_argument("--heavy-docs", type=int,
                     help="generate N heavy synthetic pages (kgbench's "
                          "kg_heavy corpus; ~20 quads/doc)")
    p.add_argument("--out", help="output dir (enables checkpointed write)")
    p.add_argument("--batch-id", type=int, default=0)
    p.add_argument("--max-work-factor", type=float, default=3)
    p.add_argument("--master", default=None,
                   help="override master (default: spark-submit's)")
    p.add_argument("--partitions", type=int, default=None,
                   help="repartition pages (fixed task count across "
                        "parallelism levels for scaling runs)")
    p.add_argument("--runs", type=int, default=1,
                   help="repeat the job N times, report best sec "
                        "(steady-state; first run pays worker spin-up)")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession, functions as F

    if args.master:
        from rdf_canonize_spark.session import get_spark

        spark = get_spark(app_name="kg-pipeline", master=args.master)
    else:
        spark = SparkSession.builder.appName("kg-pipeline").getOrCreate()

    from rdf_canonize_spark.pipeline.pages import (
        pages_from_documents,
        synthesize_heavy_pages,
        synthesize_pages,
    )
    from rdf_canonize_spark.pipeline.runner import run_pipeline

    if args.pages_parquet:
        pages = spark.read.parquet(args.pages_parquet)
    elif args.sf_dir:
        pages = pages_from_documents(spark, args.sf_dir)
    elif args.heavy_docs:
        pages = synthesize_heavy_pages(
            spark, args.heavy_docs, partitions=args.partitions or 64
        )
    else:
        pages = synthesize_pages(spark, args.synth_docs)
    if args.partitions and not args.heavy_docs:
        pages = pages.repartition(args.partitions)

    runs = max(1, args.runs)
    if args.out and runs > 1:
        # checkpointed writes resume: a second run would process an
        # empty todo set and report 0 docs -- repeat only makes sense
        # for pure-compute scaling measurements
        runs = 1
    best = None
    stats = None
    for _ in range(runs):
        t0 = time.time()
        results = run_pipeline(
            spark,
            pages,
            max_work_factor=args.max_work_factor,
            out_dir=args.out,
            batch_id=args.batch_id,
        )
        if args.out:
            stats = results["written"]
        else:
            stats = results["canonical"].agg(
                F.count(F.lit(1)).alias("docs"),
                F.sum("n_quads").alias("quads"),
                F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0))
                .alias("errors"),
            ).collect()[0]
        sec = time.time() - t0
        best = sec if best is None else min(best, sec)
    out = {
        "docs": stats["docs"],
        "quads": stats["quads"],
        "errors": stats["errors"],
        "sec": round(best, 2),
        "runs": runs,
        "out_dir": args.out,
        "batch_id": args.batch_id,
    }
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
