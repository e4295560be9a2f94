"""Exact distributed heavy hitters: SpaceSaving candidates + recount.

At 100 TB the first question before any keyed shuffle is "which keys
are hot?" (they decide salting factors and broadcast eligibility).
Exact global counts of every key cost a full shuffle of the corpus;
this operator finds all keys with frequency > n * threshold EXACTLY
in TWO passes over the data:

1. per-partition SpaceSaving sketch with k = ceil(1/threshold)
   counters (``mapInPandas``, zero shuffle).  SpaceSaving guarantees
   any item with partition count > n_p/k is in the final table; a
   global heavy hitter has count > n*threshold >= n/k, so it exceeds
   n_p/k in at least one partition -- the candidate union is a strict
   superset of the true heavy hitters.  The SAME pass emits each
   partition's row count (one extra row per partition), so the global
   total needs no separate ``df.count()`` scan.
2. exact recount of candidates only: broadcast semi-join (the
   candidate set is <= k per partition) + groupBy over the filtered
   rows, then the global threshold filter.  The shuffle touches only
   rows whose key is a candidate, not the corpus.

The sketch output (<= k+1 rows per partition) is eagerly
checkpointed, so deriving candidates and the total from it re-reads a
tiny local frame, not the corpus.  Result is exact (not approximate),
so it carries a plain SQL oracle.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..session import pin_archive_importers


def _spacesaving_partition(col, k):
    def sketch(batches):
        pin_archive_importers()
        counters = {}
        n_rows = 0
        for pdf in batches:
            n_rows += len(pdf)
            # batch pre-aggregation: one weighted insert per distinct
            # value per Arrow batch, not per row
            for v, c in pdf[col].value_counts().items():
                if v in counters:
                    counters[v] += c
                elif len(counters) < k:
                    counters[v] = c
                else:
                    vm = min(counters, key=counters.get)
                    m = counters.pop(vm)
                    counters[v] = m + c
        # candidate rows and the one partition-total row are emitted as
        # SEPARATE frames: a None sentinel inside the key column would
        # make pandas coerce int64 keys to float64, silently corrupting
        # values above 2^53 before the exact recount join
        yield pd.DataFrame(
            {
                col: list(counters.keys()),
                "__partition_rows": [None] * len(counters),
            }
        )
        yield pd.DataFrame({col: [None], "__partition_rows": [n_rows]})

    return sketch


def heavy_hitters(df, col, threshold):
    """All values of ``col`` with count > ``n_total * threshold``,
    with their exact counts.  Two passes over the data, one shuffle
    over only the candidate-keyed rows; the total row count is folded
    into the sketch pass (no third scan).

    PRECONDITION: ``col`` must be non-null (a null-keyed row can never
    be reported).  This is structural, not incidental: pandas
    ``value_counts`` drops nulls in the sketch, and NULL in the key
    column is reserved as the partition-total sentinel row.  NULL rows
    DO count toward ``n_total`` (the denominator), they just cannot
    appear as a hitter -- a column whose hot key is NULL (e.g. a
    mostly-unjoined left join) needs a separate
    ``filter(col.isNull()).count()`` check, or map nulls to an
    explicit sentinel value before calling."""
    k = int(math.ceil(1.0 / threshold))
    field = df.schema[col]
    out_schema = StructType(
        [
            StructField(col, field.dataType, True),
            StructField("__partition_rows", LongType(), True),
        ]
    )
    sk = (
        df.select(col)
        .mapInPandas(_spacesaving_partition(col, k), out_schema)
        .localCheckpoint()  # tiny (<= k+1 rows/partition); eval once
    )
    candidates = (
        sk.filter(F.col(col).isNotNull()).select(col).distinct()
    )
    total = sk.agg(
        F.coalesce(F.sum("__partition_rows"), F.lit(0)).alias("__n_total")
    )
    return (
        df.join(F.broadcast(candidates), col, "left_semi")
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .crossJoin(F.broadcast(total))
        .filter(
            F.col("n_occurrences")
            > F.col("__n_total").cast("double") * F.lit(threshold)
        )
        .drop("__n_total")
    )
