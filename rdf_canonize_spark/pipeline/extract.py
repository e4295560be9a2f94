"""Vectorized triple extraction from page text.

Two detectors over the same statement pattern (tested equal):

* ``extract_mentions`` -- pure Catalyst: ``regexp_extract_all`` +
  ``explode`` + ``split``.  Whole-stage-codegen JVM path, and the one
  the pipeline runs: ``link.build_quads`` inlines the same regexp into
  its single projection, and ``entity_sharded_link`` calls this
  function.  Never burn Python cycles on what the JVM does vectorized.
* ``extract_mentions_arrow`` -- the scalar ``pandas_udf`` doing the
  same detection over ``pd.Series``, one regex pass per Arrow batch.
  It is the Arrow-batched mention detection of the north rule, tested
  equal to the Catalyst detector; it is not a pipeline hook.

Output schema (mentions): ``url, s_surface, relation, o_surface, stmt_idx``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..session import pin_archive_importers

# one statement: "KG: <s> <rel> <o> ."
STATEMENT_PATTERN = r"KG: (\S+ \S+ \S+) \."


def extract_mentions(pages_df):
    """JVM-side extraction: regexp over `text`, exploded to one row per
    statement.  Column pruning: only (url, text) are read upstream."""
    stmts = pages_df.select(
        "url",
        F.posexplode(
            F.regexp_extract_all(
                "text", F.lit(STATEMENT_PATTERN), F.lit(1)
            )
        ).alias("stmt_idx", "stmt"),
    )
    parts = F.split(F.col("stmt"), " ")
    return stmts.select(
        "url",
        parts.getItem(0).alias("s_surface"),
        parts.getItem(1).alias("relation"),
        parts.getItem(2).alias("o_surface"),
        "stmt_idx",
    )


def _detect_statements_udf():
    # built lazily: pandas_udf type parsing needs an active session
    @pandas_udf("array<string>")
    def detect(text: pd.Series) -> pd.Series:
        """Arrow-batched detector: one regex pass per batch."""
        pin_archive_importers()
        return text.str.findall(STATEMENT_PATTERN)

    return detect


def extract_mentions_arrow(pages_df):
    """Arrow-UDF extraction (same output as ``extract_mentions``)."""
    detect = _detect_statements_udf()
    stmts = pages_df.select(
        "url",
        F.posexplode(detect(F.col("text"))).alias("stmt_idx", "stmt"),
    )
    parts = F.split(F.col("stmt"), " ")
    return stmts.select(
        "url",
        parts.getItem(0).alias("s_surface"),
        parts.getItem(1).alias("relation"),
        parts.getItem(2).alias("o_surface"),
        "stmt_idx",
    )
