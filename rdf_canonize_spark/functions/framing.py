"""Shared quad-row framing for the order-independent input content
hash.  ONE definition, two consumers that must stay byte-identical:
the Python kernel (``canon_stage.input_hash_of_rows``) and the
relational aggregation (``incremental.input_quads_hash``); the DuckDB
oracle (``oracles._FRAMED_LINE``) mirrors it and the
``canonize_incremental`` driver check pins the parity.

Framing: each field byte-length-prefixed (``<len>:<value>``, null ->
chr(0)), fields joined with chr(31) -- prefix-free, so separator
characters inside values cannot shift boundaries.
"""

from __future__ import annotations

from pyspark.sql import functions as F

QUAD_COLS = ["s_kind", "s", "p", "o_kind", "o",
             "o_datatype", "o_lang", "g_kind", "g"]


def framed_field(c):
    col = F.col(c).cast("string")
    return F.when(col.isNull(), F.lit(chr(0))).otherwise(
        F.concat(F.octet_length(col).cast("string"), F.lit(":"), col)
    )


def framed_line(cols=None):
    """The framed quad line; sha2(framed_line(), 256) is the per-row
    digest the input hash aggregates."""
    return F.concat_ws(chr(31), *[framed_field(c)
                                  for c in (cols or QUAD_COLS)])


def input_hash_agg(qh_col="qh"):
    """Order-independent rollup of per-row digests: duplicates collapse
    (collect_set), digests sort (fixed-width hex), concatenation is
    hashed once more."""
    return F.sha2(
        F.concat_ws("", F.sort_array(F.collect_set(qh_col))), 256
    )
