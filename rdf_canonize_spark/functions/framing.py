"""Shared quad-row framing for the order-independent input content
hash.  ONE definition of the framed line, as Spark SQL text, with two
Catalyst consumers: the canonize stage
(``canon_stage.canonize_documents`` projects ``ROW_DIGEST`` next to
the quad columns, and its kernel only rolls the digests up) and the
relational aggregation (``incremental.input_quads_hash``).  Two
mirrors must stay byte-identical to it: the Python framing
(``canon_stage.input_hash_of_rows``, used by the ``.nq`` file kernel,
which parses its rows in Python, and by pure-Python callers) and the
DuckDB oracle (``oracles._FRAMED_LINE``).  The ``canonize_incremental``
driver check and the input-hash parity tests pin them together.

Framing: each field byte-length-prefixed (``<len>:<value>``, null ->
chr(0)), fields joined with chr(31) -- prefix-free, so separator
characters inside values cannot shift boundaries.
"""

from __future__ import annotations

from pyspark.sql import functions as F

QUAD_COLS = ["s_kind", "s", "p", "o_kind", "o",
             "o_datatype", "o_lang", "g_kind", "g"]

# SQL text, not Column-API expressions: one parse on the driver instead
# of one py4j call per expression node.
FRAMED_LINE = "concat_ws(chr(31), {})".format(", ".join(
    f"CASE WHEN CAST({c} AS STRING) IS NULL THEN chr(0) "
    f"ELSE concat(CAST(octet_length(CAST({c} AS STRING)) AS STRING), "
    f"':', CAST({c} AS STRING)) END"
    for c in QUAD_COLS
))

# the per-row digest the input hash aggregates (64 hex chars)
ROW_DIGEST = f"sha2({FRAMED_LINE}, 256)"


def input_hash_agg(qh_col="qh"):
    """Order-independent rollup of per-row digests: duplicates collapse
    (collect_set), digests sort (fixed-width hex), concatenation is
    hashed once more."""
    return F.sha2(
        F.concat_ws("", F.sort_array(F.collect_set(qh_col))), 256
    )
