"""N-Quads file source and canonical N-Quads sink.

Source: each ``.nq`` file is one RDF dataset (one document).  A
``binaryFile`` scan gives one (url, content) row per file; parsing
(``_parse_file``) has the reference parser's grammar and dedup
semantics (``rdfc.nquads.parse``), including the exact ``N-Quads parse
error on line N.`` text, which lands in an ``error`` column
(quarantine, not job failure).

* ``canonize_nquads_files`` -- the deploy path: one ``mapInArrow``
  stage parses each file once and canonizes it with the per-document
  kernel, straight from the file row.
* ``read_nquads`` -- the same parse exploded into the flattened
  quad-table schema, for callers that compose with the quad-table
  operators (``canonize_documents`` with other settings, relabel).

Sink: ``write_canonical_nquads`` writes each canonized document back
to text as a ``# <url>`` line followed by its canonical lines, one
file per partition and in no global order; quarantined documents are
skipped.

At scale: file-granular parallelism; the deploy path's only exchange
is a round-robin repartition of the file rows across cores.
"""

from __future__ import annotations

import re

import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..pipeline.canon_stage import (
    CANONICAL_SCHEMA,
    _canonize_rows_for_url,
    column_values,
    flush,
)
from ..rdfc import nquads
from ..rdfc.terms import LITERAL
from ..session import pin_archive_importers

QUAD_ROWS_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("s_kind", IntegerType(), True),
        StructField("s", StringType(), True),
        StructField("p", StringType(), True),
        StructField("o_kind", IntegerType(), True),
        StructField("o", StringType(), True),
        StructField("o_datatype", StringType(), True),
        StructField("o_lang", StringType(), True),
        StructField("g_kind", IntegerType(), True),
        StructField("g", StringType(), True),
        StructField("error", StringType(), True),
    ]
)


# Spark/Arrow strings are UTF-8: an unpaired surrogate (legal in the
# reference's UTF-16 JS strings, produced by \uD800-style escapes)
# cannot cross the Arrow boundary at all.  Documents containing one
# quarantine with a clear error instead of killing the task; the
# pure-Python API (rdfc.canonize) handles them reference-identically
# (pinned by the lone-surrogate-* goldens).
_SURROGATE_RE = re.compile(
    "[" + chr(0xD800) + "-" + chr(0xDFFF) + "]"
)
SURROGATE_ERROR = (
    "Unpaired surrogate in document: not representable in Spark "
    "string columns; canonize via the pure-Python API."
)


def _has_surrogate(dataset):
    for s, p, o, g in dataset:
        for v in (s[1], p[1], o[1], o[2], o[3], g[1]):
            if v and _SURROGATE_RE.search(v):
                return True
    return False


def _parse_file(content):
    """One file's text -> ``(rows, error)``.

    ``rows`` are the file's quad-table term rows, ordered as
    ``framing.QUAD_COLS`` (the tuples the canonize kernel takes); a
    whitespace-only file gives ``[]``.  A grammar error or an unpaired
    surrogate gives ``(None, <quarantine text>)``."""
    try:
        dataset = nquads.parse(content)
    except nquads.NQuadsParseError as e:
        return None, str(e)
    if _has_surrogate(dataset):
        return None, SURROGATE_ERROR
    return [
        (
            s[0], s[1], p[1], o[0], o[1],
            o[2] if o[0] == LITERAL else None,
            o[3] if o[0] == LITERAL else None,
            g[0], g[1],
        )
        for s, p, o, g in dataset
    ], None


def _files(spark, path):
    """One (url, content) row per file."""
    # binaryFile (not text/wholetext): represents 0-byte files and
    # avoids any line-splitting before the grammar sees the bytes
    return (
        spark.read.format("binaryFile")
        .load(path)
        .select(
            F.col("path").alias("url"),
            F.decode(F.col("content"), "UTF-8").alias("content"),
        )
    )


_QUAD_ROWS_ARROW = to_arrow_schema(QUAD_ROWS_SCHEMA)


def _parse_batch(batches):
    pin_archive_importers()
    for batch in batches:
        out = []
        for url, content in zip(column_values(batch.column(0)),
                                column_values(batch.column(1))):
            rows, error = _parse_file(content)
            if rows:
                out.extend((url, *row, None) for row in rows)
            else:  # error or empty file: one null-term marker row
                out.append((url, *[None] * 9, error))
        cols = list(zip(*out)) if out else [[]] * len(_QUAD_ROWS_ARROW)
        yield pa.RecordBatch.from_arrays(
            [pa.array(c, f.type) for c, f in zip(cols, _QUAD_ROWS_ARROW)],
            schema=_QUAD_ROWS_ARROW,
        )


def read_nquads(spark, path):
    """Read a directory/glob of .nq files into the quad table.

    Returns rows with ``error`` set (and term columns null) for files
    that fail the grammar -- quarantine, not job failure.  Whitespace-
    only files produce a single null-term marker row (canonical form
    '').  NOTE: Spark's file sources skip 0-byte files entirely; a
    truly empty file is invisible to any file-based scan.
    """
    return _files(spark, path).mapInArrow(_parse_batch, QUAD_ROWS_SCHEMA)


def quad_rows(parsed_df):
    """The clean quad table (drops error/empty marker rows)."""
    return parsed_df.filter(
        F.col("error").isNull() & F.col("s_kind").isNotNull()
    ).drop("error")


def parse_errors(parsed_df):
    return parsed_df.filter(F.col("error").isNotNull()).select(
        "url", "error"
    )


_NULL_RESULT = dict.fromkeys(CANONICAL_SCHEMA.fieldNames())


def _canonize_file_batch(max_work_factor):
    def canonize_files(batches):
        pin_archive_importers()
        for batch in batches:
            results = []
            for url, content in zip(column_values(batch.column(0)),
                                    column_values(batch.column(1))):
                rows, error = _parse_file(content)
                if error is None:
                    # an empty file's row set canonizes to '' with
                    # zero counts and sha256('') for both hashes
                    results.append(
                        _canonize_rows_for_url(url, rows, max_work_factor)
                    )
                else:
                    results.append({**_NULL_RESULT, "url": url,
                                    "error": error})
            yield flush(results)

    return canonize_files


def canonize_nquads_files(spark, path, max_work_factor=3):
    """End-to-end: .nq files -> per-file canonical N-Quads DataFrame in
    ``CANONICAL_SCHEMA`` (url, nquads, label_map, ..., error).

    One Python stage: ``binaryFile -> repartition(defaultParallelism)
    -> mapInArrow``.  A file row is already a whole document, so each
    file is parsed once and canonized by the same per-document kernel
    as the quad-table path (``_canonize_rows_for_url``) -- no quad rows
    cross into the JVM and no shuffle by url.  The round-robin
    repartition spreads expensive (poison) files across cores.  A file
    that fails the grammar or holds an unpaired surrogate becomes a
    row with only ``url`` and ``error`` set.  The rows never exist in
    Catalyst, so the kernel frames ``input_hash`` in Python
    (``canon_stage.input_hash_of_rows``); it equals the quad-table
    path's hash from Catalyst's per-row digests (pinned by
    tests/test_nquads_io.py)."""
    return (
        _files(spark, path)
        .repartition(spark.sparkContext.defaultParallelism)
        .mapInArrow(_canonize_file_batch(max_work_factor), CANONICAL_SCHEMA)
    )


def write_canonical_nquads(canonical_df, out_path):
    """Write per-document canonical N-Quads as text.

    Each document is a ``# <url>`` line followed by its canonical
    lines; quarantined documents (null ``nquads``) are skipped.  The
    output is one text file per partition, in no global order."""
    df = canonical_df.filter(F.col("nquads").isNotNull()).select(
        F.concat(
            F.lit("# "), F.col("url"), F.lit("\n"), F.col("nquads")
        ).alias("value")
    )
    df.write.mode("overwrite").text(out_path)
