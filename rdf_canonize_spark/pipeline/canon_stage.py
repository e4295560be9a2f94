"""Per-document RDFC-1.0 canonicalization as a ``mapInArrow`` kernel.

``quads_df.select(...).sortWithinPartitions('url').mapInArrow(...)`` --
each document's RDF dataset canonicalizes independently and
partition-parallel.  This is the one stage that genuinely cannot be
expressed in DataFrame algebra: hash-n-degree-quads is sequential,
stateful, recursive, and data-dependent (see SURVEY.md O9), exactly
what a Python UDF is for.  Everything around it stays in Catalyst,
including each row's input-hash digest (``framing.ROW_DIGEST``,
projected next to the quad columns): the kernel only rolls a
document's digests up into its ``input_hash``.  Arrow columns become
Python values through numpy (``column_values``), not per-cell
``to_pylist``.  The ``.nq`` file source (``sources/nquads_io``) runs
the same per-document kernel and ``flush`` straight from its file
rows, since a file row is already a whole document; it frames the
input hash in Python (``input_hash_of_rows``), because its rows never
exist in Catalyst.

Scale properties:

* state is strictly per-document -- no global index, no driver collect;
* a poison document raises inside its own kernel call only; the error
  is caught and routed to the ``error`` column (quarantine), never
  failing the job or stalling an executor (work budget enforced by
  max_work_factor);
* output is a pure function of the document's rows -- content-
  deterministic under re-partitioning (all reference-visible orderings
  are sorted);
* document size is bounded upstream (documents are pages, not the
  corpus); ``spark.sql.execution.arrow.maxRecordsPerBatch`` caps Arrow
  batches, and a document straddling a batch boundary is carried into
  the next batch;
* a task's fixed Python cost is kept small: the partition function
  first calls ``session.pin_archive_importers``, so the tasks after
  the first in a reused Python worker (``spark.python.worker.reuse``,
  on by default) no longer re-read ``pyspark.zip`` and the
  ``spark-core`` jar when PySpark invalidates the import caches at
  task start.  The pin is exact: Spark's archives do not change while
  an executor runs, directory finders are still invalidated, and an
  archive put on ``sys.path`` later gets a fresh importer.
"""

from __future__ import annotations

import hashlib

import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from ..functions.framing import QUAD_COLS, ROW_DIGEST
from ..rdfc.canonize import RDFC10
from ..rdfc.terms import BLANK, DEFAULT_GRAPH, LITERAL, XSD_STRING
from ..session import pin_archive_importers

CANONICAL_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("nquads", StringType(), True),
        StructField("label_map", MapType(StringType(), StringType()), True),
        StructField("n_quads", IntegerType(), True),
        StructField("n_bnodes", IntegerType(), True),
        StructField("deep_iterations", LongType(), True),
        StructField("quads_hash", StringType(), True),
        StructField("error", StringType(), True),
        StructField("input_hash", StringType(), True),
    ]
)

# Python mirror of the order-independent input-content hash
# (functions/framing.py holds the Catalyst definition, shared with
# pipeline/incremental.input_quads_hash; the DuckDB oracle mirrors it
# too).  The quad-table kernel receives the per-row digests from
# Catalyst; this framing serves the .nq file kernel, which parses its
# rows in Python, and pure-Python callers:
# each field is byte-length-prefixed ("<len>:<value>", null -> chr(0)),
# fields joined with chr(31); the line digests are SHA-256 hex, and the
# document hash is SHA-256 over the sorted distinct digests.  Length
# prefixes make the framing prefix-free (a value containing chr(31) or
# chr(0) cannot shift field boundaries), and hashing lines before the
# order-independent aggregation removes cross-line ambiguity.
#
# ENFORCED (framing contract): kernel <-> relational input-hash parity
# holds even for UTF-16 surrogates.  Spark normalizes every string at
# DataFrame ingestion: EACH surrogate code point -- paired or not --
# becomes one U+FFFD (measured empirically: 'a\\ud800b' round-trips as
# 'a<U+FFFD>b' with octet_length 5, and an adjacent high+low pair
# becomes TWO U+FFFD, it does NOT recombine into an astral char), so
# the relational twin can only ever see the normalized form.
# ``_jvm_text`` applies the SAME normalization here before framing, so
# a dataset-input caller who computes a prior input_hash through the
# pure-Python kernel and later compares it against the relational
# ``input_quads_hash`` of the ingested rows gets byte-equal hashes --
# no silent ``recomputed=true`` flip (pinned by
# tests/test_pipeline_spark.py::test_lone_surrogate_input_hash_parity).
# Canonicalization itself is NOT normalized: the rdfc core preserves
# raw surrogates for byte-parity with the reference.
_SEP = chr(31)
_NULL = chr(0)


def _jvm_text(s):
    """Normalize a str exactly as Spark DataFrame ingestion does:
    each surrogate CODE POINT becomes one U+FFFD.  (Python strings
    carry surrogates only as individual code points -- the pickle
    transport encodes each as a separate 3-byte CESU-8 sequence and
    the JVM decoder substitutes one U+FFFD per sequence, measured
    empirically for both a lone surrogate and an adjacent
    high+low pair, which does NOT recombine.)  Well-formed strings
    return unchanged via the strict-encode fast path."""
    try:
        s.encode("utf-8")
        return s
    except UnicodeEncodeError:
        return "".join(
            chr(0xFFFD) if 0xD800 <= ord(c) <= 0xDFFF else c
            for c in s
        )


def input_hash_of_digests(digests):
    """Order-independent rollup of a document's per-row SHA-256 hex
    digests: duplicates collapse, the fixed-width digests sort and
    their concatenation is hashed once more."""
    return hashlib.sha256("".join(sorted(set(digests))).encode()).hexdigest()


def input_hash_of_rows(rows):
    """Order-independent content hash of a document's raw quad rows
    (pre-dedup; duplicate rows collapse at digest level), framed in
    Python exactly as ``framing.ROW_DIGEST`` frames them in Catalyst."""
    digests = []
    for row in rows:
        parts = []
        for v in row:
            if v is None:
                parts.append(_NULL)
            else:
                s = _jvm_text(str(v))
                parts.append("%d:%s" % (len(s.encode("utf-8")), s))
        digests.append(
            hashlib.sha256(_SEP.join(parts).encode("utf-8")).hexdigest()
        )
    return input_hash_of_digests(digests)


def rows_to_dataset(rows):
    """Quad-table rows -> quad tuples with per-graph first-seen dedup
    (matching the reference N-Quads parse path, lib/NQuads.js:185-202)."""
    dataset = []
    seen = set()
    for (s_kind, s, p, o_kind, o, o_datatype, o_lang, g_kind, g) in rows:
        if o_kind == LITERAL:
            dt = o_datatype if o_datatype is not None else XSD_STRING
            obj = (LITERAL, o, dt, o_lang if o_lang else None)
        else:
            obj = (int(o_kind), o, None, None)
        quad = (
            (int(s_kind), s, None, None),
            (0, p, None, None),
            obj,
            (int(g_kind), "" if g_kind == DEFAULT_GRAPH else g, None, None),
        )
        key = (quad[0], quad[1], quad[2], quad[3][1])
        if key not in seen:
            seen.add(key)
            dataset.append(quad)
    return dataset


OVERSIZED_PREFIX = "Document exceeds maximum quad count"


def _canonize_rows_for_url(url, rows, max_work_factor, doc_timeout_ms=0,
                           max_doc_quads=0,
                           message_digest_algorithm="sha256", *,
                           input_hash=None):
    """One document's rows (``QUAD_COLS``-ordered tuples) -> its
    ``CANONICAL_SCHEMA`` result dict.  ``input_hash``: the document's
    input hash when the caller already has it (the quad-table stage
    rolls it up from Catalyst's per-row digests); otherwise it is
    computed here from the rows."""
    if input_hash is None:
        input_hash = input_hash_of_rows(rows)
    if max_doc_quads and len(rows) > max_doc_quads:
        # Mega-document routing (SCALE.md): bound per-task memory by
        # refusing documents above the cap BEFORE materializing any
        # per-document state; ``requeue_oversized`` re-derives their
        # quads for a dedicated high-memory job.  Row count is
        # pre-dedup -- the cap is a memory bound, not a semantic one.
        # input_hash IS still computed (O(rows), no extra state): the
        # recrawl path can skip re-quarantining an unchanged oversized
        # document.
        return {
            "url": url,
            "nquads": None,
            "label_map": None,
            "n_quads": len(rows),
            "n_bnodes": None,
            "deep_iterations": 0,
            "quads_hash": None,
            "error": f"{OVERSIZED_PREFIX} ({len(rows)} > {max_doc_quads})",
            "input_hash": input_hash,
        }
    dataset = rows_to_dataset(rows)
    n_bnodes = len(
        {
            t[1]
            for q in dataset
            for t in (q[0], q[2], q[3])
            if t[0] == BLANK
        }
    )
    id_map = {}
    engine = RDFC10(
        canonical_id_map=id_map,
        max_work_factor=max_work_factor,
        timeout=doc_timeout_ms,
        message_digest_algorithm=message_digest_algorithm,
    )
    try:
        nquads = engine.main(dataset)
        error = None
        qh = hashlib.sha256(
            nquads.encode("utf-8", "surrogatepass")
        ).hexdigest()
    except Exception as e:  # budget/timeout -> quarantine row
        nquads, id_map, qh, error = None, None, None, str(e)
    return {
        "url": url,
        "nquads": nquads,
        "label_map": id_map,
        "n_quads": len(dataset),
        "n_bnodes": n_bnodes,
        "deep_iterations": engine.deep_iterations_used,
        "quads_hash": qh,
        "error": error,
        "input_hash": input_hash,
    }


def column_values(arr):
    """``arr.to_pylist()`` for a string or integer Arrow array, built
    through numpy: one C-level conversion per column instead of one
    Python scalar per cell.  An integer array with nulls keeps
    ``to_pylist``, because numpy would turn its values into floats and
    change their ``str`` framing."""
    if arr.null_count and pa.types.is_integer(arr.type):
        return arr.to_pylist()
    return arr.to_numpy(zero_copy_only=False).tolist()


_ARROW_SCHEMA = to_arrow_schema(CANONICAL_SCHEMA)


def flush(results):
    """Per-document result dicts (``_canonize_rows_for_url``'s return
    contract) -> one ``CANONICAL_SCHEMA`` Arrow batch: the output
    conversion of every canonize kernel."""
    arrays = []
    for field in _ARROW_SCHEMA:
        col = [r[field.name] for r in results]
        if field.name == "label_map":
            col = [None if m is None else list(m.items()) for m in col]
        arrays.append(pa.array(col, field.type))
    return pa.RecordBatch.from_arrays(arrays, schema=_ARROW_SCHEMA)


def make_canonize_arrow_fn(max_work_factor=3, doc_timeout_ms=0,
                           max_doc_quads=0,
                           message_digest_algorithm="sha256",
                           kernel_fn=None):
    """``mapInArrow`` kernel: pyarrow batches in and out, no pandas.

    Requires rows sorted by url within each partition and each url
    wholly contained in one partition.  A url whose rows straddle an
    Arrow-batch boundary is carried into the next batch, so batch
    boundaries never split a document's output.

    Batch columns: ``url``, the nine ``QUAD_COLS`` and ``qh``, the
    row's ``framing.ROW_DIGEST``.  The default kernel gets the
    document's ``input_hash`` rolled up from the ``qh`` digests; a
    ``kernel_fn`` is called with the six positional arguments and
    computes its own.  Columns convert with ``column_values`` and
    results leave through ``flush``.
    """
    n_cols = 1 + len(QUAD_COLS)

    def canonize_doc(url, rows, digests):
        if kernel_fn is not None:
            return kernel_fn(
                url, rows, max_work_factor, doc_timeout_ms, max_doc_quads,
                message_digest_algorithm,
            )
        return _canonize_rows_for_url(
            url, rows, max_work_factor, doc_timeout_ms, max_doc_quads,
            message_digest_algorithm,
            input_hash=input_hash_of_digests(digests),
        )

    def canonize_partition(batches):
        pin_archive_importers()
        cur_url = None
        cur_rows, cur_digests = [], []
        for batch in batches:
            urls = column_values(batch.column(0))
            if not urls:
                continue
            # zip of column lists builds all row tuples without a
            # per-cell Python loop
            rows = zip(*(column_values(batch.column(i))
                         for i in range(1, n_cols)))
            digests = column_values(batch.column(n_cols))
            results = []
            for u, row, d in zip(urls, rows, digests):
                if u != cur_url:
                    if cur_url is not None:
                        results.append(
                            canonize_doc(cur_url, cur_rows, cur_digests))
                    cur_url, cur_rows, cur_digests = u, [], []
                cur_rows.append(row)
                cur_digests.append(d)
            if results:
                yield flush(results)
        if cur_url is not None:
            yield flush([canonize_doc(cur_url, cur_rows, cur_digests)])

    return canonize_partition


def canonize_documents(
    quads_df,
    max_work_factor=3,
    strategy="colocated",
    doc_timeout_ms=0,
    max_doc_quads=0,
    message_digest_algorithm="sha256",
    kernel_fn=None,
):
    """quads -> canonical_nquads(url, nquads, label_map, ...).

    One path: ``select(url, QUAD_COLS, ROW_DIGEST) ->
    sortWithinPartitions('url') -> mapInArrow(make_canonize_arrow_fn)``;
    the per-row input-hash digest is computed in Catalyst, the kernel
    only rolls each document's digests up.  ``strategy`` only decides
    whether the input is hash-repartitioned by url first:

    * ``'colocated'`` (default) -- zero-shuffle.  Valid when each url's
      quads already live in one partition, which ``build_quads``
      guarantees (narrow explode + broadcast joins over one pages
      scan).  At 100 TB this saves the single biggest cost in the job:
      a full shuffle of the quad table.
    * ``'repartition'`` -- generic inputs: hash-repartition on url into
      ``defaultParallelism`` partitions first.  url is high-cardinality
      and uniform, so no skew handling is needed on this key.

    ``kernel_fn``: swap-in per-document canonicalization kernel -- the
    Spark counterpart of the reference's native-implementation
    delegation point (``lib/index.js:90-95,151-162``, where a compiled
    rdf-canonize-native can replace the JS algorithm).  Signature and
    return contract are ``_canonize_rows_for_url``'s six positional
    arguments (same ordered row tuples in, same CANONICAL_SCHEMA dict
    out, ``input_hash`` included); the callable is
    serialized to executors, so an accelerated implementation (e.g. a
    C/Rust extension imported inside the function) plugs in without
    touching the Spark plumbing.
    """
    if strategy == "repartition":
        df = quads_df.repartition(
            quads_df.sparkSession.sparkContext.defaultParallelism, "url"
        )
    elif strategy == "colocated":
        df = quads_df
    else:
        raise ValueError(f"unknown strategy: {strategy}")
    df = df.selectExpr("url", *QUAD_COLS, f"{ROW_DIGEST} AS qh")
    return df.sortWithinPartitions("url").mapInArrow(
        make_canonize_arrow_fn(max_work_factor, doc_timeout_ms,
                               max_doc_quads, message_digest_algorithm,
                               kernel_fn),
        CANONICAL_SCHEMA,
    )


def split_canonical(canonical_df):
    """(ok, quarantined) split of the canonize output on the error
    column -- ok rows feed materialization, quarantined rows feed the
    lineage/metrics tables and the rerun queues."""
    return (
        canonical_df.filter(F.col("error").isNull()),
        canonical_df.filter(F.col("error").isNotNull()),
    )


def requeue_oversized(quads_df, canonical_df):
    """Quads of documents quarantined as oversized, for the dedicated
    high-memory rerun (SCALE.md mega-document routing): the follow-up
    job calls ``canonize_documents`` on this output with a larger (or
    no) cap on bigger executors.  Broadcast left-semi join -- the
    oversized url set is tiny by construction."""
    urls = canonical_df.filter(
        F.col("error").startswith(OVERSIZED_PREFIX)
    ).select("url")
    return quads_df.join(F.broadcast(urls), "url", "left_semi")
