"""Synthetic Common-Crawl-style pages (the north-rule input table).

Schema exactly per BASELINE.json ``input_hint``::

    pages(url string, warc_ts timestamp, html binary, text string,
          lang string)

Pages embed knowledge statements built deterministically from the doc
key ``k`` with *closed-form arithmetic* (mod/indexing only), so:

* the expected triples for any page are computable in pure SQL — the
  DuckDB oracle re-derives them without running the pipeline, giving a
  true end-to-end extraction check;
* generation is all Catalyst expressions (``sequence``/``transform``/
  ``element_at``) — no Python in the data path, so synthesizing 10^12
  rows is a ``spark.range`` away.

Statement i of page k (m = 1 + k % 5 statements)::

    s_idx = (k*7 + i*13) % 200
    r_idx = (k + i) % 8
    o_idx = (k*11 + i*17 + 3) % 200
    text fragment:  "KG: <surf[s_idx]> <rel[r_idx]> <surf[o_idx]> ."
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .gazetteer import sql_array_relations, sql_array_surfaces

# epoch 2026-01-01T00:00:00Z
_EPOCH = 1767225600

_LANGS = "array('en', 'de', 'fr', 'es')"


# upper bound of the per-page statement loop (m - 1), over the key {k}
_STATEMENTS_M_EXPR = "cast(pmod({k}, 5) as int)"
_HEAVY_STATEMENTS_M_EXPR = "15 + cast(pmod({k}, 8) as int)"


def _statements_sql(k, m_expr):
    """Spark SQL expression producing the concatenated statement text;
    ``m_expr`` is a statement-count template over ``{k}``."""
    surf = sql_array_surfaces()
    rel = sql_array_relations()
    m_expr = m_expr.format(k=k)
    return f"""
      array_join(
        transform(
          sequence(0, {m_expr}),
          i -> concat(
            'KG: ',
            element_at({surf}, cast(pmod({k} * 7 + i * 13, 200) as int) + 1),
            ' ',
            element_at({rel}, cast(pmod({k} + i, 8) as int) + 1),
            ' ',
            element_at({surf}, cast(pmod({k} * 11 + i * 17 + 3, 200) as int) + 1),
            ' .'
          )
        ),
        ' '
      )
    """


def _with_page_columns(df, k_col, base_text_col, lang_expr, m_expr):
    """Project the input_hint page schema from a key + base text."""
    stmts = _statements_sql(k_col, m_expr)
    return df.select(
        F.expr(
            f"concat('https://crawl.example.org/p/', "
            f"lpad(cast({k_col} as string), 12, '0'))"
        ).alias("url"),
        F.timestamp_seconds(F.expr(k_col) + F.lit(_EPOCH)).alias("warc_ts"),
        F.encode(
            F.concat(
                F.lit("<html><body><p>"),
                F.expr(base_text_col),
                F.lit(" "),
                F.expr(stmts),
                F.lit("</p></body></html>"),
            ),
            "UTF-8",
        ).alias("html"),
        F.concat(
            F.expr(base_text_col), F.lit(" "), F.expr(stmts)
        ).alias("text"),
        F.expr(lang_expr).alias("lang"),
    )


def _synthesize(spark, n_docs, partitions, m_expr):
    df = spark.range(
        0, n_docs, 1,
        partitions or spark.sparkContext.defaultParallelism,
    ).withColumnRenamed("id", "k")
    return _with_page_columns(
        df,
        "k",
        "concat('Synthetic crawl body for page ', cast(k as string), '.')",
        f"element_at({_LANGS}, cast(pmod(k, 4) as int) + 1)",
        m_expr,
    )


def synthesize_pages(spark, n_docs, partitions=None):
    """Pure-generator pages table: ``spark.range`` -> page columns.

    Scales to any row count without driver-side loops; used by the
    benchmark and the flagship entry query.
    """
    return _synthesize(spark, n_docs, partitions, _STATEMENTS_M_EXPR)


def synthesize_heavy_pages(spark, n_docs, partitions=None):
    """Benchmark corpus: like ``synthesize_pages`` but 16-23 statements
    per page (m = 16 + k % 8) plus the title, approximating
    content-dense pages.  Used for throughput/scaling runs where
    per-document canonicalization work should dominate transport; NOT
    oracle-checked (the oracle formula pins m = 1 + k % 5)."""
    return _synthesize(spark, n_docs, partitions, _HEAVY_STATEMENTS_M_EXPR)


def pages_from_documents(spark, sf_dir, min_parallelism=None):
    """Derive pages from the driver-provided documents table.

    Keeps the documents' natural-language body text (so text operators
    have realistic input) and appends the deterministic statements so
    extraction is oracle-checkable.

    ``min_parallelism``: scan-parallelism guard for KERNEL-bound
    consumers.  Parquet files split only at row-group boundaries, so a
    small-file table can scan into far fewer partitions than there are
    cores -- and every downstream narrow stage (extract -> link ->
    colocated canonize) inherits that single-task bottleneck, which
    starves the Python kernel specifically (relational consumers
    re-parallelize at their first shuffle anyway, and multi-scan
    consumers like the sharded join would pay the exchange once per
    scan).  When set and the scan under-parallelizes, ONE round-robin
    exchange of the raw pages (the narrowest frame in the pipeline,
    far cheaper than shuffling derived quads) restores parallelism; on
    a production-size table the scan already yields >= cores
    partitions and this is a no-op, keeping the canonize plan's
    zero-EXTRA-shuffle contract.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if min_parallelism and docs.rdd.getNumPartitions() < min_parallelism:
        docs = docs.repartition(min_parallelism)
    df = docs.select(
        F.col("doc_id").cast("long").alias("k"),
        F.col("text").alias("base_text"),
        F.col("lang").alias("doc_lang"),
    )
    return _with_page_columns(
        df, "k", "base_text", "doc_lang", _STATEMENTS_M_EXPR
    )
