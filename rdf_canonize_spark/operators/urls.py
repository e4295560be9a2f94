"""URL canonicalization + URL-level dedup for crawl corpora.

Common-Crawl-style pipelines dedup fetches by CANONICAL URL before any
content hashing: the same page is crawled as ``http://`` and
``https://``, with and without ``www.``, with tracking params
(``utm_*``, ``fbclid``...), fragments, default ports, reordered query
strings and trailing slashes.  ``canonical_urls`` folds all of those
into a SURT-form key (Sort-friendly URI Reordering Transform, the
form CC's own index uses: reversed host labels + ``)`` + path +
sorted surviving query), and ``url_dedup`` groups on it.

Engine parity notes (the oracle twin is
``oracles.url_canonicalize``/``oracles.url_dedup``):
* every regex is ANCHORED (single possible match) because Spark's
  ``regexp_replace`` replaces all matches while DuckDB's replaces the
  first -- anchoring makes the two behaviors identical;
* the param filter runs inside a Spark SQL lambda (``filter(...)``)
  and a DuckDB ``list_filter`` with the same predicate text;
* everything is Catalyst-side (no UDFs): at 100 TB canonicalization
  is a narrow projection and the dedup is one uniform-key groupBy.
"""

from __future__ import annotations

from pyspark.sql import functions as F

# dropped query parameters: exact keys + the utm_ prefix family
TRACKING_KEYS = ("fbclid", "gclid", "msclkid", "ref")
TRACKING_PREFIX = "utm_"

# grouping width for the synthetic crawl corpus (see crawl_urls)
URL_BLOCK = 7


def crawl_urls(spark, sf_dir):
    """Deterministic messy-URL corpus over the documents table: each
    doc gets a URL whose scheme case, ``www.``, host case, default
    port, trailing slash, tracking params, query order and fragment
    all vary by ``doc_id`` residues, while the canonical target is
    shared within a block of ``doc_id // 7`` -- a synthetic recrawl
    (each block collapses to two canonical URLs: the with- and
    without-``sort`` query variants).  Pure SQL construction so the
    DuckDB oracle rebuilds it bit-identically."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id"
    )
    d = F.col("doc_id")
    block = F.floor(d / URL_BLOCK).cast("bigint")
    page = (block % 3).cast("string")
    url = F.concat(
        F.when(d % 2 == 0, F.lit("http://")).otherwise(F.lit("HTTPS://")),
        F.when(d % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.concat(F.lit("site"), (block % 20).cast("string")),
        F.when(d % 4 == 0, F.lit(".Example.COM")).otherwise(
            F.lit(".example.com")
        ),
        F.when(d % 5 == 0, F.lit(":80")).otherwise(F.lit("")),
        F.lit("/articles/"),
        block.cast("string"),
        F.when(d % 6 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            d % 4 == 0,
            F.concat(
                F.lit("?utm_source=feed&ref=rss&page="), page
            ),
        )
        .when(d % 4 == 1, F.concat(F.lit("?page="), page,
                                   F.lit("&sort=new")))
        .when(d % 4 == 2, F.concat(F.lit("?sort=new&page="), page))
        .otherwise(F.concat(F.lit("?page="), page)),
        F.when(
            d % 6 == 0, F.concat(F.lit("#section-"), d.cast("string"))
        ).otherwise(F.lit("")),
    )
    return docs.select("doc_id", url.alias("url"))


def _canonical_expr():
    """The canonical-URL column expression over a column named
    ``url``.  Steps (each regex anchored; see module docstring):
    strip fragment -> strip scheme -> split authority / path?query ->
    lowercase host, drop userinfo + port + leading www. -> collapse
    trailing slashes ('' -> '/') -> drop tracking params, sort the
    rest -> SURT-reverse the host labels."""
    nofrag = F.regexp_replace(F.col("url"), "#.*$", "")
    rest = F.regexp_replace(nofrag, "^[a-zA-Z][a-zA-Z0-9+.-]*://", "")
    auth = F.regexp_extract(rest, "^[^/?]*", 0)
    pathq = F.substring(rest, F.length(auth) + 1, F.lit(2147483647))
    host = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.lower(auth), "^[^@]*@", ""),
            ":[0-9]*$",
            "",
        ),
        "^www\\.",
        "",
    )
    path = F.regexp_extract(pathq, "^[^?]*", 0)
    path_c = F.regexp_replace(path, "/+$", "")
    path_c = F.when(path_c == "", F.lit("/")).otherwise(path_c)
    q = F.when(
        F.length(pathq) > F.length(path),
        F.substring(pathq, F.length(path) + 2, F.lit(2147483647)),
    ).otherwise(F.lit(""))
    keys = ", ".join(f"'{k}'" for k in TRACKING_KEYS)
    kept = F.expr(
        "array_sort(filter(split(__q, '&'), p -> p <> '' AND NOT ("
        f"p LIKE '{TRACKING_PREFIX}%' "
        f"OR split_part(p, '=', 1) IN ({keys}))))"
    )
    surt = F.concat_ws(",", F.reverse(F.split(host, "\\.")))
    return q, kept, surt, path_c


def canonical_urls(df):
    """(all input columns, canonical_url): SURT-form canonical key.
    Narrow projection, zero shuffles, zero UDFs."""
    q, kept, surt, path_c = _canonical_expr()
    with_q = df.withColumn("__q", q)
    canon = F.concat(
        surt,
        F.lit(")"),
        path_c,
        F.when(
            F.size(F.col("__kept")) > 0,
            F.concat(F.lit("?"), F.concat_ws("&", F.col("__kept"))),
        ).otherwise(F.lit("")),
    )
    return (
        with_q.withColumn("__kept", kept)
        .withColumn("canonical_url", canon)
        .drop("__q", "__kept")
    )


def url_dedup(df):
    """Recrawl dedup groups: canonical URLs fetched more than once,
    with the fetch count and a deterministic keeper (min raw url --
    with a timestamp column the policy would be latest-crawl-wins;
    the corpus here has none).  One uniform-key groupBy."""
    canon = canonical_urls(df)
    return (
        canon.groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_fetches"),
            F.min("url").alias("keeper_url"),
        )
        .filter(F.col("n_fetches") > 1)
    )

