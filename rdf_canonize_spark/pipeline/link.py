"""Entity linking + quad assembly.

Surface forms are linked against the gazetteer with a **broadcast**
join (the dictionary is a dimension table -- never shuffle the fact
side for it).  Known surfaces become NamedNode IRIs; unknown surfaces
become per-document blank nodes (label = surface form), which is what
gives each document's RDF graph blank-node structure for RDFC-1.0.

Quad-table schema (the flattened RDF dataset of SURVEY.md section 1.4)::

    url        string   owning document
    s_kind     int      0=NamedNode 1=BlankNode
    s          string
    p          string   predicate IRI
    o_kind     int      0=NamedNode 1=BlankNode 2=Literal
    o          string
    o_datatype string?  null => xsd:string convention
    o_lang     string?
    g_kind     int      0=NamedNode 1=BlankNode 3=DefaultGraph
    g          string   '' for the default graph
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..rdfc.terms import BLANK, DEFAULT_GRAPH, LITERAL, NAMED
from .gazetteer import PRED_NS, RELATIONS, predicate_iri, sql_values_gazetteer


def gazetteer_df(spark):
    """The built-in dictionary as an inline ``VALUES`` table: it plans as
    ``LocalTableScan``, so its broadcast runs no Python (a
    ``createDataFrame`` list is ``Scan ExistingRDD``, Python on every
    evaluation).  A production dictionary is a table read."""
    return spark.sql(
        f"SELECT * FROM VALUES {sql_values_gazetteer()} AS t(surface, iri)"
    )


def link_mentions(mentions_df, gaz_df):
    """Left-broadcast-join both mention slots against the gazetteer."""
    gaz = broadcast(gaz_df)
    out = (
        mentions_df.join(
            gaz.select(
                F.col("surface").alias("s_surface"),
                F.col("iri").alias("s_iri"),
            ),
            "s_surface",
            "left",
        )
        .join(
            gaz.select(
                F.col("surface").alias("o_surface"),
                F.col("iri").alias("o_iri"),
            ),
            "o_surface",
            "left",
        )
    )
    return out


def build_quads(pages_df, gaz_df):
    """pages -> quads: extraction + linking + assembly + title quads.

    Statement and title quads come from ONE projection of the pages
    scan, so every url's quads live in the same partition with no
    shuffle: the explode is narrow and the gazetteer joins are
    broadcasts.  The canonize stage can then use its zero-shuffle
    strategy.  The statements are detected with the same Catalyst
    regexp as ``extract.extract_mentions``, plus one title marker row
    per page.
    """
    from .extract import STATEMENT_PATTERN

    # one row-set: exploded statements plus a title marker row per page
    marker = F.array(F.lit("__TITLE__"))
    stmts = pages_df.select(
        "url",
        F.explode(
            F.concat(
                F.regexp_extract_all(
                    "text", F.lit(STATEMENT_PATTERN), F.lit(1)
                ),
                marker,
            )
        ).alias("stmt"),
    )
    parts = F.split(F.col("stmt"), " ")
    mentions = stmts.select(
        "url",
        (F.col("stmt") == "__TITLE__").alias("is_title"),
        # F.get tolerates the 1-token marker row (ANSI mode)
        F.get(parts, 0).alias("s_surface"),
        F.get(parts, 1).alias("relation"),
        F.get(parts, 2).alias("o_surface"),
    )
    linked = link_mentions(mentions, gaz_df)
    rel_map = F.create_map(
        *[x for r in RELATIONS for x in (F.lit(r), F.lit(predicate_iri(r)))]
    )
    langstring = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
    return linked.select(
        "url",
        F.when(F.col("is_title"), F.lit(NAMED))
        .when(F.col("s_iri").isNotNull(), F.lit(NAMED))
        .otherwise(F.lit(BLANK))
        .alias("s_kind"),
        F.when(F.col("is_title"), F.col("url"))
        .otherwise(F.coalesce("s_iri", "s_surface"))
        .alias("s"),
        F.when(F.col("is_title"), F.lit(PRED_NS + "title"))
        .otherwise(rel_map[F.col("relation")])
        .alias("p"),
        F.when(F.col("is_title"), F.lit(LITERAL))
        .when(F.col("o_iri").isNotNull(), F.lit(NAMED))
        .otherwise(F.lit(BLANK))
        .alias("o_kind"),
        F.when(
            F.col("is_title"),
            F.concat(F.lit("Page "), F.substring("url", -12, 12)),
        )
        .otherwise(F.coalesce("o_iri", "o_surface"))
        .alias("o"),
        F.when(F.col("is_title"), F.lit(langstring))
        .cast("string")
        .alias("o_datatype"),
        F.when(F.col("is_title"), F.lit("en")).cast("string").alias("o_lang"),
        F.lit(DEFAULT_GRAPH).alias("g_kind"),
        F.lit("").alias("g"),
    )
