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


def _sql_str(s):
    """``s`` as a Spark SQL string literal (backslashes and quotes
    escaped: the SQL parser unescapes both)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def build_quads(pages_df, gaz_df):
    """pages -> quads: extraction + linking + assembly + title quads.

    Statement and title quads come from ONE projection of the pages
    scan, so every url's quads live in the same partition with no
    shuffle: the explode is narrow and the gazetteer joins are
    broadcasts.  The canonize stage can then use its zero-shuffle
    strategy.  The statements are detected with the same Catalyst
    regexp as ``extract.extract_mentions``, plus one title marker row
    per page.

    The expressions are SQL text (``selectExpr``): the driver builds
    each projection in one call instead of one py4j round trip per
    Column node, and the optimized and physical plans are the same as
    those of the equivalent Column-API expressions.
    """
    from .extract import STATEMENT_PATTERN

    # one row-set: exploded statements plus a title marker row per page
    stmts = pages_df.selectExpr(
        "url",
        "explode(concat(regexp_extract_all(text, "
        f"{_sql_str(STATEMENT_PATTERN)}, 1), array('__TITLE__'))) AS stmt",
    )
    # get() tolerates the 1-token marker row (ANSI mode)
    mentions = stmts.selectExpr(
        "url",
        "stmt = '__TITLE__' AS is_title",
        *[f"get(split(stmt, ' '), {i}) AS {name}"
          for i, name in enumerate(("s_surface", "relation", "o_surface"))],
    )
    gaz = broadcast(gaz_df)
    linked = mentions.join(
        gaz.selectExpr("surface AS s_surface", "iri AS s_iri"),
        "s_surface", "left",
    ).join(
        gaz.selectExpr("surface AS o_surface", "iri AS o_iri"),
        "o_surface", "left",
    )
    rel_map = "map(" + ", ".join(
        f"{_sql_str(r)}, {_sql_str(predicate_iri(r))}" for r in RELATIONS
    ) + ")"
    langstring = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
    return linked.selectExpr(
        "url",
        f"CASE WHEN is_title THEN {NAMED} WHEN s_iri IS NOT NULL "
        f"THEN {NAMED} ELSE {BLANK} END AS s_kind",
        "CASE WHEN is_title THEN url "
        "ELSE coalesce(s_iri, s_surface) END AS s",
        f"CASE WHEN is_title THEN {_sql_str(PRED_NS + 'title')} "
        f"ELSE {rel_map}[relation] END AS p",
        f"CASE WHEN is_title THEN {LITERAL} WHEN o_iri IS NOT NULL "
        f"THEN {NAMED} ELSE {BLANK} END AS o_kind",
        "CASE WHEN is_title THEN concat('Page ', substring(url, -12, 12)) "
        "ELSE coalesce(o_iri, o_surface) END AS o",
        f"CASE WHEN is_title THEN {_sql_str(langstring)} END AS o_datatype",
        "CASE WHEN is_title THEN 'en' END AS o_lang",
        f"{DEFAULT_GRAPH} AS g_kind",
        "'' AS g",
    )
