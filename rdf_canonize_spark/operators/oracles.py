"""DuckDB oracle SQL builders for the driver-contract queries.

Each function returns an ANSI-SQL string DuckDB can run against the
pre-registered parquet views (``documents`` etc.).  The pipeline's
synthetic pages are *closed-form* in the doc key (see pages.py), so the
oracle re-derives expected triples arithmetically -- a genuinely
independent end-to-end check of extract + link + assemble.
"""

from __future__ import annotations

from ..pipeline.gazetteer import (
    PRED_NS,
    RELATIONS,
    SURFACES,
    sql_values_gazetteer,
)

_LANGSTRING = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"

_SURF_LIST = "[" + ", ".join("'%s'" % s for s in SURFACES) + "]"
_REL_LIST = "[" + ", ".join("'%s'" % r for r in RELATIONS) + "]"

# Quads CTE: mirrors pages_from_documents -> extract -> link -> assemble
QUADS_CTE = f"""
  docs AS (SELECT doc_id AS k FROM documents),
  stmt AS (
    SELECT k, unnest(range(0, (k % 5) + 1)) AS i FROM docs
  ),
  mention AS (
    SELECT
      'https://crawl.example.org/p/' || lpad(CAST(k AS VARCHAR), 12, '0')
        AS url,
      {_SURF_LIST}[CAST((k * 7 + i * 13) % 200 AS INT) + 1] AS s_surface,
      {_REL_LIST}[CAST((k + i) % 8 AS INT) + 1] AS relation,
      {_SURF_LIST}[CAST((k * 11 + i * 17 + 3) % 200 AS INT) + 1]
        AS o_surface
    FROM stmt
  ),
  gaz(surface, iri) AS (VALUES {sql_values_gazetteer()}),
  stmt_quads AS (
    SELECT
      m.url,
      CASE WHEN gs.iri IS NOT NULL THEN 0 ELSE 1 END AS s_kind,
      COALESCE(gs.iri, m.s_surface) AS s,
      '{PRED_NS}' || m.relation AS p,
      CASE WHEN go.iri IS NOT NULL THEN 0 ELSE 1 END AS o_kind,
      COALESCE(go.iri, m.o_surface) AS o,
      CAST(NULL AS VARCHAR) AS o_datatype,
      CAST(NULL AS VARCHAR) AS o_lang,
      3 AS g_kind,
      '' AS g
    FROM mention m
    LEFT JOIN gaz gs ON m.s_surface = gs.surface
    LEFT JOIN gaz go ON m.o_surface = go.surface
  ),
  title_quads AS (
    SELECT
      'https://crawl.example.org/p/' || lpad(CAST(k AS VARCHAR), 12, '0')
        AS url,
      0 AS s_kind,
      'https://crawl.example.org/p/' || lpad(CAST(k AS VARCHAR), 12, '0')
        AS s,
      '{PRED_NS}title' AS p,
      2 AS o_kind,
      'Page ' || lpad(CAST(k AS VARCHAR), 12, '0') AS o,
      '{_LANGSTRING}' AS o_datatype,
      'en' AS o_lang,
      3 AS g_kind,
      '' AS g
    FROM docs
  ),
  quads AS (
    SELECT * FROM stmt_quads UNION ALL SELECT * FROM title_quads
  ),
  dquads AS (SELECT DISTINCT * FROM quads),
  lines AS (
    SELECT *,
      (CASE WHEN s_kind = 0 THEN '<' || s || '>' ELSE '_:' || s END)
      || ' <' || p || '> '
      || (CASE
            WHEN o_kind = 0 THEN '<' || o || '>'
            WHEN o_kind = 1 THEN '_:' || o
            ELSE '"' || o || '"' ||
              (CASE
                 WHEN o_lang IS NOT NULL THEN '@' || o_lang
                 WHEN o_datatype IS NOT NULL
                   AND o_datatype <>
                     'http://www.w3.org/2001/XMLSchema#string'
                   AND o_datatype <> '{_LANGSTRING}'
                   THEN chr(94) || chr(94) || '<' || o_datatype || '>'
                 ELSE ''
               END)
          END)
      || ' .' AS nq_line
    FROM dquads
  ),
  bnode_lines AS (
    SELECT DISTINCT url, bnode, nq_line FROM (
      SELECT url, s AS bnode, nq_line FROM lines WHERE s_kind = 1
      UNION ALL
      SELECT url, o AS bnode, nq_line FROM lines WHERE o_kind = 1
      UNION ALL
      SELECT url, g AS bnode, nq_line FROM lines WHERE g_kind = 1
    )
  ),
  first_hash AS (
    SELECT url, bnode,
      sha256(string_agg(nq_line, chr(10) ORDER BY nq_line)) AS first_hash,
      COUNT(*) AS n_lines
    FROM bnode_lines GROUP BY url, bnode
  ),
  issued AS (
    SELECT url, bnode, first_hash,
      'c14n' || CAST(
        ROW_NUMBER() OVER (
          PARTITION BY url ORDER BY first_hash, bnode
        ) - 1 AS VARCHAR) AS canonical_id
    FROM first_hash
  )
"""


_ENTITY_MENTIONS = """
  mentions AS (
    SELECT url, s AS entity FROM quads
    WHERE s_kind = 0 AND s LIKE 'http://kg.example.org/entity/%'
    UNION ALL
    SELECT url, o AS entity FROM quads
    WHERE o_kind = 0 AND o LIKE 'http://kg.example.org/entity/%'
  )
"""


def entity_degrees():
    return f"""WITH {QUADS_CTE}, {_ENTITY_MENTIONS}
SELECT entity, COUNT(*) AS n_mentions, COUNT(DISTINCT url) AS n_docs
FROM mentions GROUP BY entity"""


def entity_cooccurrence(max_doc_entities=64, min_count=2):
    """Mirrors entities.entity_cooccurrence: distinct (url, entity)
    mentions, the max_doc_entities cap applied BEFORE pairing,
    marginals/doc-count from the same capped set, floor(1e6 * ln)
    micro-nat PMI with both ratio casts spelled identically."""
    return f"""WITH {QUADS_CTE}, {_ENTITY_MENTIONS},
dm AS MATERIALIZED (SELECT DISTINCT url, entity FROM mentions),
dc AS (SELECT url, COUNT(*) AS n_ents FROM dm GROUP BY url),
kept AS MATERIALIZED (
  SELECT dm.url, dm.entity FROM dm JOIN dc USING (url)
  WHERE dc.n_ents <= {max_doc_entities}
),
pairs AS (
  SELECT a.entity AS entity_a, b.entity AS entity_b,
    CAST(COUNT(*) AS BIGINT) AS c_ab
  FROM kept a JOIN kept b
    ON a.url = b.url AND a.entity < b.entity
  GROUP BY a.entity, b.entity
  HAVING COUNT(*) >= {min_count}
),
marg AS (
  SELECT entity, CAST(COUNT(*) AS BIGINT) AS c FROM kept GROUP BY entity
),
tot AS (SELECT CAST(COUNT(DISTINCT url) AS BIGINT) AS nd FROM kept)
SELECT p.entity_a, p.entity_b, p.c_ab,
  CAST(floor(ln(CAST(p.c_ab * t.nd AS DOUBLE)
                / CAST(ma.c * mb.c AS DOUBLE)) * 1000000) AS BIGINT)
    AS pmi_micro
FROM pairs p
JOIN marg ma ON p.entity_a = ma.entity
JOIN marg mb ON p.entity_b = mb.entity, tot t"""


def canonical_entity_map():
    return f"""WITH {QUADS_CTE}, {_ENTITY_MENTIONS},
ents AS (SELECT DISTINCT entity FROM mentions),
clustered AS (
  SELECT entity,
         regexp_replace(entity, '_[0-9]+$', '') AS canonical_key
  FROM ents
),
canon AS (
  SELECT canonical_key, MIN(entity) AS canonical_entity
  FROM clustered GROUP BY canonical_key
)
SELECT c.entity, c.canonical_key, k.canonical_entity
FROM clustered c JOIN canon k USING (canonical_key)"""


def entity_canonicalized_quads():
    return f"""WITH {QUADS_CTE}, {_ENTITY_MENTIONS},
ents AS (SELECT DISTINCT entity FROM mentions),
clustered AS (
  SELECT entity,
         regexp_replace(entity, '_[0-9]+$', '') AS canonical_key
  FROM ents
),
canon AS (
  SELECT canonical_key, MIN(entity) AS canonical_entity
  FROM clustered GROUP BY canonical_key
),
emap AS (
  SELECT c.entity, k.canonical_entity
  FROM clustered c JOIN canon k USING (canonical_key)
)
SELECT
  q.url, q.s_kind,
  CASE WHEN q.s_kind = 0 AND sm.canonical_entity IS NOT NULL
       THEN sm.canonical_entity ELSE q.s END AS s,
  q.p, q.o_kind,
  CASE WHEN q.o_kind = 0 AND om.canonical_entity IS NOT NULL
       THEN om.canonical_entity ELSE q.o END AS o,
  q.o_datatype, q.o_lang, q.g_kind, q.g
FROM quads q
LEFT JOIN emap sm ON q.s = sm.entity
LEFT JOIN emap om ON q.o = om.entity"""


def triples():
    return f"""WITH {QUADS_CTE}
SELECT url, s_kind, s, p, o_kind, o, o_datatype, o_lang, g_kind, g
FROM quads"""


def dedup():
    return f"""WITH {QUADS_CTE}
SELECT url, s_kind, s, p, o_kind, o, o_datatype, o_lang, g_kind, g
FROM dquads"""


def first_degree_hash():
    return f"""WITH {QUADS_CTE}
SELECT url, bnode, first_hash, n_lines FROM first_hash"""


_XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"

# Exact O4 CTEs (first_degree_hash_exact): per-(url, bnode) hash with
# _:a/_:z substitution.
_FD_CTES = f"""
pairs AS (
  SELECT DISTINCT * FROM (
    SELECT url, s AS bnode, s_kind, s, p, o_kind, o,
           o_datatype, o_lang, g_kind, g
    FROM dquads WHERE s_kind = 1
    UNION ALL
    SELECT url, o AS bnode, s_kind, s, p, o_kind, o,
           o_datatype, o_lang, g_kind, g
    FROM dquads WHERE o_kind = 1
    UNION ALL
    SELECT url, g AS bnode, s_kind, s, p, o_kind, o,
           o_datatype, o_lang, g_kind, g
    FROM dquads WHERE g_kind = 1
  )
),
fd AS (
  SELECT url, bnode,
    (CASE WHEN s_kind = 0 THEN '<' || s || '>'
          ELSE '_:' || (CASE WHEN s = bnode THEN 'a' ELSE 'z' END) END)
    || ' <' || p || '> '
    || (CASE
          WHEN o_kind = 0 THEN '<' || o || '>'
          WHEN o_kind = 1
            THEN '_:' || (CASE WHEN o = bnode THEN 'a' ELSE 'z' END)
          ELSE '"' || o || '"' ||
            (CASE
               WHEN o_lang IS NOT NULL THEN '@' || o_lang
               WHEN o_datatype IS NOT NULL
                 AND o_datatype <> '{_XSD_STRING}'
                 AND o_datatype <> '{_LANGSTRING}'
                 THEN chr(94) || chr(94) || '<' || o_datatype || '>'
               ELSE ''
             END)
        END)
    || (CASE
          WHEN g_kind = 0 THEN ' <' || g || '>'
          WHEN g_kind = 1
            THEN ' _:' || (CASE WHEN g = bnode THEN 'a' ELSE 'z' END)
          ELSE ''
        END)
    || ' .' || chr(10) AS fd_line
  FROM pairs
),
fdh AS (
  SELECT url, bnode,
    sha256(string_agg(fd_line, '' ORDER BY fd_line))
      AS first_degree_hash
  FROM fd GROUP BY url, bnode
)
"""


def first_degree_hash_exact():
    """Exact O4 (with _:a/_:z substitution) in DuckDB."""
    return f"""WITH {QUADS_CTE}, {_FD_CTES}
SELECT url, bnode, first_degree_hash FROM fdh"""




def hash_groups():
    return f"""WITH {QUADS_CTE}
SELECT url, first_hash,
  COUNT(*) AS group_size,
  array_to_string(list_sort(list(bnode)), ',') AS members,
  COUNT(*) = 1 AS is_unique
FROM first_hash
GROUP BY url, first_hash"""


def issue_ids():
    return f"""WITH {QUADS_CTE}
SELECT url, bnode, first_hash, canonical_id FROM issued"""


def relabel():
    return f"""WITH {QUADS_CTE}
SELECT
  q.url, q.s_kind,
  CASE WHEN q.s_kind = 1 AND si.canonical_id IS NOT NULL
       THEN si.canonical_id ELSE q.s END AS s,
  q.p, q.o_kind,
  CASE WHEN q.o_kind = 1 AND oi.canonical_id IS NOT NULL
       THEN oi.canonical_id ELSE q.o END AS o,
  q.o_datatype, q.o_lang, q.g_kind, q.g
FROM dquads q
LEFT JOIN issued si ON q.url = si.url AND q.s = si.bnode
LEFT JOIN issued oi ON q.url = oi.url AND q.o = oi.bnode"""


def canonical_document():
    return f"""WITH {QUADS_CTE},
relabeled AS (
  SELECT
    q.url, q.s_kind,
    CASE WHEN q.s_kind = 1 AND si.canonical_id IS NOT NULL
         THEN si.canonical_id ELSE q.s END AS s,
    q.p, q.o_kind,
    CASE WHEN q.o_kind = 1 AND oi.canonical_id IS NOT NULL
         THEN oi.canonical_id ELSE q.o END AS o,
    q.o_datatype, q.o_lang, q.g_kind, q.g
  FROM dquads q
  LEFT JOIN issued si ON q.url = si.url AND q.s = si.bnode
  LEFT JOIN issued oi ON q.url = oi.url AND q.o = oi.bnode
),
rlines AS (
  SELECT url,
    (CASE WHEN s_kind = 0 THEN '<' || s || '>' ELSE '_:' || s END)
    || ' <' || p || '> '
    || (CASE
          WHEN o_kind = 0 THEN '<' || o || '>'
          WHEN o_kind = 1 THEN '_:' || o
          ELSE '"' || o || '"' ||
            (CASE
               WHEN o_lang IS NOT NULL THEN '@' || o_lang
               WHEN o_datatype IS NOT NULL
                 AND o_datatype <>
                   'http://www.w3.org/2001/XMLSchema#string'
                 AND o_datatype <> '{_LANGSTRING}'
                 THEN chr(94) || chr(94) || '<' || o_datatype || '>'
               ELSE ''
             END)
        END)
    || ' .' AS nq_line
  FROM relabeled
)
SELECT url,
  string_agg(nq_line, chr(10) ORDER BY nq_line) AS doc_nquads,
  COUNT(*) AS n_lines
FROM rlines GROUP BY url"""


_QUAD_COLS = ["s_kind", "s", "p", "o_kind", "o",
              "o_datatype", "o_lang", "g_kind", "g"]

# Byte-exact mirror of functions/framing.ROW_DIGEST and its Python
# twin canon_stage.input_hash_of_rows: length-prefixed fields (strlen =
# BYTE length, matching Spark octet_length / Python len(utf-8)),
# chr(31) joins, per-row sha256 hex, order-independent distinct-digest
# rollup.
_FRAMED_LINE = (" || chr(31) || ").join(
    f"(CASE WHEN {c} IS NULL THEN chr(0) "
    f"ELSE CAST(strlen(CAST({c} AS VARCHAR)) AS VARCHAR) || ':' "
    f"|| CAST({c} AS VARCHAR) END)"
    for c in _QUAD_COLS
)

_INPUT_HASH_CTES = f"""
qh AS (SELECT url, sha256({_FRAMED_LINE}) AS qh FROM quads),
ih AS (
  SELECT url,
         sha256(string_agg(DISTINCT qh, '' ORDER BY qh)) AS input_hash
  FROM qh GROUP BY url
),
nq AS (
  SELECT url, CAST(COUNT(*) AS INT) AS n_quads
  FROM dquads GROUP BY url
)
"""


def canonize_partial():
    """Partial oracle for the full canonize kernel: the
    SQL-expressible per-url outputs (deduped quad count, distinct
    blank-node count, input content hash); the canonical serialization
    itself is byte-checked against reference goldens in tests."""
    return f"""WITH {QUADS_CTE}, {_INPUT_HASH_CTES},
bn AS (
  SELECT url, CAST(COUNT(DISTINCT bnode) AS INT) AS n_bnodes
  FROM bnode_lines GROUP BY url
)
SELECT nq.url, nq.n_quads, COALESCE(bn.n_bnodes, 0) AS n_bnodes,
       ih.input_hash
FROM nq JOIN ih USING (url) LEFT JOIN bn USING (url)"""


def canonize_incremental_partial():
    """Partial oracle for the recrawl path with prior == current: every
    url carries forward (recomputed = false) with the same n_quads and
    input_hash the quads CTE yields."""
    return f"""WITH {QUADS_CTE}, {_INPUT_HASH_CTES}
SELECT nq.url, nq.n_quads, ih.input_hash, FALSE AS recomputed
FROM nq JOIN ih USING (url)"""


def sharded_link():
    """Oracle for the sharded-broadcast dictionary join: sharding is an
    execution strategy, so the oracle is the plain left join over the
    mention CTE."""
    return f"""WITH {QUADS_CTE}
    SELECT DISTINCT m.url, m.s_surface AS surface, g.iri
    FROM mention m LEFT JOIN gaz g ON m.s_surface = g.surface
    """


_ENT_EDGES = """
    ent_edges AS (
      SELECT DISTINCT s AS src, o AS dst FROM quads
      WHERE s_kind = 0 AND o_kind = 0
        AND s LIKE 'http://kg.example.org/entity/%'
        AND o LIKE 'http://kg.example.org/entity/%'
    )
"""


def entity_pagerank(n_iter=10, damping_num=85, damping_den=100,
                    scale=10 ** 12):
    """FIXED-POINT PageRank with the iterations UNROLLED as chained
    CTEs (DuckDB's recursive terms may reference the recursive CTE
    only once, which a PageRank step cannot honor -- it reads the
    previous ranks for the contribution join, the dangling mass, and
    the carry of isolated nodes).  Arithmetic mirrors
    operators/graph.py::pagerank_fixedpoint exactly: every quantity a
    non-negative BIGINT at ``scale``, every step integer addition and
    floor division (DuckDB ``//`` == Spark ``div`` == Python ``//``
    on non-negative ints), so equality is bit-exact by construction --
    no float rounding boundary (round-4 verdict action #4).  SUMs are
    CAST back to BIGINT (DuckDB SUM(BIGINT) is HUGEINT).  Base tables
    and every ``r{i}`` are MATERIALIZED: DuckDB inlines plain CTEs, so
    10 unrolled iterations would re-open the parquet scan per reference
    (exhausting the file-descriptor limit), and each ``r{i}``, read by
    both ``dm{i+1}`` and ``c{i+1}``, would double the plan per step
    (2^10 copies, out of memory)."""
    num, den = int(damping_num), int(damping_den)
    base_num = ((den - num) * scale) // den  # exact int, both engines
    ent_edges_mat = _ENT_EDGES.replace(
        "ent_edges AS (", "ent_edges AS MATERIALIZED ("
    )
    parts = [f"""WITH {QUADS_CTE}, {ent_edges_mat},
pnodes AS MATERIALIZED (
  SELECT src AS node FROM ent_edges
  UNION
  SELECT dst AS node FROM ent_edges
),
nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM pnodes),
pdeg AS MATERIALIZED (
  SELECT src AS node, COUNT(*) AS deg FROM ent_edges GROUP BY src
),
r0 AS MATERIALIZED (
  SELECT node, CAST({scale} // nn.n AS BIGINT) AS rank_fp
  FROM pnodes, nn
)"""]
    for i in range(1, n_iter + 1):
        p = i - 1
        parts.append(f""",
dm{i} AS (
  SELECT CAST(COALESCE(SUM(r.rank_fp), 0) AS BIGINT) AS dm
  FROM r{p} r LEFT JOIN pdeg d USING (node) WHERE d.node IS NULL
),
c{i} AS (
  SELECT e.dst AS node,
    CAST(SUM(r.rank_fp // d.deg) AS BIGINT) AS in_contrib
  FROM ent_edges e
  JOIN r{p} r ON e.src = r.node
  JOIN pdeg d ON d.node = e.src
  GROUP BY e.dst
),
r{i} AS MATERIALIZED (
  SELECT n.node,
    CAST({base_num} // nn.n
      + ({num} * (COALESCE(c.in_contrib, 0) + dm.dm // nn.n)) // {den}
      AS BIGINT) AS rank_fp
  FROM pnodes n LEFT JOIN c{i} c USING (node), dm{i} dm, nn
)""")
    parts.append(f"""
SELECT node, rank_fp FROM r{n_iter}""")
    return "".join(parts)


def entity_components():
    """Oracle for connected components: recursive CTE transitive
    closure + MIN -- exact equality with hash-min label propagation
    because min-label is order-independent."""
    return f"""WITH RECURSIVE {QUADS_CTE},
    ent_edges AS (
      SELECT DISTINCT s AS src, o AS dst FROM quads
      WHERE s_kind = 0 AND o_kind = 0
        AND s LIKE 'http://kg.example.org/entity/%'
        AND o LIKE 'http://kg.example.org/entity/%'
    ),
    und AS (
      SELECT src AS a, dst AS b FROM ent_edges
      UNION
      SELECT dst AS a, src AS b FROM ent_edges
    ),
    reach(a, b) AS (
      SELECT a, a FROM und
      UNION
      SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
    )
    SELECT a AS node, MIN(b) AS component FROM reach GROUP BY a
    """


_URL_CORPUS_CTE = """
ub AS (
  SELECT doc_id,
    CAST(floor(doc_id / 7) AS BIGINT) AS block,
    CAST(CAST(floor(doc_id / 7) AS BIGINT) % 3 AS VARCHAR) AS pg
  FROM documents
),
urls AS (
  SELECT doc_id,
    (CASE WHEN doc_id % 2 = 0 THEN 'http://' ELSE 'HTTPS://' END)
    || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
    || 'site' || CAST(block % 20 AS VARCHAR)
    || (CASE WHEN doc_id % 4 = 0 THEN '.Example.COM'
             ELSE '.example.com' END)
    || (CASE WHEN doc_id % 5 = 0 THEN ':80' ELSE '' END)
    || '/articles/' || CAST(block AS VARCHAR)
    || (CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END)
    || (CASE WHEN doc_id % 4 = 0
             THEN '?utm_source=feed&ref=rss&page=' || pg
             WHEN doc_id % 4 = 1 THEN '?page=' || pg || '&sort=new'
             WHEN doc_id % 4 = 2 THEN '?sort=new&page=' || pg
             ELSE '?page=' || pg END)
    || (CASE WHEN doc_id % 6 = 0
             THEN '#section-' || CAST(doc_id AS VARCHAR) ELSE '' END)
    AS url
  FROM ub
)"""

# Canonicalization twin of urls._canonical_expr.  Anchored regexes
# only: Spark regexp_replace replaces every match, DuckDB the first;
# anchoring makes them identical.  The param-filter predicate text
# matches the Spark SQL lambda body.
_URL_CANON_CTE = r"""
c1 AS (
  SELECT doc_id, url,
    regexp_replace(regexp_replace(url, '#.*$', ''),
                   '^[a-zA-Z][a-zA-Z0-9+.-]*://', '') AS rest
  FROM urls
),
c2 AS (
  SELECT doc_id, url, rest,
    regexp_extract(rest, '^[^/?]*') AS auth,
    substr(rest, length(regexp_extract(rest, '^[^/?]*')) + 1) AS pathq
  FROM c1
),
c3 AS (
  SELECT doc_id, url, pathq,
    regexp_replace(regexp_replace(regexp_replace(
      lower(auth), '^[^@]*@', ''), ':[0-9]*$', ''), '^www\.', '')
      AS host,
    regexp_extract(pathq, '^[^?]*') AS path
  FROM c2
),
c4 AS (
  SELECT doc_id, url, host,
    CASE WHEN regexp_replace(path, '/+$', '') = '' THEN '/'
         ELSE regexp_replace(path, '/+$', '') END AS path_c,
    CASE WHEN length(pathq) > length(path)
         THEN substr(pathq, length(path) + 2) ELSE '' END AS q
  FROM c3
),
c5 AS (
  SELECT doc_id, url, path_c,
    list_sort(list_filter(string_split(q, '&'),
      p -> p <> '' AND NOT (p LIKE 'utm_%'
        OR split_part(p, '=', 1) IN
           ('fbclid', 'gclid', 'msclkid', 'ref')))) AS kept,
    array_to_string(list_reverse(string_split(host, '.')), ',')
      AS surt
  FROM c4
),
canon AS (
  SELECT doc_id, url,
    surt || ')' || path_c
    || (CASE WHEN len(kept) > 0
             THEN '?' || array_to_string(kept, '&') ELSE '' END)
      AS canonical_url
  FROM c5
)"""


def url_canonicalize():
    """Mirrors urls.canonical_urls over the synthetic crawl corpus."""
    return f"""WITH {_URL_CORPUS_CTE.strip()},{_URL_CANON_CTE}
SELECT doc_id, url, canonical_url FROM canon"""


def url_dedup():
    """Mirrors urls.url_dedup: canonical-key groups fetched > once."""
    return f"""WITH {_URL_CORPUS_CTE.strip()},{_URL_CANON_CTE}
SELECT canonical_url, COUNT(*) AS n_fetches,
       MIN(url) AS keeper_url
FROM canon GROUP BY canonical_url HAVING COUNT(*) > 1"""
