"""Deterministic entity gazetteer + relation vocabulary.

The synthetic Common-Crawl-style pages embed statements built from this
vocabulary, so expected triples are known exactly (supports the
P/R >= 0.95 triple-agreement gate) and extraction/linking are
SQL-expressible for the DuckDB oracle.

200 surface forms; the first 150 are "known" entities that link to IRIs,
the remaining 50 are unknown surfaces that become per-document blank
nodes -- which is what gives the canonicalization stage real blank-node
structure to chew on.
"""

from __future__ import annotations

_FIRST = [
    "Alice", "Bob", "Carol", "David", "Erin", "Frank", "Grace", "Heidi",
    "Ivan", "Judy", "Karl", "Laura", "Mallory", "Niaj", "Olivia", "Peggy",
    "Quentin", "Rupert", "Sybil", "Trent",
]
_LAST = [
    "Smith", "Jones", "Chen", "Garcia", "Mueller", "Tanaka", "Okafor",
    "Silva", "Novak", "Kim",
]

# 200 deterministic surface forms: Name_Surname style tokens (no spaces)
SURFACES = [
    f"{_FIRST[i % 20]}_{_LAST[(i * 7 + i // 20) % 10]}_{i:03d}"
    for i in range(200)
]
N_KNOWN = 150
KNOWN_SURFACES = SURFACES[:N_KNOWN]
UNKNOWN_SURFACES = SURFACES[N_KNOWN:]

ENTITY_NS = "http://kg.example.org/entity/"
PRED_NS = "http://kg.example.org/rel/"

RELATIONS = [
    "works_at", "knows", "located_in", "member_of",
    "founded", "owns", "cites", "part_of",
]


def entity_iri(surface):
    return ENTITY_NS + surface


def predicate_iri(relation):
    return PRED_NS + relation


def sql_values_gazetteer():
    """(surface, iri) for known entities as a SQL VALUES list: the
    broadcast link dictionary (``link.gazetteer_df``) and the DuckDB
    oracle's ``gaz`` CTE."""
    return ", ".join(
        "('%s', '%s')" % (s, entity_iri(s)) for s in KNOWN_SURFACES
    )


def sql_array_surfaces():
    """All 200 surfaces as a SQL array literal (1-indexed element_at)."""
    return "array(" + ", ".join("'%s'" % s for s in SURFACES) + ")"


def sql_array_relations():
    return "array(" + ", ".join("'%s'" % r for r in RELATIONS) + ")"
