"""Compact RDF term / quad representation used by the canonicalization core.

The reference (digitalbazaar/rdf-canonize) uses RDF/JS-shaped objects
``{termType, value, datatype?, language?}`` (``lib/NQuads.js:116-183``).
Inside the Spark per-document Arrow UDF we want something cheaper, so a
term is a plain tuple:

    (kind, value, datatype, language)

``kind`` is a small int (``NAMED``/``BLANK``/``LITERAL``/``DEFAULT_GRAPH``)
and ``datatype``/``language`` are only meaningful for literals
(``None`` otherwise).  Blank-node ``value`` carries no ``_:`` prefix,
matching the reference's RDF/JS alignment (rdf-canonize CHANGELOG 4.0.0).

A quad is a 4-tuple ``(subject, predicate, object, graph)`` of terms.
"""

from __future__ import annotations

# term kind codes (stable — also used in the Spark quad-table schema)
NAMED = 0
BLANK = 1
LITERAL = 2
DEFAULT_GRAPH = 3

RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDF_LANGSTRING = RDF + "langString"
XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"

def named(value):
    return (NAMED, value, None, None)


def blank(value):
    return (BLANK, value, None, None)


def literal(value, datatype=None, language=None):
    if language:
        datatype = RDF_LANGSTRING
    elif datatype is None:
        datatype = XSD_STRING
    return (LITERAL, value, datatype, language)


DEFAULT_GRAPH_TERM = (DEFAULT_GRAPH, "", None, None)


def term_from_rdfjs(t):
    """Convert an RDF/JS-style dict ``{termType, value, ...}`` to a tuple."""
    tt = t["termType"]
    if tt == "NamedNode":
        return (NAMED, t["value"], None, None)
    if tt == "BlankNode":
        return (BLANK, t["value"], None, None)
    if tt == "Literal":
        dt = t.get("datatype")
        dt_value = dt["value"] if dt else XSD_STRING
        return (LITERAL, t["value"], dt_value, t.get("language") or None)
    if tt == "DefaultGraph":
        return DEFAULT_GRAPH_TERM
    raise ValueError(f"Unknown termType: {tt!r}")


def quad_from_rdfjs(q):
    return (
        term_from_rdfjs(q["subject"]),
        term_from_rdfjs(q["predicate"]),
        term_from_rdfjs(q["object"]),
        term_from_rdfjs(q["graph"]),
    )


def utf16_sort_key(s):
    """Sort key reproducing JavaScript's UTF-16 code-unit string order.

    Every ``Array.prototype.sort()`` in the reference compares UTF-16 code
    units (``lib/RDFC10.js:77,154,191,226,292``); Python's ``<`` compares
    code points.  They diverge for strings mixing astral characters with
    U+E000..U+FFFF, so all reference-visible sorts use this key.
    """
    return s.encode("utf-16-be", "surrogatepass")


def node_utf8(s):
    """Encode like Node's ``Buffer.from(s, 'utf8')``.

    Node's utf8 encoder replaces lone surrogates with U+FFFD; Python's
    strict encoder raises.  Hash inputs must match byte-for-byte
    (``lib/MessageDigest.js:33-35``).
    """
    try:
        return s.encode("utf-8")
    except UnicodeEncodeError:
        return (
            s.encode("utf-16-le", "surrogatepass")
            .decode("utf-16-le", "replace")
            .encode("utf-8")
        )
