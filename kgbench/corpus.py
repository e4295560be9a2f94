"""The ``nquads_symmetric`` input: a directory of ``.nq`` files plus the
expected outcome of every file.

Contents, all drawn from committed reference-generated expectations:

* every input of the W3C-format suite (``tests/fixtures/w3c_rdfc10``),
  including its negative tests, run at the manifest's work factor and
  ``hashAlgorithm``;
* the symmetric-shape goldens of ``tests/fixtures/rdfc10`` (the
  ``rdfc.graphs`` generators, with reference output or error text);
* poison shapes from ``rdfc.graphs`` past the ``max_work_factor=3``
  budget.  Every blank node of these shapes is non-unique, so the
  reference error text is ``Maximum deep iterations exceeded (n**3).``
  with ``n`` the shape's blank-node count;
* seeded copies of every positive input, with blank nodes relabelled
  at the parsed-term level and lines reordered.  Canonical N-Quads are
  invariant under both, so a copy must give its source's exact bytes.
  Its label map may differ where the graph has automorphisms, so a
  copy's map is checked by applying it: it must turn the copy into
  the expected bytes.  Inputs with ``c14n``-prefixed labels are not
  copied: the kernel passes such labels through (a reference quirk),
  which makes their output depend on names and order.

The timed deploy path canonizes one directory at work factor 3 with
SHA-256.  Inputs whose expectation needs another setting (a manifest
``hashAlgorithm``, or a budget error at a lower work factor) are staged
in one directory per (work factor, digest) and checked once per run,
untimed.  Positive W3C inputs run at work factor 3: more budget never
changes a successful result.
"""

from __future__ import annotations

import json
import os
import random

from rdf_canonize_spark.rdfc import nquads
from rdf_canonize_spark.rdfc.graphs import make_data_a, make_data_b, make_data_c
from rdf_canonize_spark.rdfc.terms import BLANK

W3C_DIR = os.path.join("tests", "fixtures", "w3c_rdfc10")
GOLDEN_DIR = os.path.join("tests", "fixtures", "rdfc10")

DEPLOY_WF = 3
_COMPLEXITY_WF = {"low": 0, "medium": 2, "high": 3}

# Shape goldens of tests/fixtures/rdfc10 (inputs made by rdfc.graphs or
# hand-written symmetric graphs), with reference output or error text.
GOLDEN_SHAPES = (
    "cycle-2", "cycle-3", "clique-3", "bipartite-2x2", "bipartite-3x3",
    "layered-2-2", "layered-2-3-2", "layered-2-2-2", "double-edges",
    "shared-literal-symmetric", "isomorphic-components-bridge",
    "twins-00", "twins-01", "twins-02", "twins-03", "twins-04",
    "twins-05", "poison-a-4x4-wf1", "poison-b-4-wf1", "poison-b-3-wf0",
    "clique-5-wf2", "digest-sha384-sym", "digest-sha512-sym",
)

# Poison shapes past the work-factor-3 budget: (name, n_bnodes, text).
POISON_SHAPES = (
    ("bipartite-5x5", 10, make_data_a(5, 5)[1]),
    ("bipartite-6x6", 12, make_data_a(6, 6)[1]),
    ("clique-4", 4, make_data_b(4)[1]),
    ("layered-3-4-3", 10, make_data_c([3, 4, 3])[1]),
)

BUDGET_ERROR = "Maximum deep iterations exceeded (%d)."
DEPLOY_GROUP = "deploy"


def _digest(name):
    """Manifest digest name -> the hashlib name the kernel accepts."""
    return name.lower().replace("-", "")


class Doc:
    """One input file and what the deploy path must produce for it."""

    __slots__ = ("name", "text", "wf", "alg", "nquads", "label_map",
                 "error", "relabel")

    def __init__(self, name, text, wf, alg, nquads=None, label_map=None,
                 error=None, relabel=None):
        self.name = name
        self.text = text
        self.wf = wf
        self.alg = alg
        self.nquads = nquads          # expected canonical bytes, or None
        self.label_map = label_map    # expected label map, or None
        self.error = error            # expected quarantine text, or None
        self.relabel = relabel        # copy: source label -> copy label

    @property
    def timed(self):
        return (self.wf, self.alg) == (DEPLOY_WF, "sha256")

    @property
    def group(self):
        return DEPLOY_GROUP if self.timed else "wf%d-%s" % (self.wf, self.alg)

    @property
    def filename(self):
        return self.name + ".nq"


def _read(root, *parts):
    with open(os.path.join(root, *parts), encoding="utf-8") as f:
        return f.read()


def _w3c_docs(root):
    """One Doc per distinct W3C input file (eval and map entries that
    share an input merge into one file with both expectations)."""
    manifest = json.loads(_read(root, W3C_DIR, "manifest.jsonld"))
    docs = {}
    for e in manifest["entries"]:
        kind = e["@type"].split(":")[-1]
        action = e["action"]
        stem = os.path.basename(action)[: -len("-in.nq")]
        alg = _digest(e.get("hashAlgorithm", "sha256"))
        doc = docs.get(action)
        if doc is None:
            text = _read(root, W3C_DIR, action)
            doc = docs[action] = Doc("w3c-" + stem, text, DEPLOY_WF, alg)
        if kind == "RDFC10EvalTest":
            doc.nquads = _read(root, W3C_DIR, e["result"])
        elif kind == "RDFC10MapTest":
            doc.label_map = json.loads(_read(root, W3C_DIR, e["result"]))
        else:
            wf = _COMPLEXITY_WF.get(e.get("computationalComplexity"), 1)
            doc.error, budget = _negative_error(doc.text, wf)
            if budget:
                doc.wf = wf
    # Spark file sources never list a 0-byte file, so an empty input
    # has no row to check; the pure-Python suite covers it.
    return [d for d in docs.values() if d.text]


def _negative_error(text, wf):
    """(error text, is a budget error) of a W3C negative test: the
    parser's line error, or the budget error of its all-non-unique
    blank nodes at the manifest's work factor."""
    try:
        dataset = nquads.parse(text)
    except nquads.NQuadsParseError as e:
        return str(e), False
    n = len(_labels(dataset))
    return BUDGET_ERROR % (0 if wf == 0 else n ** wf), True


def _golden_docs(root):
    manifest = {e["name"]: e for e in
                json.loads(_read(root, GOLDEN_DIR, "manifest.json"))}
    docs = []
    for name in GOLDEN_SHAPES:
        entry = manifest[name]
        golden = json.loads(_read(root, GOLDEN_DIR, name + "-golden.json"))
        doc = Doc("shape-" + name, _read(root, GOLDEN_DIR, name + "-in.nq"),
                  DEPLOY_WF, entry.get("digest", "sha256"))
        if "error" in golden:
            doc.wf = entry["maxWorkFactor"]
            doc.error = golden["error"]
        else:
            doc.nquads = golden["output"]
            doc.label_map = golden["idMap"]
        docs.append(doc)
    return docs


def relabelled_copy(doc, rng, name):
    """Seeded copy of a positive Doc: blank nodes renamed on parsed
    terms (never by text substitution), quads shuffled, re-serialized."""
    dataset = nquads.parse(doc.text)
    labels = sorted(_labels(dataset))
    fresh = rng.sample(range(10 ** 6), len(labels))
    relabel = {old: "r%06d" % new for old, new in zip(labels, fresh)}

    def term(t):
        return (BLANK, relabel[t[1]], None, None) if t[0] == BLANK else t

    quads = [tuple(term(t) for t in q) for q in dataset]
    rng.shuffle(quads)
    text = "".join(nquads.serialize_quad(q) for q in quads)
    return Doc(name, text, doc.wf, doc.alg, nquads=doc.nquads,
               label_map=doc.label_map, relabel=relabel)


def _labels(dataset):
    return {t[1] for q in dataset for t in q if t[0] == BLANK}


def build(root, seed, copies):
    """All Docs of one seed: originals, ``copies`` relabelled copies of
    each timed positive original, and poison files (one per eight timed
    positive files, the shapes in turn, lines shuffled by the seed)."""
    rng = random.Random(seed)
    originals = _w3c_docs(root) + _golden_docs(root)
    docs = list(originals)
    positives = [
        d for d in originals if d.timed and d.error is None and not any(
            label.startswith("c14n")
            for label in _labels(nquads.parse(d.text)))
    ]
    for i in range(copies):
        for d in positives:
            docs.append(relabelled_copy(d, rng, "%s-copy%d" % (d.name, i)))
    n_poison = max(1, len(positives) * (copies + 1) // 8)
    for i in range(n_poison):
        # a fixed mix, so that seeds do not change the budget work
        shape, n_bnodes, text = POISON_SHAPES[i % len(POISON_SHAPES)]
        lines = text.splitlines(True)
        rng.shuffle(lines)
        docs.append(Doc("poison-%s-%03d" % (shape, i), "".join(lines),
                        DEPLOY_WF, "sha256",
                        error=BUDGET_ERROR % n_bnodes ** DEPLOY_WF))
    return docs


def stage(docs, out_dir):
    """Write every Doc into ``out_dir/<group>/<name>.nq``; returns the
    group directories by (wf, alg)."""
    groups = {}
    for d in docs:
        gdir = os.path.join(out_dir, d.group)
        if (d.wf, d.alg) not in groups:
            os.makedirs(gdir)
            groups[(d.wf, d.alg)] = gdir
        with open(os.path.join(gdir, d.filename), "w", encoding="utf-8",
                  newline="") as f:
            f.write(d.text)
    return groups


def label_map_ok(doc, label_map):
    """An original must give the reference map exactly; a copy's map
    must relabel the copy into the expected canonical bytes."""
    if doc.label_map is None:
        return True
    if doc.relabel is None:
        return label_map == doc.label_map
    dataset = nquads.parse(doc.text)
    if set(label_map) != _labels(dataset):
        return False

    def term(t):
        return (BLANK, label_map[t[1]], None, None) if t[0] == BLANK else t

    return nquads.serialize(
        [tuple(term(t) for t in q) for q in dataset]) == doc.nquads

