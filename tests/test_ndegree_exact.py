"""The n-degree speedups of ``rdfc.canonize.RDFC10`` change no observable.

``_LoopRDFC10`` keeps the plain loop version of related-node hashing
(4.7), hash-to-related (4.8 step 3) and n-degree hashing (4.8): a fresh
digest per related node, the node's quads walked again on every deep
iteration, and a ``Permuter`` built for every group.  It also hashes
through ``_NodeUtf8Digest``, which encodes every update with
``node_utf8``.  The optimized kernel must give the same canonical
output, the same canonical issue order, the same ``deep_iterations_used``
and the same error text, for every digest.

``_LoopPermuter`` is the enumerator that recomputed each UTF-16 sort
key on every comparison; the current ``Permuter`` must yield the same
sequence.
"""

import hashlib
import io
import json
import os

import pytest

from rdf_canonize_spark.rdfc import NQuadsParseError
from rdf_canonize_spark.rdfc.canonize import (
    MaxDeepIterationsError,
    MessageDigest,
    RDFC10,
    WebCryptoMessageDigest,
    _HASH_ALGORITHMS,
    _js_number,
)
from rdf_canonize_spark.rdfc.graphs import make_data_a, make_data_b, make_data_c
from rdf_canonize_spark.rdfc.nquads import parse
from rdf_canonize_spark.rdfc.permuter import Permuter
from rdf_canonize_spark.rdfc.terms import (
    BLANK,
    DEFAULT_GRAPH_TERM,
    named,
    node_utf8,
    utf16_sort_key,
)

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")


class _LoopPermuter:
    def __init__(self, lst):
        lst.sort(key=utf16_sort_key)
        self.current = lst
        self.done = False
        self.direction = {e: True for e in lst}

    def has_next(self):
        return not self.done

    def next(self):
        current, direction = self.current, self.direction
        rval = list(current)
        k = None
        k_key = None
        pos = 0
        length = len(current)
        for i in range(length):
            element = current[i]
            left = direction[element]
            e_key = utf16_sort_key(element)
            if (k is None or e_key > k_key) and (
                (left and i > 0
                 and e_key > utf16_sort_key(current[i - 1]))
                or (not left and i < length - 1
                    and e_key > utf16_sort_key(current[i + 1]))
            ):
                k = element
                k_key = e_key
                pos = i
        if k is None:
            self.done = True
        else:
            swap = pos - 1 if direction[k] else pos + 1
            current[pos] = current[swap]
            current[swap] = k
            for element in current:
                if utf16_sort_key(element) > k_key:
                    direction[element] = not direction[element]
        return rval


class _NodeUtf8Digest:
    def __init__(self, algorithm):
        self.md = hashlib.new(_HASH_ALGORITHMS[algorithm])

    def update(self, msg):
        self.md.update(node_utf8(msg))

    def digest(self):
        return self.md.hexdigest()


class _LoopRDFC10(RDFC10):
    def hash_related_blank_node(self, related, quad, issuer, position):
        md = self.create_message_digest()
        md.update(position)
        if position != "g":
            md.update("<" + quad[1][1] + ">")
        if self.canonical_issuer.has_id(related):
            rid = "_:" + self.canonical_issuer.get_id(related)
        elif issuer.has_id(related):
            rid = "_:" + issuer.get_id(related)
        else:
            rid = self.blank_node_info[related]["hash"]
        md.update(rid)
        return md.digest()

    def _create_hash_to_related(self, bid, issuer):
        hash_to_related = {}
        for quad in self.blank_node_info[bid]["quads"]:
            s, p, o, g = quad
            for component, position in ((s, "s"), (o, "o"), (g, "g")):
                if component[0] == BLANK and component[1] != bid:
                    related = component[1]
                    h = self.hash_related_blank_node(
                        related, quad, issuer, position
                    )
                    hash_to_related.setdefault(h, []).append(related)
        return hash_to_related

    def hash_n_degree_quads(self, bid, issuer):
        if self.remaining_deep_iterations == 0:
            raise MaxDeepIterationsError(
                "Maximum deep iterations exceeded (%s)."
                % _js_number(self.max_deep_iterations)
            )
        self.remaining_deep_iterations -= 1
        self.deep_iterations_used += 1

        md = self.create_message_digest()
        hash_to_related = self._create_hash_to_related(bid, issuer)

        for h in sorted(hash_to_related.keys()):
            md.update(h)
            chosen_path = ""
            chosen_issuer = None

            permuter = _LoopPermuter(hash_to_related[h])
            while permuter.has_next():
                permutation = permuter.next()
                issuer_copy = issuer.clone()
                path = ""
                recursion_list = []
                next_permutation = False
                for related in permutation:
                    if self.canonical_issuer.has_id(related):
                        path += "_:" + self.canonical_issuer.get_id(related)
                    else:
                        if not issuer_copy.has_id(related):
                            recursion_list.append(related)
                        path += "_:" + issuer_copy.get_id(related)
                    if chosen_path and path > chosen_path:
                        next_permutation = True
                        break
                if next_permutation:
                    continue

                for related in recursion_list:
                    result_hash, result_issuer = self.hash_n_degree_quads(
                        related, issuer_copy
                    )
                    path += "_:" + issuer_copy.get_id(related)
                    path += "<" + result_hash + ">"
                    issuer_copy = result_issuer
                    if chosen_path and path > chosen_path:
                        next_permutation = True
                        break
                if next_permutation:
                    continue

                if not chosen_path or path < chosen_path:
                    chosen_path = path
                    chosen_issuer = issuer_copy

            md.update(chosen_path)
            issuer = chosen_issuer

        return md.digest(), issuer


def _fixture_inputs():
    """(id, text, max_work_factor): the rdfc10 fixtures at their
    manifest work factor, the W3C inputs at 3."""
    rdfc10 = os.path.join(FIXTURES, "rdfc10")
    with io.open(os.path.join(rdfc10, "manifest.json"),
                 encoding="utf-8") as f:
        wf = {e["name"]: e.get("maxWorkFactor", 1) for e in json.load(f)}
    w3c = os.path.join(FIXTURES, "w3c_rdfc10", "rdfc10")
    out = []
    for d, prefix in ((rdfc10, "rdfc10/"), (w3c, "w3c/")):
        for fn in sorted(os.listdir(d)):
            if not fn.endswith("-in.nq"):
                continue
            name = fn[: -len("-in.nq")]
            with io.open(os.path.join(d, fn), encoding="utf-8",
                         newline="") as f:
                text = f.read()
            out.append((prefix + name, text, wf.get(name, 3)))
    return out


def _inputs():
    cases = []
    for name, text, wf in _fixture_inputs():
        try:
            dataset = parse(text)
        except NQuadsParseError:
            continue
        cases.append((name, dataset, wf))
    for name, (_, text) in (("data-a-3x3", make_data_a(3, 3)),
                            ("data-b-4", make_data_b(4)),
                            ("data-c-2-3-2", make_data_c([2, 3, 2]))):
        dataset = parse(text)
        cases.extend((name + "-wf%d" % wf, dataset, wf) for wf in (1, 3))
    # a 4-cycle whose predicate IRI holds a lone surrogate: every
    # related-node hash goes through the lossy encode
    p = named("http://example.org/p" + chr(0xD800))
    cycle = [((BLANK, "n%d" % i, None, None), p,
              (BLANK, "n%d" % ((i + 1) % 4), None, None), DEFAULT_GRAPH_TERM)
             for i in range(4)]
    cases.append(("lone-surrogate-predicate", cycle, 3))
    return cases


INPUTS = _inputs()

DIGESTS = {
    "sha256": ({"message_digest_algorithm": "sha256"},
               lambda: _NodeUtf8Digest("sha256")),
    "SHA-384": ({"message_digest_algorithm": "SHA-384"},
                lambda: _NodeUtf8Digest("SHA-384")),
    "sha512": ({"message_digest_algorithm": "sha512"},
               lambda: _NodeUtf8Digest("sha512")),
    "webcrypto": ({"create_message_digest":
                   lambda: WebCryptoMessageDigest("sha256")},
                  lambda: WebCryptoMessageDigest("sha256")),
}


def _run(engine, dataset):
    try:
        out, err = engine.main(list(dataset)), None
    except MaxDeepIterationsError as e:
        out, err = None, str(e)
    return (out, err, engine.canonical_issuer.get_old_ids(),
            engine.deep_iterations_used)


def test_inputs_cover_budget_errors_and_the_lone_surrogate():
    names = {name for name, _, _ in INPUTS}
    assert "lone-surrogate-predicate" in names
    assert len([n for n in names if n.startswith("w3c/")]) > 60
    errors = [name for name, dataset, wf in INPUTS
              if _run(RDFC10(max_work_factor=wf), dataset)[1]]
    assert {"data-a-3x3-wf1", "data-b-4-wf1"} <= set(errors)


@pytest.mark.parametrize("digest", sorted(DIGESTS))
def test_optimized_kernel_equals_loop_kernel(digest):
    optimized_kwargs, loop_factory = DIGESTS[digest]
    mismatches = []
    for name, dataset, wf in INPUTS:
        got = _run(RDFC10(max_work_factor=wf, **optimized_kwargs), dataset)
        want = _run(_LoopRDFC10(max_work_factor=wf,
                                create_message_digest=loop_factory),
                    dataset)
        if got != want:
            mismatches.append(name)
    assert mismatches == []


def test_related_hashes_are_memoized_per_document():
    """``make_data_a(5, 5)`` at work factor 3 spends the whole budget;
    the loop kernel builds 5,010 digests on the way, one per related
    node per deep iteration.  With the memo it is under two per deep
    iteration (the n-degree digest itself plus the misses)."""
    built = []

    def counting():
        built.append(1)
        return MessageDigest("sha256")

    engine = RDFC10(create_message_digest=counting, max_work_factor=3)
    with pytest.raises(MaxDeepIterationsError) as exc:
        engine.main(parse(make_data_a(5, 5)[1]))
    assert str(exc.value) == "Maximum deep iterations exceeded (1000)."
    assert engine.deep_iterations_used == 1000
    assert len(built) < 2 * engine.deep_iterations_used


@pytest.mark.parametrize("labels", [
    # astral (UTF-16 D83D..) sorts BELOW U+E000..U+FFFF in JS order,
    # above it in code-point order; one value duplicated
    ["\uffff", "\U0001f600", "a", "\ue000", "\U00010000", "\ue000"],
    ["\U0001f600", "\ufe6e", "\U0001f600", "b", "\ue001"],
])
def test_permuter_order_equals_loop_permuter(labels):
    assert sorted(labels) != sorted(labels, key=utf16_sort_key)
    want = []
    loop = _LoopPermuter(list(labels))
    while loop.has_next():
        want.append(loop.next())
    got = []
    p = Permuter(list(labels))
    while p.has_next():
        got.append(p.next())
    assert got == want
    assert list(Permuter(list(labels))) == want
    assert want[0] == sorted(labels, key=utf16_sort_key)
