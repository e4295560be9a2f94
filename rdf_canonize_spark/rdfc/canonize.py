"""RDFC-1.0 (URDNA2015) canonicalization core.

From-scratch Python implementation of the W3C RDF Dataset
Canonicalization algorithm with the same observable behavior as the
reference's synchronous engine (``/root/reference/lib/RDFC10Sync.js``),
including its documented spec-deviation optimizations:

* single first-degree hashing pass (no ``simple``-flag fixpoint loop,
  ``lib/RDFC10Sync.js:57-63``)
* non-unique hash groups gathered during the first sorted pass
  (``lib/RDFC10Sync.js:77-87``)
* permutation pruning: abandon a path as soon as it exceeds the chosen
  path (``lib/RDFC10Sync.js:343-353,377-387``)
* deep-iteration budget ``nonUniqueCount ** maxWorkFactor`` with the
  exact error text (``lib/RDFC10Sync.js:102-118,274-277``)
* spec-bug preservation: first-degree hashing never substitutes an
  already-issued canonical id for ``_:a``/``_:z``
  (``lib/RDFC10Sync.js:414-428``)

All sorts that the reference performs with JS ``Array.sort()`` use
UTF-16 code-unit order; all hash inputs are encoded like Node's utf8
encoder (lone surrogates -> U+FFFD).  This module is pure Python with no
Spark dependency -- it is the kernel executed per document inside the
``mapInArrow`` canonize stage (``pipeline.canon_stage``).
"""

from __future__ import annotations

import hashlib
import time

from .issuer import IdentifierIssuer
from .nquads import serialize_quad_components
from .permuter import Permuter
from .terms import BLANK, node_utf8, utf16_sort_key

_HASH_ALGORITHMS = {
    "sha256": "sha256",
    "SHA256": "sha256",
    "SHA-256": "sha256",
    "sha384": "sha384",
    "SHA384": "sha384",
    "SHA-384": "sha384",
    "sha512": "sha512",
    "SHA512": "sha512",
    "SHA-512": "sha512",
}

_BLANK_A = (BLANK, "a", None, None)
_BLANK_Z = (BLANK, "z", None, None)


class MessageDigest:
    """Incremental digest with lowercase-hex output, matching
    ``lib/MessageDigest.js:8-41`` (algorithm aliases included)."""

    __slots__ = ("md",)

    def __init__(self, algorithm="sha256"):
        if algorithm not in _HASH_ALGORITHMS:
            raise ValueError('Unsupported algorithm "%s".' % algorithm)
        self.md = hashlib.new(_HASH_ALGORITHMS[algorithm])

    def update(self, msg):
        self.md.update(node_utf8(msg))

    def digest(self):
        return self.md.hexdigest()


class WebCryptoMessageDigest:
    """Accumulate-then-digest twin of the streaming ``MessageDigest``,
    ported from ``lib/MessageDigest-webcrypto.js:20-48``: ``update``
    concatenates, ``digest`` encodes the whole accumulated string once
    (``TextEncoder`` semantics == Node's lossy utf8: surrogate pairs
    recombine, lone surrogates become U+FFFD -- so ``node_utf8`` IS
    the byte rule here too).  Plug in via
    ``create_message_digest=lambda: WebCryptoMessageDigest(alg)`` --
    the reference's webcrypto test-matrix dimension.

    Output-identical to the streaming digest for every whole-string
    input; the faithful divergence is a surrogate PAIR SPLIT ACROSS
    ``update`` calls: streamed, each half is lossily encoded on its
    own (two U+FFFD), accumulated, the halves recombine into one
    astral code point before encoding -- exactly the difference
    between the reference's two classes.
    """

    __slots__ = ("algorithm", "_content")

    def __init__(self, algorithm="sha256"):
        if algorithm not in _HASH_ALGORITHMS:
            raise ValueError('Unsupported algorithm "%s".' % algorithm)
        self.algorithm = _HASH_ALGORITHMS[algorithm]
        self._content = []

    def update(self, msg):
        self._content.append(msg)

    def digest(self):
        return hashlib.new(
            self.algorithm, node_utf8("".join(self._content))
        ).hexdigest()


class MaxDeepIterationsError(RuntimeError):
    pass


class CanonizeAbortError(RuntimeError):
    """Cooperative cancellation (reference async `signal` option)."""
    pass


class CanonizeTimeoutError(RuntimeError):
    pass


class RDFC10:
    """One canonicalization run over one RDF dataset (list of quad tuples)."""

    def __init__(
        self,
        create_message_digest=None,
        message_digest_algorithm="sha256",
        canonical_id_map=None,
        max_work_factor=1,
        max_deep_iterations=-1,
        timeout=0,
        signal=None,
    ):
        self.name = "RDFC-1.0"
        self.blank_node_info = {}  # id -> {"quads": list, "hash": str|None}
        self.canonical_issuer = IdentifierIssuer(
            "c14n",
            canonical_id_map if canonical_id_map is not None else {},
        )
        self.create_message_digest = create_message_digest or (
            lambda: MessageDigest(message_digest_algorithm)
        )
        self.max_work_factor = max_work_factor
        self.max_deep_iterations = max_deep_iterations
        self.remaining_deep_iterations = 0
        self.timeout = timeout
        self.start_time = time.monotonic() if timeout and timeout > 0 else None
        # AbortSignal analogue (async reference variant,
        # lib/RDFC10.js:19,29,310-312): any object with ``aborted`` and
        # ``reason`` attributes (or a zero-arg callable returning a
        # reason / falsy).  Checked every 3 permutations, the same
        # cadence as the timeout; exact reference error text.
        self.signal = signal
        self.quads = None
        self.deep_iterations_used = 0

    # 4.4) canonicalization algorithm (lib/RDFC10Sync.js:38-194)
    def main(self, dataset):
        self.quads = dataset

        # step 2: blank node -> incident quads index.  The reference keeps
        # a JS Set of quad object identities; parsed quads are unique per
        # graph so a seen-set keyed by quad tuple is equivalent, and a list
        # preserves the reference's insertion iteration order.
        for quad in dataset:
            s, p, o, g = quad
            self._add_info(quad, s)
            self._add_info(quad, o)
            self._add_info(quad, g)

        # steps 3-5.3: hash first degree once per blank node
        hash_to_blank_nodes = {}
        for bid in list(self.blank_node_info.keys()):
            h = self.hash_first_degree_quads(bid)
            hash_to_blank_nodes.setdefault(h, []).append(bid)

        # step 5.4: issue canonical ids for unique hashes in hash order;
        # gather non-unique groups in the same pass
        non_unique = []
        for h in sorted(hash_to_blank_nodes.keys()):
            id_list = hash_to_blank_nodes[h]
            if len(id_list) > 1:
                non_unique.append(id_list)
            else:
                self.canonical_issuer.get_id(id_list[0])

        # deep-iteration budget (lib/RDFC10Sync.js:102-118)
        if self.max_deep_iterations < 0:
            if self.max_work_factor == 0:
                self.max_deep_iterations = 0
            elif self.max_work_factor == float("inf"):
                self.max_deep_iterations = float("inf")
            else:
                non_unique_count = sum(len(v) for v in non_unique)
                self.max_deep_iterations = (
                    non_unique_count ** self.max_work_factor
                )
        if self.max_deep_iterations > 2 ** 53 - 1:  # MAX_SAFE_INTEGER
            self.max_deep_iterations = float("inf")
        self.remaining_deep_iterations = self.max_deep_iterations

        # step 6: n-degree phase per non-unique group
        for id_list in non_unique:
            hash_path_list = []
            for bid in id_list:
                if self.canonical_issuer.has_id(bid):
                    continue
                issuer = IdentifierIssuer("b")
                issuer.get_id(bid)
                hash_path_list.append(self.hash_n_degree_quads(bid, issuer))
            hash_path_list.sort(key=lambda r: utf16_sort_key(r[0]))
            for _, issuer in hash_path_list:
                for old in issuer.get_old_ids():
                    self.canonical_issuer.get_id(old)

        # step 7-8: relabel, serialize, sort, join
        normalized = []
        for s, p, o, g in self.quads:
            normalized.append(
                serialize_quad_components(
                    self._canonical_component(s),
                    p,
                    self._canonical_component(o),
                    self._canonical_component(g),
                )
            )
        normalized.sort(key=utf16_sort_key)
        return "".join(normalized)

    # 4.6) hash first degree quads (lib/RDFC10Sync.js:197-236)
    def hash_first_degree_quads(self, bid):
        info = self.blank_node_info[bid]
        nquads = []
        for s, p, o, g in info["quads"]:
            nquads.append(
                serialize_quad_components(
                    self._modify_first_degree(bid, s),
                    p,
                    self._modify_first_degree(bid, o),
                    self._modify_first_degree(bid, g),
                )
            )
        nquads.sort(key=utf16_sort_key)
        md = self.create_message_digest()
        for nq in nquads:
            md.update(nq)
        info["hash"] = md.digest()
        return info["hash"]

    # 4.7) hash related blank node (lib/RDFC10Sync.js:239-270).
    # Hash input framing is position ++ <predicate> ++ id with NO
    # separators; update order must match exactly.
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

    # 4.8) hash n-degree quads (lib/RDFC10Sync.js:273-412)
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

            permuter = Permuter(hash_to_related[h])
            i = 0
            while permuter.has_next():
                permutation = permuter.next()
                i += 1
                if i % 3 == 0:
                    if self.start_time is not None and (
                        time.monotonic() - self.start_time
                    ) * 1000.0 > self.timeout:
                        raise CanonizeTimeoutError("Canonize timeout.")
                    if self.signal is not None:
                        self._check_signal()

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
                    # prune: issued ids and hashes are ASCII, plain
                    # compare == UTF-16 compare here
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

    # --- helpers -------------------------------------------------------------
    def _check_signal(self):
        """Exact reference abort semantics (lib/RDFC10.js:310-312):
        raise with the signal's reason once aborted."""
        sig = self.signal
        if callable(sig):
            reason = sig()
            if reason:
                raise CanonizeAbortError(
                    'Abort signal received: "%s".' % (reason,)
                )
        elif getattr(sig, "aborted", False):
            raise CanonizeAbortError(
                'Abort signal received: "%s".'
                % (getattr(sig, "reason", None),)
            )

    def _add_info(self, quad, component):
        if component[0] != BLANK:
            return
        bid = component[1]
        info = self.blank_node_info.get(bid)
        if info is not None:
            # Object-identity Set semantics, exactly mirroring the
            # reference's `info.quads.add(quad)` on a JS Set of object
            # references (lib/RDFC10Sync.js:483-494): the SAME quad
            # object is recorded once even when aliased non-adjacently
            # in dataset input, while two value-equal but distinct
            # objects are both kept.  (A last-element identity check
            # would double-count non-adjacent aliases.)
            if id(quad) not in info["ids"]:
                info["ids"].add(id(quad))
                info["quads"].append(quad)
        else:
            self.blank_node_info[bid] = {
                "quads": [quad], "ids": {id(quad)}, "hash": None
            }

    def _modify_first_degree(self, bid, component):
        if component[0] != BLANK:
            return component
        # Spec bug preserved (lib/RDFC10Sync.js:419-427): do NOT use an
        # already-issued canonical id here.
        return _BLANK_A if component[1] == bid else _BLANK_Z

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

    def _canonical_component(self, component):
        # lib/RDFC10Sync.js:521-532 -- bnodes already carrying the c14n
        # prefix are passed through (quirk preserved)
        if component[0] == BLANK and not component[1].startswith("c14n"):
            return (BLANK, self.canonical_issuer.get_id(component[1]),
                    None, None)
        return component


def _js_number(n):
    """Format the budget like JS template interpolation (Infinity, ints)."""
    if n == float("inf"):
        return "Infinity"
    if isinstance(n, float) and n.is_integer():
        return str(int(n))
    return str(n)
