"""Steinhaus-Johnson-Trotter permutation enumerator.

Re-implements the exact enumeration of the reference's
``lib/Permuter.js:13-83`` rather than ``itertools.permutations``: the
reference keys element direction by *value*, so duplicate related-ids in
the input list collapse and yield fewer permutations -- which matters for
deep-iteration-budget fidelity (each permutation processed can trigger
budget-counted recursions in hash-n-degree).  The input list is sorted
in place first (``lib/Permuter.js:15``), using UTF-16 code-unit order.

Each element's UTF-16 sort key is computed once, in ``__init__``.
Iterating a ``Permuter`` yields the same sequence as the
``has_next``/``next`` loop.
"""

from __future__ import annotations

from .terms import utf16_sort_key


class Permuter:
    __slots__ = ("current", "done", "direction", "key")

    def __init__(self, lst):
        # JS string compare == UTF-16 code-unit order; related ids are
        # ASCII in practice, but the key keeps that exact for any label
        self.key = {e: utf16_sort_key(e) for e in lst}
        lst.sort(key=self.key.__getitem__)
        self.current = lst
        self.done = False
        # direction keyed by element VALUE (duplicates share an entry),
        # True = looking left
        self.direction = {e: True for e in lst}

    def has_next(self):
        return not self.done

    def __iter__(self):
        while not self.done:
            yield self.next()

    def next(self):
        current, direction, key = self.current, self.direction, self.key
        rval = list(current)

        # find largest mobile element k
        k = None
        k_key = None
        pos = 0
        length = len(current)
        for i in range(length):
            element = current[i]
            left = direction[element]
            e_key = key[element]
            if (k is None or e_key > k_key) and (
                (left and i > 0 and e_key > key[current[i - 1]])
                or (not left and i < length - 1
                    and e_key > key[current[i + 1]])
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
                if key[element] > k_key:
                    direction[element] = not direction[element]
        return rval
