"""Single-threaded driver loop over the canonicalization kernel's
sub-phases, timed from outside around the kernel's public pieces.

Per document it mirrors ``canon_stage._canonize_rows_for_url``: the
input content hash (``input_hash_of_rows``), the dataset build
(``rows_to_dataset``), then ``RDFC10.main``.  Inside ``main`` a timing
subclass splits out first-degree hashing and n-degree hashing (timed
at the outermost ``hash_n_degree_quads`` call only); the rest of
``main`` is indexing, relabelling, serialization and sorting.
"""

from __future__ import annotations

import time

from rdf_canonize_spark.pipeline import canon_stage
from rdf_canonize_spark.rdfc.canonize import RDFC10

KERNEL_COLS = ("s_kind", "s", "p", "o_kind", "o",
               "o_datatype", "o_lang", "g_kind", "g")


class TimedRDFC10(RDFC10):
    def __init__(self, **kwargs):
        super().__init__(**kwargs)
        self.first_degree_s = 0.0
        self.n_degree_s = 0.0
        self.n_degree_calls = 0
        self._depth = 0

    def hash_first_degree_quads(self, bid):
        t0 = time.perf_counter()
        try:
            return super().hash_first_degree_quads(bid)
        finally:
            self.first_degree_s += time.perf_counter() - t0

    def hash_n_degree_quads(self, bid, issuer):
        if self._depth:
            return super().hash_n_degree_quads(bid, issuer)
        self._depth = 1
        self.n_degree_calls += 1
        t0 = time.perf_counter()
        try:
            return super().hash_n_degree_quads(bid, issuer)
        finally:
            self.n_degree_s += time.perf_counter() - t0
            self._depth = 0


def run_kernel_loop(docs, tracer):
    """``docs``: list of (url, rows, max_work_factor, digest) with rows
    as tuples in ``KERNEL_COLS`` order.  Returns the ``kernel.*``
    per-layer metrics.  The input-hash phase reads 0 once the kernel
    no longer computes that hash."""
    input_hash = getattr(canon_stage, "input_hash_of_rows", None)
    acc = {"input_hash": 0.0, "dataset_build": 0.0, "main": 0.0,
           "first_degree": 0.0, "n_degree": 0.0}
    quads = deep = calls = 0
    for url, rows, wf, digest in docs:
        with tracer.span("kernel.doc", url=url):
            t0 = time.perf_counter()
            if input_hash is not None:
                with tracer.span("kernel.input_hash"):
                    input_hash(rows)
            t1 = time.perf_counter()
            with tracer.span("kernel.dataset_build"):
                dataset = canon_stage.rows_to_dataset(rows)
            t2 = time.perf_counter()
            engine = TimedRDFC10(canonical_id_map={}, max_work_factor=wf,
                                 message_digest_algorithm=digest)
            with tracer.span("kernel.main"):
                try:
                    engine.main(dataset)
                except RuntimeError:
                    pass  # budget quarantine: the time still counts
            t3 = time.perf_counter()
        acc["input_hash"] += t1 - t0
        acc["dataset_build"] += t2 - t1
        acc["main"] += t3 - t2
        acc["first_degree"] += engine.first_degree_s
        acc["n_degree"] += engine.n_degree_s
        quads += len(dataset)
        deep += engine.deep_iterations_used
        calls += engine.n_degree_calls
    total = acc["input_hash"] + acc["dataset_build"] + acc["main"]
    return {
        "kernel.quads_per_s_core": quads / total if total else 0.0,
        "kernel.input_hash_s": acc["input_hash"],
        "kernel.dataset_build_s": acc["dataset_build"],
        "kernel.first_degree_s": acc["first_degree"],
        "kernel.n_degree_s": acc["n_degree"],
        "kernel.deep_iterations": deep,
        "kernel.n_degree_calls": calls,
        "kernel.relabel_serialize_s": (acc["main"] - acc["first_degree"]
                                       - acc["n_degree"]),
    }
