"""The three workloads: input generation from the seed, the deploy path
each one times, read-back of the committed output, the correctness
gate, and the traced per-layer run.

``kg_heavy`` / ``kg_small_docs`` run ``run_pipeline(out_dir=...)``
(which commits through ``write_batch``) over synthesized pages.
``nquads_symmetric`` runs ``canonize_nquads_files`` then
``write_canonical_nquads`` over a staged directory of ``.nq`` files.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

from rdf_canonize_spark.pipeline import canon_stage
from rdf_canonize_spark.pipeline.canon_stage import canonize_documents
from rdf_canonize_spark.pipeline.link import build_quads, gazetteer_df
from rdf_canonize_spark.pipeline.pages import (
    synthesize_heavy_pages,
    synthesize_pages,
)
from rdf_canonize_spark.pipeline.runner import run_pipeline
from rdf_canonize_spark.rdfc import canonize, nquads
from rdf_canonize_spark.rdfc.terms import DEFAULT_GRAPH, LITERAL, XSD_STRING
from rdf_canonize_spark.sources.nquads_io import (
    canonize_nquads_files,
    quad_rows,
    read_nquads,
    write_canonical_nquads,
)

from . import corpus
from .kernel import KERNEL_COLS

MAX_WORK_FACTOR = 3
URL_PREFIX = "https://crawl.example.org/p/"

QUARANTINE_PREFIXES = {
    "budget": "Maximum deep iterations exceeded",
    "oversized": canon_stage.OVERSIZED_PREFIX,
    "parse": "N-Quads parse error",
}


def passthrough_kernel(url, rows, max_work_factor, doc_timeout_ms=0,
                       max_doc_quads=0, message_digest_algorithm="sha256"):
    """``kernel_fn`` that canonicalizes nothing: the stage run with it
    costs Arrow transport, row grouping and output assembly only."""
    return {"url": url, "nquads": "", "label_map": None,
            "n_quads": len(rows), "n_bnodes": 0, "deep_iterations": 0,
            "quads_hash": None, "error": None, "input_hash": None}


def stage_stats(canonical):
    """Docs, quarantines by reason and partition skew (max / mean quads
    over the kernel's tasks) from one tiny per-partition aggregate of a
    canonical frame.  Evaluated untimed, after the traced layers."""
    err = F.col("error")
    parts = canonical.groupBy(F.spark_partition_id().alias("pid")).agg(
        F.count(F.lit(1)).alias("docs"), F.sum("n_quads").alias("quads"),
        *[F.sum(F.when(err.startswith(prefix), 1).otherwise(0)).alias(r)
          for r, prefix in QUARANTINE_PREFIXES.items()]).collect()
    quads = [r["quads"] or 0 for r in parts]
    out = {r: sum(p[r] for p in parts)
           for r in ("docs", *QUARANTINE_PREFIXES)}
    out["skew"] = max(quads) * len(quads) / sum(quads) if sum(quads) else 0.0
    return out


TRACE_REPS = 2  # each forced layer runs this often; self times use the min


def forced(tracer, name, make_df, aggs=None, **attrs):
    """Evaluate ``make_df()`` in full (no-op sink) under one span per
    repetition; returns the aggregates observed on the last one."""
    got = {}
    for rep in range(TRACE_REPS):
        with tracer.span(name, rep=rep, **attrs):
            df = make_df()
            if aggs:
                obs = Observation()
                df = df.observe(obs, *aggs())
            _noop(df)
        if aggs:
            got = obs.get
    return got


def traced_deploy(tracer, wl, spark, fresh_dir):
    """The full deploy path under ``materialize`` spans; returns the
    committed output of the last repetition."""
    for rep in range(TRACE_REPS):
        out = fresh_dir()
        with tracer.span("materialize", rep=rep, upstream="canon_stage"):
            wl.deploy(spark, out)
        committed = wl.readback(out)
        shutil.rmtree(out)
    return committed


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _data_files(path):
    """Committed data files under ``path`` (no markers or checksums)."""
    out = []
    for dirpath, _, names in os.walk(path):
        out += [os.path.join(dirpath, n) for n in names
                if not n.startswith((".", "_"))]
    return sorted(out)


class Committed:
    """What one deploy run left on disk, read back on the driver."""

    def __init__(self, quads, docs, nbytes, files):
        self.quads = quads      # canonical quads committed
        self.docs = docs        # key -> (digest of output, error)
        self.nbytes = nbytes
        self.files = files
        self.nquads = {}        # key -> canonical text, when read


class Gate:
    """Correctness gate: every input document that is ever wrong lands
    in ``failed``.  Outputs of every run must also agree per document
    with the first run checked (repartition invariance across legs)."""

    def __init__(self, keys):
        self.keys = set(keys)
        self.failed = set()
        self.reference = None
        self.digests = []

    def compare(self, committed, keys=None):
        """``keys``: the documents the output must hold (default: all)."""
        docs = committed.docs
        keys = self.keys if keys is None else keys
        self.failed |= keys - set(docs)
        self.failed |= set(docs) - keys
        if self.reference is None:
            self.reference = docs
        else:
            self.failed |= {k for k, v in docs.items()
                            if self.reference.get(k) != v}
        h = hashlib.sha256()
        for k in sorted(docs):
            h.update(("%s|%s|%s\n" % (k, docs[k][0], docs[k][1])).encode())
        self.digests.append(h.hexdigest())


class KGWorkload:
    kind = "kg"
    corrupt = False  # self-test: the sample oracle expects one wrong doc
    gate = None

    def __init__(self, name, synth, n_docs, partitions, sample_docs,
                 kernel_docs):
        self.name = name
        self.synth = synth
        self.partitions = partitions
        self.n_docs = n_docs
        self.sample_docs = min(sample_docs, n_docs)
        self.kernel_docs = min(kernel_docs, n_docs)

    # --- input ---------------------------------------------------------
    def prepare(self, env, seed):
        """The seed picks the key range [lo, lo + n): the synthesizer
        makes keys [0, lo + n) and the first ``lo`` are dropped.  ``lo``
        stays under 1/8 of a task's keys, so tasks stay near-balanced.
        Nothing is staged on disk."""
        self.rng = random.Random(seed)
        self.lo = self.rng.randrange(max(1, self.n_docs
                                         // (8 * self.partitions)))
        self.keys = ["%s%012d" % (URL_PREFIX, k)
                     for k in range(self.lo, self.lo + self.n_docs)]
        if self.gate is None:  # a repeated set-up keeps the gate
            self.gate = Gate(self.keys)

    def pages(self, spark):
        pages = self.synth(spark, self.lo + self.n_docs,
                           partitions=self.partitions)
        return pages.where(F.col("url") >= self.keys[0])

    # --- the timed deploy path ----------------------------------------
    def deploy(self, spark, out):
        t0 = time.perf_counter()
        run_pipeline(spark, self.pages(spark),
                     max_work_factor=MAX_WORK_FACTOR, out_dir=out)
        return time.perf_counter() - t0

    def readback(self, out, with_text=False):
        import pyarrow.parquet as pq

        data = os.path.join(out, "canonical_nquads", "batch=0")
        files = _data_files(data)
        cols = ["url", "n_quads", "quads_hash", "error"]
        if with_text:
            cols.append("nquads")
        table = pq.read_table(data, columns=cols).to_pydict()
        quads = sum(n for n, e in zip(table["n_quads"], table["error"])
                    if e is None)
        committed = Committed(
            quads,
            dict(zip(table["url"], zip(table["quads_hash"], table["error"]))),
            sum(os.path.getsize(f) for f in files), len(files))
        if len(committed.docs) != len(table["url"]):
            committed.docs["<duplicate url>"] = (None, None)
        if with_text:
            committed.nquads = dict(zip(table["url"], table["nquads"]))
        return committed

    # --- correctness ---------------------------------------------------
    def check(self, spark, committed, full):
        """Documents out == pages in, no quarantine, per-url agreement
        with the first run; with ``full``, a seeded sample must equal a
        driver-side ``rdfc.canonize`` of the same quads."""
        gate = self.gate
        gate.compare(committed)
        gate.failed |= {k for k, (_, err) in committed.docs.items() if err}
        if not full:
            return
        for url, rows in self.sample_rows(spark, self.sample_docs):
            want = canonize(rows_to_nquads(rows), algorithm="RDFC-1.0",
                            input_format="application/n-quads",
                            max_work_factor=MAX_WORK_FACTOR)
            got = committed.nquads.get(url)
            qh = committed.docs.get(url, (None, None))[0]
            if got != want or qh != hashlib.sha256(
                    want.encode("utf-8")).hexdigest():
                gate.failed.add(url)

    def sample_rows(self, spark, n):
        urls = sorted(self.rng.sample(self.keys, n))
        rows = {}
        quads = build_quads(self.pages(spark).where(F.col("url").isin(urls)),
                            gazetteer_df(spark))
        for r in quads.select("url", *KERNEL_COLS).collect():
            rows.setdefault(r["url"], []).append(tuple(r[1:]))
        out = [(u, rows.get(u, [])) for u in urls]
        if self.corrupt and out:
            out[0] = (out[0][0], out[0][1][1:])
        return out

    # --- traced layers ---------------------------------------------------
    def traced_layers(self, spark, tracer, fresh_dir):
        gaz = gazetteer_df(spark)
        found = forced(tracer, "pages", lambda: self.pages(spark),
                       lambda: [F.count(F.lit(1)).alias("rows")])
        bnode = (F.col("s_kind") == 1) | (F.col("o_kind") == 1)
        link = forced(
            tracer, "link", lambda: build_quads(self.pages(spark), gaz),
            lambda: [F.count(F.lit(1)).alias("quads"),
                     F.sum(F.when(bnode, 1).otherwise(0)).alias("bnode")],
            upstream="pages")

        def canonical():
            return canonize_documents(build_quads(self.pages(spark), gaz),
                                      max_work_factor=MAX_WORK_FACTOR)

        forced(tracer, "canon_stage", canonical, upstream="link")
        forced(tracer, "canon_stage.transport",
               lambda: canonize_documents(
                   build_quads(self.pages(spark), gaz),
                   max_work_factor=MAX_WORK_FACTOR,
                   kernel_fn=passthrough_kernel),
               upstream="link")
        committed = traced_deploy(tracer, self, spark, fresh_dir)
        return {"pages.rows": found["rows"], "link.quads": link["quads"],
                "link.bnode_share": link["bnode"] / max(1, link["quads"])
                }, stage_stats(canonical()), committed

    def kernel_docs_rows(self, spark):
        return [(u, rows, MAX_WORK_FACTOR, "sha256")
                for u, rows in self.sample_rows(spark, self.kernel_docs)]


def rows_to_nquads(rows):
    """Quad-table rows -> N-Quads text for the driver-side oracle."""
    lines = []
    for s_kind, s, p, o_kind, o, o_dt, o_lang, g_kind, g in rows:
        if o_kind == LITERAL:
            obj = (LITERAL, o, o_dt or XSD_STRING, o_lang)
        else:
            obj = (o_kind, o, None, None)
        graph = (g_kind, "" if g_kind == DEFAULT_GRAPH else g, None, None)
        lines.append(nquads.serialize_quad(
            ((s_kind, s, None, None), (0, p, None, None), obj, graph)))
    return "".join(lines)


class NQuadsWorkload:
    kind = "nq"
    corrupt = False  # self-test: one expected output is corrupted
    gate = None
    # Also check the docs staged outside the deploy directory.  They
    # take no part in the timed path, so only the traced run pays for
    # checking them.
    check_settings_groups = False

    def __init__(self, name, copies):
        self.name = name
        self.copies = copies

    # --- input ---------------------------------------------------------
    def prepare(self, env, seed):
        """Stage the seed's ``.nq`` corpus into the work directory,
        replacing what an earlier call staged there."""
        self.docs = {d.name: d for d in corpus.build(env.root, seed,
                                                     self.copies)}
        staged = os.path.join(env.work, "input")
        shutil.rmtree(staged, ignore_errors=True)  # a repeated set-up
        groups = corpus.stage(self.docs.values(), staged)
        self.deploy_dir = groups.pop((corpus.DEPLOY_WF, "sha256"))
        self.settings_groups = groups if self.check_settings_groups else {}
        checked = {k for k, d in self.docs.items()
                   if d.timed or self.check_settings_groups}
        if self.gate is None:  # a repeated set-up keeps the gate
            self.gate = Gate(checked)
        self.n_docs = len(checked)
        self.corrupt_name = min(
            k for k, d in self.docs.items() if d.nquads and d.timed
        ) if self.corrupt else None

    def canonize_settings_groups(self, spark):
        """Docs whose expectation needs another work factor or digest:
        the same source and stage with those settings set."""
        return [canonize_documents(
            quad_rows(read_nquads(spark, path)), max_work_factor=wf,
            strategy="repartition", message_digest_algorithm=alg)
            for (wf, alg), path in sorted(self.settings_groups.items())]

    # --- the timed deploy path ----------------------------------------
    def deploy(self, spark, out):
        t0 = time.perf_counter()
        write_canonical_nquads(
            canonize_nquads_files(spark, self.deploy_dir,
                                  max_work_factor=MAX_WORK_FACTOR), out)
        return time.perf_counter() - t0

    def readback(self, out, with_text=True):
        """Parse the committed text: per document a ``# <url>`` line,
        its canonical lines, then one empty line."""
        texts, dups, cur = {}, set(), None
        files = _data_files(out)
        for path in files:
            with open(path, encoding="utf-8") as f:
                for line in f.read().split("\n"):
                    if line.startswith("# "):
                        cur = _doc_key(line[2:])
                        if cur in texts:
                            dups.add(cur)
                        texts[cur] = ""
                    elif line:
                        texts[cur] += line + "\n"
        committed = Committed(
            sum(t.count("\n") for t in texts.values()),
            {k: (hashlib.sha256(t.encode("utf-8")).hexdigest(), None)
             for k, t in texts.items()},
            sum(os.path.getsize(f) for f in files), len(files))
        committed.nquads = texts
        for k in dups:
            committed.docs[k] = ("<duplicate>", None)
        return committed

    # --- correctness ---------------------------------------------------
    def check(self, spark, committed, full):
        """Committed text: exactly the timed non-quarantined documents,
        each with its expected bytes.  With ``full``, one collect of the
        canonical frames checks every checked document, including each
        quarantine's exact error text and every label map."""
        gate = self.gate
        gate.compare(committed, {k for k, d in self.docs.items()
                                 if d.timed and d.error is None})
        for k, text in committed.nquads.items():
            d = self.docs.get(k)
            if d is None or d.error is not None or (
                    d.nquads is not None and text != self._want(d)):
                gate.failed.add(k)
        if not full:
            return
        frame = canonize_nquads_files(spark, self.deploy_dir,
                                      max_work_factor=MAX_WORK_FACTOR)
        for other in self.canonize_settings_groups(spark):
            frame = frame.unionByName(other)
        seen = set()
        for r in frame.select("url", "nquads", "label_map", "error").collect():
            k = _doc_key(r["url"])
            seen.add(k)
            d = self.docs.get(k)
            if d is None or r["error"] != d.error or (
                    d.error is None and (
                        (d.nquads is not None
                         and r["nquads"] != self._want(d))
                        or not corpus.label_map_ok(
                            d, dict(r["label_map"] or {})))):
                gate.failed.add(k)
        gate.failed |= gate.keys - seen

    def _want(self, d):
        if d.name == self.corrupt_name:
            return d.nquads + "<urn:corrupted> <urn:by> <urn:self-test> .\n"
        return d.nquads

    # --- traced layers ---------------------------------------------------
    def traced_layers(self, spark, tracer, fresh_dir):
        forced(tracer, "nquads_io.read",
               lambda: read_nquads(spark, self.deploy_dir))

        def canonical():
            return canonize_nquads_files(spark, self.deploy_dir,
                                         max_work_factor=MAX_WORK_FACTOR)

        # what the text sink evaluates: quarantined rows are pruned
        forced(tracer, "canon_stage",
               lambda: canonical().filter(F.col("nquads").isNotNull()),
               upstream="nquads_io.read")
        forced(tracer, "canon_stage.transport",
               lambda: canonize_documents(
                   quad_rows(read_nquads(spark, self.deploy_dir)),
                   max_work_factor=MAX_WORK_FACTOR, strategy="repartition",
                   kernel_fn=passthrough_kernel),
               upstream="nquads_io.read")
        committed = traced_deploy(tracer, self, spark, fresh_dir)
        return ({"nquads_io.files": sum(d.timed
                                        for d in self.docs.values())},
                stage_stats(canonical()), committed)

    def kernel_docs_rows(self, spark):
        rows = {}
        for r in quad_rows(read_nquads(spark, self.deploy_dir)).select(
                "url", *KERNEL_COLS).collect():
            rows.setdefault(_doc_key(r["url"]), []).append(tuple(r[1:]))
        return [(k, rows[k], MAX_WORK_FACTOR, "sha256") for k in sorted(rows)]


def _doc_key(url):
    """``file:/.../wf3-sha256/<name>.nq`` -> ``<name>``."""
    return url.rsplit("/", 1)[-1][: -len(".nq")]


def make_workload(name, scale, nproc):
    """Workload ``name`` at ``scale`` times its benchmark size.  KG
    inputs are ``nproc`` tasks at every parallelism level: one wave at
    ``local[nproc]``, the same tasks in sequence at ``local[1]``."""
    if name == "nquads_symmetric":
        return NQuadsWorkload(name, copies=max(1, round(1 * scale)))
    synth, n_docs, kernel_docs = {
        "kg_heavy": (synthesize_heavy_pages, 3000, 1000),
        "kg_small_docs": (synthesize_pages, 10000, 4000),
    }[name]
    return KGWorkload(name, synth, n_docs=int(n_docs * scale),
                      partitions=nproc, sample_docs=48,
                      kernel_docs=max(1, int(kernel_docs * scale)))

