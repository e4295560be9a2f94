"""KG-pipeline benchmark: one workload, one seed, one JSON result.

Run from the root of a checkout::

    python3 kgbench/run.py --workload kg_heavy --seed 1 --seconds 15 --trace 0
    python3 kgbench/run.py --self-test

``--trace 0`` measures the end-to-end metrics with tracing off, at
``local[nproc]``.  The input is set up three times, each in a fresh
Spark context (input generation and staging, context start, and an
untimed cold run that spins up the Python workers); ``setup_s`` is the
median.  The last set-up's cold run is checked in full; after two
untimed warm-up runs, warm runs in its context fill ``--seconds``.
Each warm run writes to a fresh directory, reads the count of
committed quads back from it, checks it and deletes it;
``quads_per_s`` is the median rate.

``--trace 1`` runs a shorter ``local[nproc]`` leg, then one traced
run: each layer forced in turn (pages, +link, +canonize, +canonize
with a pass-through kernel, +materialize), one span per layer call.
Then the same input runs at ``local[1]`` (for ``quads_per_s_1core``
and ``scaling_efficiency``), and the driver-side kernel loop runs over
a seeded sample of documents.  Layer self times are differences of
those cumulative timings.  Spans are kept in memory and written under
``.kgbench_out/`` when the run ends.

The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}``.  ``attempted`` is
the number of input documents and ``failed`` the number that were wrong
in any run (failed_frac = failed / attempted).  The line before it
records the environment: nproc, git commit, source digest, versions.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import uuid

ROOT = os.getcwd()
SETUPS = 3  # set-ups per untraced run; setup_s is their median
MIN_WARM_RUNS = 3  # at least this many timed runs per leg
# Untimed runs after the check, before the timed ones: at local[4],
# after three set-ups and the check, the first two runs of 3,000 heavy
# pages still take 2.9 and 2.6 s, the next ones 2.0-2.3 s.
JIT_WARMUP_RUNS = 2


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=("kg_heavy", "kg_small_docs",
                                          "nquads_symmetric"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size relative to the benchmark's")
    p.add_argument("--corrupt-expected", action="store_true",
                   help="corrupt one expected output (gate self-test)")
    p.add_argument("--self-test", action="store_true")
    args = p.parse_args(argv)
    if not args.self_test and not args.workload:
        p.error("--workload is required")
    return args


def _source_digest(root):
    h = hashlib.sha256()
    pkg = os.path.join(root, "rdf_canonize_spark")
    for dirpath, dirnames, names in os.walk(pkg):
        dirnames.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                path = os.path.join(dirpath, n)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def _environment(nproc):
    import pyarrow
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = None  # checkouts without git metadata
    return {"nproc": nproc, "git_commit": commit,
            "source_sha256": _source_digest(ROOT),
            "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "python": platform.python_version()}


def _set_up(env, wl, seed, master, nproc):
    """One set-up: input generation and staging, context start, and an
    untimed cold deploy (which spins up the Python workers).  Returns
    the session, the set-up time and the cold run's output directory."""
    t0 = time.perf_counter()
    wl.prepare(env, seed)
    spark = env.start(master, shuffle_partitions=2 * nproc)
    out = env.fresh_dir()
    wl.deploy(spark, out)
    return spark, time.perf_counter() - t0, out


def _check_and_warm_up(spark, wl, env, out, warmups, full_check):
    """Check the cold run's output in ``out`` (in full with
    ``full_check``), then ``warmups`` untimed deploys."""
    wl.check(spark, wl.readback(out, with_text=full_check), full=full_check)
    shutil.rmtree(out)
    for _ in range(warmups):
        out = env.fresh_dir()
        wl.deploy(spark, out)
        shutil.rmtree(out)


def _warm_runs(spark, wl, env, budget_s):
    """Timed deploys: at least ``MIN_WARM_RUNS``, and more while the
    next one is expected to end within ``budget_s``.  Each commits into
    a fresh directory, whose quads are read back and checked."""
    from kgbench.sparkenv import host_steal_s

    walls, rates, steals = [], [], []
    start = time.perf_counter()
    while len(walls) < MIN_WARM_RUNS or (time.perf_counter() - start
                                         + statistics.median(walls)
                                         <= budget_s):
        out = env.fresh_dir()
        steal = host_steal_s()
        wall = wl.deploy(spark, out)
        steals.append(host_steal_s() - steal)
        committed = wl.readback(out)
        wl.check(spark, committed, full=False)
        shutil.rmtree(out)
        walls.append(wall)
        rates.append(committed.quads / wall)
    return {"walls_s": walls, "host_steal_s": steals, "quads_per_s": rates}


def _run_leg(env, wl, seed, master, nproc, budget_s, warmups,
             full_check=False, keep=False):
    """One set-up at ``master``, the check, ``warmups`` untimed runs,
    then warm runs for ``budget_s``.  Returns the leg record (and the
    live session when ``keep``)."""
    spark, setup, out = _set_up(env, wl, seed, master, nproc)
    _check_and_warm_up(spark, wl, env, out, warmups, full_check)
    leg = {"master": master, "setup_s": setup,
           **_warm_runs(spark, wl, env, budget_s),
           "worker_peak_rss_mb": env.worker_peak_rss_mb()}
    if keep:
        return leg, spark
    spark.stop()
    return leg


def measure(env, wl, args, nproc):
    """Untraced run: the end-to-end metrics, all at ``local[nproc]``.
    ``SETUPS`` set-ups of the same input, each in a fresh context (the
    first also launches the JVM, which outlives its context); the last
    one is a leg whose warm runs fill ``--seconds``."""
    master = "local[%d]" % nproc
    setups = []
    for _ in range(SETUPS - 1):
        spark, setup, out = _set_up(env, wl, args.seed, master, nproc)
        setups.append(setup)
        shutil.rmtree(out)
        spark.stop()
    leg = _run_leg(env, wl, args.seed, master, nproc, args.seconds,
                   JIT_WARMUP_RUNS, full_check=True)
    setups.append(leg["setup_s"])
    metrics = {
        "quads_per_s": (statistics.median(leg["quads_per_s"]), "quads/s"),
        "setup_s": (statistics.median(setups), "s"),
        "worker_peak_rss_mb": (leg["worker_peak_rss_mb"], "MB"),
    }
    return metrics, {"legs": [leg], "setups_s": setups}


def measure_traced(env, wl, args, nproc, tracer):
    """Traced run: the per-layer metrics."""
    from kgbench.kernel import run_kernel_loop

    wl.check_settings_groups = True
    leg, spark = _run_leg(env, wl, args.seed, "local[%d]" % nproc, nproc,
                          args.seconds / 4, JIT_WARMUP_RUNS,
                          full_check=True, keep=True)
    with tracer.span("traced_run"):
        found, stats, committed = wl.traced_layers(spark, tracer,
                                                   env.fresh_dir)
    # the traced deploy runs the same path as the untraced warm runs
    traced_deploy_s = tracer.min_duration("materialize")
    wl.check(spark, committed, full=False)
    docs = wl.kernel_docs_rows(spark)
    spark.stop()
    # the same input at local[1], in the JVM warmed above; the gate
    # compares its outputs per document with the local[nproc] ones
    # (repartition invariance)
    one = _run_leg(env, wl, args.seed, "local[1]", nproc, args.seconds / 4,
                   0)
    qps = statistics.median(leg["quads_per_s"])
    qps1 = statistics.median(one["quads_per_s"])
    with tracer.span("kernel_loop"):
        kernel = run_kernel_loop(docs, tracer)

    def self_s(name, upstream=None):
        own = tracer.min_duration(name)
        return own - tracer.min_duration(upstream) if upstream else own

    canon_up = "link" if wl.kind == "kg" else "nquads_io.read"
    m = {
        "quads_per_s_1core": (qps1, "quads/s"),
        "scaling_efficiency": (qps / (nproc * qps1), "ratio"),
        "pages.s": (self_s("pages"), "s"),
        "pages.rows": (found.get("pages.rows", 0), "count"),
        "link.s": (self_s("link", "pages") if wl.kind == "kg" else 0.0, "s"),
        "link.quads": (found.get("link.quads", 0), "count"),
        "link.bnode_share": (found.get("link.bnode_share", 0.0), "ratio"),
        "canon_stage.s": (self_s("canon_stage", canon_up), "s"),
        "canon_stage.docs": (stats["docs"], "count"),
        "canon_stage.transport_s": (
            self_s("canon_stage.transport", canon_up), "s"),
        "canon_stage.partition_skew": (stats["skew"], "ratio"),
        "canon_stage.quarantined.budget": (stats["budget"], "count"),
        "canon_stage.quarantined.oversized": (stats["oversized"], "count"),
        "canon_stage.quarantined.parse": (stats["parse"], "count"),
        "nquads_io.parse_s": (self_s("nquads_io.read"), "s"),
        "nquads_io.files": (found.get("nquads_io.files", 0), "count"),
        "materialize.write_s": (self_s("materialize", "canon_stage"), "s"),
        "materialize.bytes_per_quad": (
            committed.nbytes / max(1, committed.quads), "B/quad"),
        "materialize.files": (committed.files, "count"),
        "trace.overhead_s": (
            traced_deploy_s - statistics.median(leg["walls_s"]), "s"),
    }
    units = {"kernel.quads_per_s_core": "quads/s",
             "kernel.deep_iterations": "count",
             "kernel.n_degree_calls": "count"}
    for k, v in kernel.items():
        m[k] = (v, units.get(k, "s"))
    return m, {"legs": [leg, one], "traced_deploy_s": traced_deploy_s}


def main(argv=None):
    args = _parse(argv)
    if not (os.path.isdir(os.path.join(ROOT, "rdf_canonize_spark"))
            and os.path.isdir(os.path.join(ROOT, "tests", "fixtures"))):
        print("kgbench: run from the root of a checkout holding "
              "rdf_canonize_spark/ and tests/fixtures/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.self_test:
        from kgbench import selftest

        return selftest.main(ROOT)

    from kgbench import sparkenv

    others = sparkenv.wait_for_exclusive_host()
    if others:
        print("kgbench: another Spark process is running (pids %s); "
              "scaling legs need the host to themselves" % others,
              file=sys.stderr)
        return 3
    from kgbench.spans import Tracer
    from kgbench.workloads import make_workload

    started = time.perf_counter()
    nproc = len(os.sched_getaffinity(0))
    run_id = uuid.uuid4().hex[:12]
    env = sparkenv.SparkEnv(ROOT, os.path.join(ROOT, ".kgbench_work",
                                                run_id))
    wl = make_workload(args.workload, args.scale, nproc)
    tracer = Tracer()
    try:
        wl.corrupt = args.corrupt_expected
        if args.trace:
            metrics, detail = measure_traced(env, wl, args, nproc, tracer)
        else:
            metrics, detail = measure(env, wl, args, nproc)
    finally:
        env.close()
    failed = len(wl.gate.failed)
    result = {
        "correct": failed == 0,
        "attempted": wl.n_docs,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }
    record = {"env": _environment(nproc), "workload": args.workload,
              "run_wall_s": time.perf_counter() - started,
              "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "scale": args.scale,
              "failed_frac": failed / max(1, wl.n_docs),
              "failed_docs": sorted(wl.gate.failed)[:20],
              "output_digests": wl.gate.digests, **detail, "result": result}
    out_dir = os.path.join(ROOT, ".kgbench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, "%s-seed%d-trace%d-%s" % (
        args.workload, args.seed, args.trace, run_id))
    with open(stem + ".json", "w", encoding="utf-8") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        tracer.dump(stem + ".spans.json", workload=args.workload,
                    seed=args.seed)
    print(json.dumps({"kgbench_env": record["env"],
                      "failed_frac": record["failed_frac"],
                      "record": os.path.relpath(stem + ".json", ROOT)}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
