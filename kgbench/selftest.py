"""Self-test of the benchmark, at tiny sizes.

* Every workload, untraced and traced, exits 0 and prints a result whose
  metrics are exactly the ``end_to_end`` (untraced) or ``per_layer``
  (traced) names of ``BENCHMARK.json``, with their units, and
  ``correct: true``.
* The traced run reaches ``hash_n_degree_quads`` on
  ``nquads_symmetric`` and never on the KG workloads.
* With one expected output corrupted, the gate reports ``failed > 0``
  (a KG workload and ``nquads_symmetric``).
* In a directory holding only ``BENCHMARK.json`` and the benchmark, the
  command exits non-zero without printing a result.

Run: ``python3 kgbench/run.py --self-test`` (a few minutes).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

SCALE = "0.1"
WORKLOADS = ("kg_heavy", "kg_small_docs", "nquads_symmetric")


def _run(cwd, *args):
    proc = subprocess.run(
        [sys.executable, os.path.join("kgbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except ValueError:
        result = None
    return proc.returncode, result, proc.stderr[-2000:]


def _check_result(label, result, metrics, problems):
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append("%s: result keys %s" % (label, sorted(result)))
        return
    got = result["metrics"]
    if set(got) != set(metrics):
        problems.append("%s: metrics differ from BENCHMARK.json: %s" % (
            label, sorted(set(got) ^ set(metrics))))
    for name, unit in metrics.items():
        m = got.get(name, {})
        if m.get("unit") != unit or not isinstance(m.get("value"),
                                                   (int, float)):
            problems.append("%s: bad %s: %s" % (label, name, m))
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        problems.append("%s: gate failed on clean input: %s" % (
            label, {k: result[k] for k in ("correct", "attempted",
                                           "failed")}))


def main(root):
    with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    end_to_end = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    problems = []
    for w in WORKLOADS:
        for trace, metrics in ((0, end_to_end), (1, per_layer)):
            label = "%s trace=%d" % (w, trace)
            code, result, err = _run(root, "--workload", w, "--seed", "7",
                                     "--seconds", "1", "--trace", str(trace),
                                     "--scale", SCALE)
            print(label, "exit", code, json.dumps(result), flush=True)
            if code != 0 or result is None:
                problems.append("%s: exit %d\n%s" % (label, code, err))
                continue
            _check_result(label, result, metrics, problems)
            deep = result["metrics"].get("kernel.deep_iterations", {})
            if trace and (deep.get("value", 0) > 0) != (
                    w == "nquads_symmetric"):
                problems.append("%s: kernel.deep_iterations = %s" % (
                    label, deep.get("value")))
    for w in ("kg_small_docs", "nquads_symmetric"):
        label = "%s corrupted" % w
        code, result, err = _run(root, "--workload", w, "--seed", "7",
                                 "--seconds", "1", "--trace", "0",
                                 "--scale", SCALE, "--corrupt-expected")
        print(label, "exit", code, json.dumps(result), flush=True)
        if code != 0 or result is None:
            problems.append("%s: exit %d\n%s" % (label, code, err))
        elif not result["failed"] or result["correct"]:
            problems.append("%s: gate missed the corrupted output" % label)
    bare = os.path.join(root, ".kgbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(root, "BENCHMARK.json"), bare)
        shutil.copytree(os.path.join(root, "kgbench"),
                        os.path.join(bare, "kgbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        code, result, _ = _run(bare, "--workload", "kg_heavy", "--seed", "1",
                               "--seconds", "1", "--trace", "0")
        print("bare directory exit", code, json.dumps(result), flush=True)
        if code == 0 or result is not None:
            problems.append("bare directory: exit %d, result %s" % (
                code, result))
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    for p in problems:
        print("PROBLEM:", p)
    print("self-test", "FAILED" if problems else "passed")
    return 1 if problems else 0
