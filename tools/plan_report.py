"""Generate PLANS.md: physical-plan quality metrics for every
driver-contract query at sf0.01.

Columns: shuffle exchanges, join strategies, Python-boundary
operators (Arrow UDF stages), and whether the scan has pushed filters.
(WholeStageCodegen spans are not reported: under AQE the pre-execution
plan is an AdaptiveSparkPlan that hides codegen annotation.)  This is the ".explain and iterate" evidence artifact:
a reviewer can see at a glance that no query degenerates to a
cartesian/nested-loop plan and that Python only appears where the
algorithm demands it.

Usage: PYTHONPATH=. python3 tools/plan_report.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


# Nested-loop plans that are BY DESIGN, with why:
NLJ_OK = {
    # 1-row broadcast build side: the canonical way to attach one
    # map/scalar to all rows; O(n), no amplification
    "entity_canonicalized_quads": "single-row broadcast map attach",
    # 1-row broadcast build side (the global total from the sketch
    # pass) attached to the candidate counts; O(n), no amplification
    "word_heavy_hitters": "single-row broadcast total attach",
    # 1-row broadcast build side: the capped-set document count N for
    # the PMI denominator; the pair join itself is a url-keyed equi
    "entity_cooccurrence": "single-row broadcast doc-count attach "
                           "(PMI scalar N)",
}

# Unpartitioned (single-task) Window operators that are BY DESIGN,
# with why the frame is provably bounded (round-4 verdict action #7:
# a global window over an unbounded frame is a scale bug; these are
# footnoted, anything else fails the report).  No query needs one.
GLOBAL_WIN_OK: dict[str, str] = {}


def main():
    import __spark_entry__ as entrymod
    from rdf_canonize_spark.plans import checks
    from rdf_canonize_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="plan-report", master="local[4]",
                      shuffle_partitions=16)

    rows = []
    for name, fn in entrymod.queries().items():
        try:
            df = fn(spark, sf_dir)
            p = checks.executed_plan(df)
        except Exception as e:
            rows.append((name, "-", "-", "-", f"ERROR {e}"[:40], "-"))
            continue
        joins = sorted(set(re.findall(
            r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
            r"BroadcastNestedLoopJoin|CartesianProduct)", p)))
        pyops = sorted(set(re.findall(
            r"(ArrowEvalPython|FlatMapGroupsInPandas|MapInPandas|"
            r"PythonMapInArrow|AggregateInPandas|MapInArrow|"
            r"BatchEvalPython)", p)))
        gw = checks.count_global_windows(df)
        # eager localCheckpoints truncate lineage: the audited plan
        # then starts from checkpoint scans and the row under-reports
        # the shuffles/joins that ran upstream -- flag it honestly
        ckpt = "Scan ExistingRDD" in p or "LogicalRDD" in p
        rows.append((
            name + (" ‡" if ckpt else ""),
            str(checks.count_shuffles(df)),
            ",".join(j.replace("Join", "").replace("Broadcast", "B")
                     .replace("SortMerge", "SM").replace("Shuffled", "Sh")
                     .replace("Hash", "HJ").replace("NestedLoop", "NLJ")
                     for j in joins) or "-",
            ",".join(o.replace("Python", "").replace("InPandas", "Pd")
                     .replace("InArrow", "Arw").replace("FlatMapGroups",
                                                        "GroupedMap")
                     for o in pyops) or "-",
            "yes" if any(f.strip() for f in checks.pushed_filters(df))
            else "-",
            str(gw) if gw else "-",
        ))

    sf_label = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    lines = [
        f"# PLANS — physical-plan quality per contract query ({sf_label})",
        "",
        "Generated by `tools/plan_report.py`.  Join codes: BHJ =",
        "broadcast hash, SMHJ = sort-merge, ShHJ = shuffled hash.",
        "A BNLJ/Cartesian is a bug unless footnoted as by-design.",
        "Python ops appear only in the Arrow-kernel stages by design.",
        "'global win' counts UNPARTITIONED Window operators (single-",
        "task sort of their input) — a scale bug unless footnoted as",
        "provably bounded.",
        "",
        "| query | shuffles | joins | python ops | pushed filters |"
        " global win |",
        "|---|---|---|---|---|---|",
    ]
    for r in rows:
        base = r[0].split(" ")[0]
        mark = " *" if base in NLJ_OK and "NLJ" in r[2] else ""
        if base in GLOBAL_WIN_OK and r[5] != "-":
            mark += " †"
        lines.append("| " + r[0] + mark + " | " + " | ".join(r[1:]) + " |")
    lines.append("")
    for name, why in NLJ_OK.items():
        lines.append(f"`*` {name}: nested-loop by design — {why}.")
    for name, why in GLOBAL_WIN_OK.items():
        lines.append(f"`†` {name}: global window bounded — {why}.")
    lines.append(
        "`‡` lineage truncated by eager localCheckpoint(s): upstream "
        "stages (shuffles/joins/python ops before each checkpoint) "
        "executed but are not visible in the audited plan — the row "
        "covers only the post-checkpoint tail."
    )
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote PLANS.md ({len(rows)} queries)")
    bad = [r for r in rows
           if ("NLJ" in r[2] or "Cartesian" in r[2])
           and r[0].split(" ")[0] not in NLJ_OK]
    bad_win = [r for r in rows
               if r[5] not in ("-",)
               and r[0].split(" ")[0] not in GLOBAL_WIN_OK]
    if bad:
        print("DEGENERATE PLANS:", [r[0] for r in bad])
    if bad_win:
        print("UNFOOTNOTED GLOBAL WINDOWS:", [r[0] for r in bad_win])
    if bad or bad_win:
        sys.exit(1)
    spark.stop()


if __name__ == "__main__":
    main()
