"""Driver-contract checker: mimics the verify harness.

Runs ``entry(spark)`` as a smoke check, then every ``queries()[name]``
at sf0.01 against ``oracle_sql()[name]`` through DuckDB, comparing
row counts and order-insensitive value multisets (column-name-sorted,
values normalized to strings with float rounding).

Usage: python3 tools/check_contract.py [--json OUT] [sf_dir] [name ...]

``--json OUT`` additionally writes a per-query artifact in the
driver's CORRECTNESS schema ({name: {rows_match, schema_match,
hash_match, spark_rows, oracle_rows, err}}) so a full-registry run can
be committed alongside the driver's sampled one.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_value(v):
    import datetime

    if v is None:
        return ""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return "%.6g" % v
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    return str(v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(norm_value(r[i]) for i in order) for r in rows
    )


def main():
    import duckdb

    import __spark_entry__ as entrymod
    from rdf_canonize_spark.session import get_spark

    args = sys.argv[1:]
    json_out = None
    if args and args[0] == "--json":
        if len(args) < 2:
            sys.exit("usage: check_contract.py [--json OUT] "
                     "[sf_dir] [name ...]")
        json_out = args[1]
        args = args[2:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    spark = get_spark(app_name="contract-check", master="local[8]",
                      shuffle_partitions=16)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    print("== entry() smoke ==")
    t0 = time.time()
    edf = entrymod.entry(spark)
    n = edf.count()
    print(f"entry rows={n} schema={[f.name for f in edf.schema.fields]} "
          f"({time.time()-t0:.1f}s)")
    assert n >= 0

    qs = entrymod.queries()
    os_ = entrymod.oracle_sql()
    failures = []
    report = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        # a raising query/oracle must record err and move on -- the
        # whole point of the artifact is surviving a regression
        try:
            sdf = fn(spark, sf_dir)
            cols = [f.name for f in sdf.schema.fields]
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            msg = f"{type(e).__name__}: {e}"[:500]
            print(f"{name}: FAIL (spark raised) {msg}")
            failures.append(name)
            report[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": None,
                "oracle_rows": None, "err": msg,
            }
            continue
        elapsed = time.time() - t0
        if name not in os_:
            print(f"{name}: rows-only check rows={len(srows)} "
                  f"({elapsed:.1f}s)")
            report[name] = {
                "rows_match": None, "schema_match": None,
                "hash_match": None, "spark_rows": len(srows),
                "oracle_rows": None, "err": None,
                "note": "rows-only (no oracle_sql entry)",
            }
            continue
        try:
            res = con.execute(os_[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            msg = f"{type(e).__name__}: {e}"[:500]
            print(f"{name}: FAIL (oracle raised) {msg}")
            failures.append(name)
            report[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": len(srows),
                "oracle_rows": None, "err": msg,
            }
            continue
        ok_schema = sorted(cols) == sorted(ocols)
        a = norm_rows(cols, srows)
        b = norm_rows(ocols, orows)
        ok = ok_schema and a == b
        status = "OK " if ok else "FAIL"
        print(f"{name}: {status} spark_rows={len(srows)} "
              f"oracle_rows={len(orows)} schema_match={ok_schema} "
              f"({elapsed:.1f}s)")
        report[name] = {
            "rows_match": len(srows) == len(orows),
            "schema_match": ok_schema,
            "hash_match": a == b,
            "spark_rows": len(srows),
            "oracle_rows": len(orows),
            "err": None,
        }
        if not ok:
            failures.append(name)
            if not ok_schema:
                print("  spark cols:", sorted(cols))
                print("  oracle cols:", sorted(ocols))
            else:
                for x, y in list(zip(a, b))[:2000]:
                    if x != y:
                        print("  first diff:")
                        print("   spark :", x)
                        print("   oracle:", y)
                        break
                sa, sb = set(a), set(b)
                print("  only-in-spark:", list(sa - sb)[:2])
                print("  only-in-oracle:", list(sb - sa)[:2])
    print("FAILURES:", failures or "none")
    if json_out:
        import json

        with open(json_out, "w", encoding="utf-8") as f:
            json.dump(report, f, indent=2)
            f.write("\n")
        print("wrote", json_out)
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
