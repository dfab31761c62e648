"""Local mirror of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark at sf0.01 and,
where an ``oracle_sql()`` entry exists, the DuckDB oracle on the same
parquet — compares row count, column names/types, and order-insensitive
values (columns sorted by name, rows sorted, values stringified).

Usage: python tools/check_oracle.py [sf_dir] [query ...] [--json out.json]

``--json`` additionally writes a machine-readable artifact (per-query
status/rows/seconds + totals) — committed per round as
``CORRECTNESS_full_r{N}.json`` because the driver's own artifact
records only its first-50-query window (VERDICT r03 item 8).
"""

from __future__ import annotations

import math
import sys
import time

sys.path.insert(0, ".")

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from gdal_spark.session import get_spark  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(val):
    if val is None:
        return "NULL"
    if isinstance(val, float):
        if math.isnan(val):
            return "NaN"
        return repr(val)
    if isinstance(val, bytes):
        return val.hex()
    return str(val)


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon(r[i]) for i in order) for r in rows]
    out.sort()
    return [cols[i] for i in order], out


def duckdb_views(sf_dir):
    """DuckDB connection with one view per driver table of ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def compare(scols, srows, ocols, orows):
    """Mismatches between a Spark result and its oracle result: row
    count, column names, then canonicalised values. Empty when they
    agree."""
    msgs = []
    if len(srows) != len(orows):
        msgs.append(f"rowcount spark={len(srows)} duckdb={len(orows)}")
    if sorted(scols) != sorted(ocols):
        msgs.append(f"cols spark={sorted(scols)} duckdb={sorted(ocols)}")
    if msgs:
        return msgs
    _, sc = canon_rows(scols, [tuple(r) for r in srows])
    _, oc = canon_rows(ocols, orows)
    if sc != oc:
        diff = [i for i, (a, b) in enumerate(zip(sc, oc)) if a != b][:3]
        for i in diff:
            msgs.append(f"row[{i}] spark={sc[i]} duckdb={oc[i]}")
        if not diff:
            msgs.append("row set diff (extra/missing rows)")
            extra = set(sc) - set(oc)
            missing = set(oc) - set(sc)
            for r in list(extra)[:2]:
                msgs.append(f"  spark-only: {r}")
            for r in list(missing)[:2]:
                msgs.append(f"  duckdb-only: {r}")
    return msgs


def main():
    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        k = args.index("--json")
        json_out = args[k + 1]
        args = args[:k] + args[k + 2 :]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    results: dict[str, dict] = {}
    spark = get_spark("oracle-check")
    con = duckdb_views(sf_dir)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            results[name] = {"status": "fail", "detail": f"spark error: {e}"}
            n_fail += 1
            continue
        t1 = time.time()
        if name not in oracles:
            print(f"ok*   {name}: rows={len(srows)} (rows-only, {t1-t0:.1f}s)")
            results[name] = {
                "status": "rows_only",
                "rows": len(srows),
                "secs": round(t1 - t0, 2),
            }
            n_pass += 1
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            results[name] = {"status": "fail", "detail": f"duckdb error: {e}"}
            n_fail += 1
            continue
        msgs = compare(scols, srows, ocols, orows)
        if not msgs:
            print(f"PASS  {name}: rows={len(srows)} ({t1-t0:.1f}s)")
            results[name] = {
                "status": "pass",
                "rows": len(srows),
                "secs": round(t1 - t0, 2),
            }
            n_pass += 1
        else:
            print(f"FAIL  {name}: " + "; ".join(msgs))
            results[name] = {"status": "fail", "detail": "; ".join(msgs)}
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    if json_out:
        import json as _json

        with open(json_out, "w") as f:
            _json.dump(
                {
                    "sf_dir": sf_dir,
                    "n_pass": n_pass,
                    "n_fail": n_fail,
                    "n_queries": n_pass + n_fail,
                    "queries": results,
                },
                f,
                indent=1,
            )
        print(f"wrote {json_out}")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
