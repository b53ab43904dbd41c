"""Local stand-in for the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at the
given SF, compare row count + order-insensitive values (columns sorted
by name, rows sorted), and print a per-query verdict.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
       python tools/check_oracle.py [sf_dir] --stale N [--json OUT.json]

``--stale N`` runs the N registry entries LEAST recently checked by the
driver (the exact staleness order ``queries()`` exposes — it reads the
CORRECTNESS_r*.json history at call time), so the 50-slot rotation's
residual staleness can be drained locally each round without hand-
picking names.

``--json OUT.json`` additionally writes the per-entry verdicts as a
committable artifact (CHECKS_rNN.json): ``{"entries": {name:
{"status": ok|fail|rows_only, "rows": n, "sec": t}}, "sf_dir": ...,
"utc": ...}`` — so "every registry entry green" is verifiable from the
repo without a ~15-minute re-run (VERDICT r13 §Next-round #4).
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import SparkSession

import __spark_entry__ as entrymod
from spark_pipeline_ops.sources import TABLES, session_defaults


def norm_cell(v):
    if v is None:
        return "~N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # 12 significant digits, NOT 6: round-7's two driver hash
        # mismatches (semantic_dedup, tpch_q10) both passed this local
        # gate because %.6g masked a 6th-decimal rounding flip. Queries
        # round their float outputs to a decimal grain, so surviving
        # engine values are bit-identical; 12 digits catches any flip
        # while tolerating nothing it shouldn't.
        return f"{v:.12g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = list(r)
        out.append(tuple(norm_cell(vals[i]) for i in order))
    out.sort()
    return out


def main():
    argv = sys.argv[1:]
    stale_n = None
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        try:
            json_out = argv[i + 1]
        except IndexError:
            raise SystemExit("--json requires an output path")
        del argv[i : i + 2]
    if "--stale" in argv:
        i = argv.index("--stale")
        try:
            stale_n = int(argv[i + 1])
        except (IndexError, ValueError):
            raise SystemExit("--stale requires an integer count")
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    if stale_n is not None and only:
        raise SystemExit("--stale and explicit query names are exclusive")
    # the twin-generated VALUES oracles (minhash/simhash pair sets) must
    # be computed over the SAME corpus the queries run on
    os.environ["SPARK_GRAFT_ORACLE_SF"] = sf_dir

    spark = session_defaults(
        SparkSession.builder.master("local[8]")
        .appName("oracle-check")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from '{sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if stale_n is not None:
        # queries() is already least-recently-driver-checked first
        names = list(qs)[:stale_n]
        print(f"--stale {stale_n}: {', '.join(names)}\n")
        qs = {k: qs[k] for k in names}
    failures = []
    entries = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {str(e)[:300]}")
            failures.append(name)
            entries[name] = {"status": "fail", "sec": round(time.time() - t0, 1)}
            continue
        if name not in oracles:
            dt = time.time() - t0
            print(f"rows  {name}: {len(srows)} rows (no oracle) [{dt:.1f}s]")
            entries[name] = {
                "status": "rows_only", "rows": len(srows), "sec": round(dt, 1),
            }
            continue
        try:
            rel = con.sql(oracles[name])
            ocols = [d[0] for d in rel.description]
            orows = rel.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {str(e)[:300]}")
            failures.append(name)
            entries[name] = {"status": "fail", "sec": round(time.time() - t0, 1)}
            continue
        a, b = canon(srows, scols), canon(orows, ocols)
        dt = time.time() - t0
        if sorted(scols) != sorted(ocols):
            print(f"FAIL  {name}: column names {sorted(scols)} vs {sorted(ocols)}")
            failures.append(name)
            entries[name] = {"status": "fail", "sec": round(dt, 1)}
        elif a == b:
            print(f"OK    {name}: {len(a)} rows [{dt:.1f}s]")
            entries[name] = {
                "status": "ok", "rows": len(a), "sec": round(dt, 1),
            }
        else:
            print(f"FAIL  {name}: {len(a)} vs {len(b)} rows; first diffs:")
            sb, sa = set(b), set(a)
            diff_a = [r for r in a if r not in sb][:3]
            diff_b = [r for r in b if r not in sa][:3]
            print("   spark:", diff_a)
            print("   duck :", diff_b)
            failures.append(name)
            entries[name] = {"status": "fail", "sec": round(dt, 1)}
    print()
    print(f"{'ALL OK' if not failures else 'FAILURES: ' + ', '.join(failures)}")
    if json_out:
        import json as _json

        counts = {"ok": 0, "fail": 0, "rows_only": 0}
        for e in entries.values():
            counts[e["status"]] += 1
        with open(json_out, "w") as f:
            _json.dump(
                {
                    "sf_dir": sf_dir,
                    "utc": time.strftime(
                        "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
                    ),
                    "counts": counts,
                    "entries": entries,
                },
                f,
                indent=1,
            )
        print(f"wrote {json_out}: {counts}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
