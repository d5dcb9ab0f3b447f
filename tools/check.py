#!/usr/bin/env python3
"""Local replica of the driver's correctness gate (driver-side tooling,
not part of the engine): run graft.Verify, then execute each oracle SQL
in DuckDB over the same parquet tables and hash-compare results.

Usage: python3 tools/check.py [sfdir] [outdir] [--no-verify] [names...]
"""
import json, math, subprocess, sys
from pathlib import Path

import duckdb

# the checkout this script sits in: Verify runs on that tree's sources
ROOT = Path(__file__).resolve().parents[1]

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
ARGS = sys.argv[3:]
ONLY = [a for a in ARGS if not a.startswith("--")]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def run_verify():
    r = subprocess.run(
        ["sbt", "-batch",
         f'runMain graft.Verify {SF} {OUT} {" ".join(ONLY)}'.strip()],
        capture_output=True, text=True, cwd=ROOT)
    for line in (r.stdout + "\n" + r.stderr).splitlines():
        if "[verify]" in line:
            print(line)
    # Verify exits 2 when some queries failed but still writes
    # oracle_sql.json + errors.json — continue so every declared query
    # gets a PASS/FAIL row below. Only bail on a hard launch failure
    # (no artifact written at all).
    if r.returncode != 0 and not Path(f"{OUT}/oracle_sql.json").exists():
        print(r.stdout[-3000:])
        print(r.stderr[-3000:])
        sys.exit(1)


def canon(rows, cols):
    """Sort columns by name, round doubles to 1e-9, sort rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = round(v, 9)
                    if v == -0.0:
                        v = 0.0
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple((x is None, str(type(x)), x) for x in t))
    return [c for c in sorted(cols)], out


def main():
    if "--no-verify" not in ARGS:
        run_verify()
    oracle = json.loads(Path(f"{OUT}/oracle_sql.json").read_text())
    errf = Path(f"{OUT}/errors.json")
    spark_errors = json.loads(errf.read_text()) if errf.exists() else {}
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    ok = fail = 0
    names = ONLY or sorted(oracle)
    for name in names:
        sql = oracle[name]
        if name in spark_errors:
            print(f"FAIL {name}: spark error: {spark_errors[name]}")
            fail += 1
            continue
        try:
            res = con.execute(sql)
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            fail += 1
            continue
        try:
            res2 = con.execute(
                f"SELECT * FROM read_parquet('{OUT}/{name}/*.parquet')")
            scols = [d[0] for d in res2.description]
            srows = res2.fetchall()
        except Exception as e:
            print(f"FAIL {name}: spark result missing: {e}")
            fail += 1
            continue
        oc, orws = canon(orows, ocols)
        sc, srws = canon(srows, scols)
        if oc != sc:
            print(f"FAIL {name}: columns differ: oracle={oc} spark={sc}")
            fail += 1
        elif len(orws) != len(srws):
            print(f"FAIL {name}: rowcount oracle={len(orws)} spark={len(srws)}")
            fail += 1
        elif orws != srws:
            diffs = [(a, b) for a, b in zip(orws, srws) if a != b][:3]
            print(f"FAIL {name}: values differ, first diffs: {diffs}")
            fail += 1
        else:
            print(f"PASS {name} ({len(srws)} rows)")
            ok += 1
    missing = [n for n in (ONLY or []) if n not in oracle]
    if missing:
        print("not in oracle:", missing)
    print(f"== {ok} pass / {fail} fail ==")
    sys.exit(1 if fail else 0)


if __name__ == "__main__":
    main()
