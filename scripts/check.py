#!/usr/bin/env python3
"""Local correctness harness mimicking the driver's t2 gate:
run graft.Verify on an sf dir, then execute each oracle SQL in DuckDB
over the same parquet tables and compare values.

Usage: python3 scripts/check.py [sfdir] [outdir] [--skip-verify] [names...]

Dev tooling only (driver-side python); not part of the Scala library.
"""
import json, math, subprocess, sys
from pathlib import Path

import duckdb
import pandas as pd

# the checkout this script lives in: Verify runs from its sources, and
# the default dump dir is under its target/
REPO = Path(__file__).resolve().parents[1]

pos = [a for a in sys.argv[1:] if not a.startswith("--")]
flags = set(a for a in sys.argv[1:] if a.startswith("--"))
SF = pos[0] if len(pos) > 0 else "/root/testdata/sf0.01"
# absolute, so Verify (run from REPO) and the compare below (run from
# the caller's cwd) agree on a relative dump dir
OUT = str(Path(pos[1]).resolve()) if len(pos) > 1 else str(REPO / "target" / "verify_out")
only = pos[2:]

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

if "--skip-verify" not in flags:
    # pass the name subset through to Verify so a one-query iteration
    # dumps one query instead of all of them
    names = (" " + " ".join(only)) if only else ""
    r = subprocess.run(
        ["sbt", "-batch", f'runMain graft.Verify {SF} {OUT}{names}'],
        cwd=REPO, capture_output=True, text=True)
    sys.stdout.write(r.stdout[-3000:])
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-3000:])
        sys.exit(1)

oracle = json.loads(Path(f"{OUT}/oracle_sql.json").read_text())

con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.reset_index(drop=True)

def cell_eq(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    return a == b

names = only if only else sorted(oracle)
fails, passes, skips = [], [], []
for name in names:
    pq = Path(f"{OUT}/{name}")
    if not pq.exists():
        fails.append((name, "no spark output (query failed in Verify)"))
        continue
    if name not in oracle:
        skips.append(name)
        continue
    try:
        got = canon(con.execute(
            f"SELECT * FROM read_parquet('{pq}/*.parquet')").df())
        want = canon(con.execute(oracle[name]).df())
    except Exception as e:
        fails.append((name, f"oracle error: {e}"))
        continue
    if list(got.columns) != list(want.columns):
        fails.append((name, f"columns: spark={list(got.columns)} duckdb={list(want.columns)}"))
        continue
    # the driver's hash-compare survives width skews (int32 vs int64
    # both passed round 1) but NOT kind skews (DuckDB sum(BIGINT) ->
    # HUGEINT -> float64 vs Spark int64 failed it) — catch kind skews
    dt_bad = [c for c in got.columns
              if got[c].dtype.kind != want[c].dtype.kind]
    if dt_bad:
        fails.append((name, "dtype kinds: " + ", ".join(
            f"{c}: spark={got[c].dtype} duckdb={want[c].dtype}" for c in dt_bad)))
        continue
    if len(got) != len(want):
        fails.append((name, f"rows: spark={len(got)} duckdb={len(want)}"))
        continue
    bad = None
    for c in got.columns:
        gv, wv = got[c].tolist(), want[c].tolist()
        for i, (a, b) in enumerate(zip(gv, wv)):
            if not cell_eq(a, b):
                bad = f"col {c} row {i}: spark={a!r} duckdb={b!r}"
                break
        if bad:
            break
    if bad:
        fails.append((name, bad))
    else:
        passes.append(name)

print(f"\n== PASS ({len(passes)}): {' '.join(passes)}")
if skips:
    print(f"== NO-ORACLE ({len(skips)}): {' '.join(skips)}")
print(f"== FAIL ({len(fails)}):")
for n, why in fails:
    print(f"  {n}: {why}")

# Durable local record (VERDICT r8 item 1: an empty driver-side
# CORRECTNESS file must be diagnosable against a committed local run).
# CHECK_JSON_OUT=path writes per-query results; with an existing file,
# results MERGE (so sf0.01 and sf0.1 runs land in one record).
out_json = __import__("os").environ.get("CHECK_JSON_OUT")
if out_json:
    rec = {}
    p = Path(out_json)
    if p.exists():
        rec = json.loads(p.read_text())
    key = Path(SF).name
    rec[key] = {
        "pass": sorted(passes),
        "fail": {n: why for n, why in fails},
        "no_oracle": sorted(skips),
        "n_pass": len(passes), "n_fail": len(fails),
    }
    p.write_text(json.dumps(rec, indent=1, sort_keys=True) + "\n")
    print(f"== wrote {out_json} [{key}]")
sys.exit(1 if fails else 0)
