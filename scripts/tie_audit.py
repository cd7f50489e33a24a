#!/usr/bin/env python3
"""Order-tie audit: for every oracle whose FINAL ORDER BY keys are
plain output columns, check that no two rows share all the order keys
while differing in any other column. Such ties make row order (and
therefore the driver's hash compare) depend on which way each engine
happens to break them — the check then flips between pass and fail
across identical runs, and a lucky tie-break hides the bug (this is
how agg_grouping_sets' null-corpus divergence survived a full green
sweep in round 11, and how window_median's was found).

LIMIT clauses are stripped before the probe, so boundary ties (two
rows straddling the cutoff with equal keys) are caught too.

Usage: python3 scripts/tie_audit.py <corpus-dir> [oracle_sql.json]
Exit 1 if any hazard found. Queries whose final order keys are
expressions (not plain columns) are listed for manual review —
single-row aggregates among them are trivially safe.

Dev tooling only (driver-side python); not part of the Scala library.
"""
import json, re, sys
from pathlib import Path
import duckdb

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ORACLE_PATH = sys.argv[2] if len(sys.argv) > 2 else str(
    Path(__file__).resolve().parents[1] / "target" / "verify_out" / "oracle_sql.json")
ORACLE = json.load(open(ORACLE_PATH))
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

complex_keys, hazards, errors = [], [], []
clean = 0
for name, sql in sorted(ORACLE.items()):
    idx = sql.upper().rfind('ORDER BY')
    if idx < 0:
        continue
    tail = sql[idx + len('ORDER BY'):]
    if ')' in tail:  # final ORDER BY is nested — not the presentation sort
        complex_keys.append(name)
        continue
    keyraw = re.match(r'\s*(.*?)(\s+LIMIT\s+\d+)?\s*$', tail, re.S | re.I).group(1)
    keys = [re.sub(r'\b(DESC|ASC|NULLS|FIRST|LAST)\b', '', k, flags=re.I).strip()
            for k in keyraw.split(',')]
    body = re.sub(r'\s+LIMIT\s+\d+\s*$', '', sql, flags=re.I)
    try:
        df = con.execute(body).df()
    except Exception as e:
        errors.append((name, str(e)[:100]))
        continue
    cols, plain = [], True
    for k in keys:
        kk = k.split('.')[-1] if re.fullmatch(r'[A-Za-z_][\w.]*', k) else None
        if kk and kk in df.columns:
            cols.append(kk)
        else:
            plain = False
            break
    if not plain:
        complex_keys.append(name)
        continue
    if df.empty:
        clean += 1
        continue
    bad = sum(1 for _, sub in df.groupby(cols, dropna=False, sort=False)
              if len(sub) > 1 and len(sub.drop_duplicates()) > 1)
    if bad:
        hazards.append((name, bad))
    else:
        clean += 1

print(f"corpus: {SF}")
print(f"clean: {clean}")
print(f"complex-key (manual review): {complex_keys}")
if errors:
    print(f"errors: {errors}")
print(f"HAZARDS: {hazards if hazards else 'none'}")
sys.exit(1 if hazards else 0)
