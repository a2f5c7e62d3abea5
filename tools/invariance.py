#!/usr/bin/env python3
"""Parallelism-invariance check (SURVEY.md §5.5, north-rule determinism):
run graft.Verify at two SPARK_GRAFT_CPUS levels on the same SF and
value-compare every query's parquet output."""
import os, subprocess, sys
from pathlib import Path
import duckdb

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUTS = [("/tmp/graft_inv_c2", "2"), ("/tmp/graft_inv_c8", "8")]

for out, cpus in OUTS:
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
    r = subprocess.run(["sbt", "-batch", f"runMain graft.Verify {SF} {out}"],
                       cwd=Path(__file__).resolve().parents[1], env=env, capture_output=True, text=True)
    if r.returncode != 0:
        sys.exit(f"verify at cpus={cpus} failed:\n{r.stderr[-2000:]}")

con = duckdb.connect()
bad = ok = 0
for name in sorted(os.listdir(OUTS[0][0])):
    d0 = os.path.join(OUTS[0][0], name)
    d1 = os.path.join(OUTS[1][0], name)
    if not os.path.isdir(d0):
        continue
    if not os.path.isdir(d1):
        print(f"✗ {name}: missing at cpus=8")
        bad += 1
        continue
    a = con.execute(f"SELECT * FROM '{d0}/*.parquet'").fetchall()
    b = con.execute(f"SELECT * FROM '{d1}/*.parquet'").fetchall()
    if sorted(map(str, a)) == sorted(map(str, b)):
        print(f"✓ {name}: {len(a)} rows identical")
        ok += 1
    else:
        print(f"✗ {name}: {len(a)} vs {len(b)} rows differ")
        bad += 1
print(f"\n{ok} identical, {bad} differ")
sys.exit(1 if bad else 0)
