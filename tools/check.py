#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Runs graft.Verify at the given SF dir (unless --skip-verify), then replays
every oracle_sql.json query in DuckDB over the same parquet tables and
compares against the Spark parquet output: row count, column names, and
value-level equality (exact for ints/strings, bit-exact expected for
doubles but reported with ulp tolerance so near-misses are visible).

Usage: python3 tools/check.py [--sf /root/testdata/sf0.01] [--skip-verify]
"""
import argparse, json, math, os, subprocess, sys
from pathlib import Path
import duckdb

# the checkout holding this script: Verify builds and runs its sources
REPO = Path(__file__).resolve().parents[1]

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def run_verify(sf, out):
    cmd = ["sbt", "-batch", f'runMain graft.Verify {sf} {out}']
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", "8")
    r = subprocess.run(cmd, cwd=REPO, env=env,
                       capture_output=True, text=True)
    sys.stdout.write(r.stdout[-3000:])
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-3000:])
        sys.exit(f"verify failed rc={r.returncode}")


def norm_cell(v):
    if isinstance(v, float):
        return v
    if hasattr(v, "timestamp"):  # datetime
        return str(v)
    return v


def compare(name, spark_rows, duck_rows, cols_s, cols_d,
            types_s=None, types_d=None):
    if sorted(cols_s) != sorted(cols_d):
        return f"SCHEMA col names differ: spark={sorted(cols_s)} duck={sorted(cols_d)}"
    if types_s is not None and types_d is not None:
        # The driver's hasher is type-sensitive (e.g. a DuckDB window sum
        # over BIGINT widens to HUGEINT and hash-mismatches Spark's BIGINT
        # even when every value is equal) — so compare result TYPES too.
        ts = {c: str(t) for c, t in zip(cols_s, types_s)}
        td = {c: str(t) for c, t in zip(cols_d, types_d)}
        for c in sorted(cols_s):
            if ts[c] != td[c]:
                return f"TYPE col {c}: spark={ts[c]} duck={td[c]}"
    if len(spark_rows) != len(duck_rows):
        return f"ROWS {len(spark_rows)} vs {len(duck_rows)}"
    order = sorted(range(len(cols_s)), key=lambda i: cols_s[i])
    order_d = sorted(range(len(cols_d)), key=lambda i: cols_d[i])
    s = sorted(tuple(norm_cell(r[i]) for i in order) for r in spark_rows)
    d = sorted(tuple(norm_cell(r[i]) for i in order_d) for r in duck_rows)
    for i, (a, b) in enumerate(zip(s, d)):
        for j, (x, y) in enumerate(zip(a, b)):
            if x == y:
                continue
            if isinstance(x, float) and isinstance(y, float):
                if math.isnan(x) and math.isnan(y):
                    continue
                if x == y:
                    continue
                return (f"VALUE row {i} col {sorted(cols_s)[j]}: "
                        f"spark={x!r} duck={y!r} (diff={abs(x-y):.3e})")
            return f"VALUE row {i} col {sorted(cols_s)[j]}: spark={x!r} duck={y!r}"
    return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default="/tmp/graft_verify")
    ap.add_argument("--skip-verify", action="store_true")
    ap.add_argument("--only", default=None)
    args = ap.parse_args()

    if not args.skip_verify:
        run_verify(args.sf, args.out)

    with open(f"{args.out}/oracle_sql.json") as f:
        oracles = json.load(f)

    con = duckdb.connect()
    for t in TABLES:
        p = f"{args.sf}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    n_ok = n_bad = n_skip = 0
    for name in sorted(os.listdir(args.out)):
        d = os.path.join(args.out, name)
        if not os.path.isdir(d):
            continue
        if args.only and args.only != name:
            continue
        sp = con.execute(f"SELECT * FROM '{d}/*.parquet'")
        cols_s = [c[0] for c in sp.description]
        types_s = [c[1] for c in sp.description]
        spark_rows = sp.fetchall()
        if name not in oracles:
            print(f"  [rows-only] {name}: {len(spark_rows)} rows")
            n_skip += 1
            continue
        try:
            dk = con.execute(oracles[name])
            cols_d = [c[0] for c in dk.description]
            types_d = [c[1] for c in dk.description]
            duck_rows = dk.fetchall()
        except Exception as e:
            print(f"✗ {name}: ORACLE SQL ERROR: {e}")
            n_bad += 1
            continue
        err = compare(name, spark_rows, duck_rows, cols_s, cols_d,
                      types_s, types_d)
        if err:
            print(f"✗ {name}: {err}")
            n_bad += 1
        else:
            print(f"✓ {name}: {len(spark_rows)} rows match")
            n_ok += 1
    print(f"\n{n_ok} ok, {n_bad} bad, {n_skip} rows-only")
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
