#!/usr/bin/env python3
"""Local emulation of the driver's t2 correctness gate (builder-side only;
not part of the library). Runs after `sbt "runMain graft.Verify <sfDir> <out>"`:
for every query parquet dump, executes the oracle SQL in DuckDB over the same
testdata tables and compares column-name-sorted, row-sorted values exactly.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>
"""
import sys, os, json, glob, time
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # stringify for a stable total order + value compare (floats via repr)
    def cell(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return "NULL"
        if pd.api.types.is_scalar(v) and pd.isna(v):
            return "NULL"
        if isinstance(v, float):
            return repr(v)
        if isinstance(v, bytes):
            return v.hex()
        if isinstance(v, list):
            return json.dumps([cell(x) for x in v])
        return str(v)
    s = df.map(cell)
    s = s.sort_values(by=list(s.columns)).reset_index(drop=True)
    return s

def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)

    failures, passed, rows_only = [], 0, 0

    def fail(name, why):
        failures.append((name, why))
        print(f"  [FAIL] {name}: {why}", flush=True)

    names = sorted(d for d in os.listdir(out_dir)
                   if os.path.isdir(os.path.join(out_dir, d)))
    for name in names:
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            fail(name, "no spark parquet output")
            continue
        got = pd.concat([pd.read_parquet(p) for p in sorted(files)],
                        ignore_index=True)
        if name not in oracles:
            rows_only += 1
            print(f"  [rows-only] {name}: {len(got)} rows", flush=True)
            continue
        t0 = time.monotonic()
        try:
            want = con.execute(oracles[name]).fetchdf()
        except Exception as ex:
            fail(name, f"oracle SQL error: {ex}")
            continue
        oracle_s = time.monotonic() - t0
        g, w = canon(got), canon(want)
        if sorted(g.columns) != sorted(w.columns):
            fail(name, f"column mismatch: spark={sorted(g.columns)} oracle={sorted(w.columns)}")
            continue
        if len(g) != len(w):
            fail(name, f"row count: spark={len(g)} oracle={len(w)}")
            continue
        if not g.equals(w):
            neq = (g != w).any(axis=1)
            idx = list(g.index[neq])[:3]
            detail = "; ".join(
                f"row{i}: spark={g.loc[i].to_dict()} oracle={w.loc[i].to_dict()}"
                for i in idx)
            fail(name, f"value mismatch in {int(neq.sum())}/{len(g)} rows: {detail[:600]}")
            continue
        passed += 1
        # per-oracle wall time: the driver's gate has a budget; any single
        # oracle over ~30s is a regression risk for the whole artifact
        print(f"  [ok] {name}: {len(g)} rows (oracle {oracle_s:.1f}s)", flush=True)

    print(f"\n{passed} oracle-matched, {rows_only} rows-only, {len(failures)} failed")
    for name, why in failures:
        print(f"  [FAIL] {name}: {why}")
    return 1 if failures else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
