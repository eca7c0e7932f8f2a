#!/usr/bin/env python3
"""Local emulation of the driver's t2 correctness gate (builder-side only;
not part of the library). Runs after `sbt "runMain graft.Verify <sfDir> <out>"`:
for every query parquet dump, executes the oracle SQL in DuckDB over the same
testdata tables and compares column-name-sorted, row-sorted values exactly.
Queries are checked in parallel, one worker process (with its own DuckDB
connection) per core; each result line prints as its query finishes.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>
"""
import sys, os, json, glob, time
from concurrent.futures import ProcessPoolExecutor, as_completed
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

# one DuckDB connection per worker process, opened by `_open`
_con = None

def _open(sf_dir: str, memory_limit: str) -> None:
    global _con
    _con = duckdb.connect()
    _con.execute(f"SET memory_limit = '{memory_limit}'")
    _con.execute("SET threads = 1")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            _con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

def check_one(out_dir: str, name: str, oracle):
    """(name, status, message) for one query dump; status is "ok",
    "rows-only" or "FAIL"."""
    files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
    if not files:
        return name, "FAIL", "no spark parquet output"
    got = pd.concat([pd.read_parquet(p) for p in sorted(files)],
                    ignore_index=True)
    if oracle is None:
        return name, "rows-only", f"{len(got)} rows"
    t0 = time.monotonic()
    try:
        want = _con.execute(oracle).fetchdf()
    except Exception as ex:
        return name, "FAIL", f"oracle SQL error: {ex}"
    oracle_s = time.monotonic() - t0
    g, w = canon(got), canon(want)
    if sorted(g.columns) != sorted(w.columns):
        return name, "FAIL", f"column mismatch: spark={sorted(g.columns)} oracle={sorted(w.columns)}"
    if len(g) != len(w):
        return name, "FAIL", f"row count: spark={len(g)} oracle={len(w)}"
    if not g.equals(w):
        neq = (g != w).any(axis=1)
        idx = list(g.index[neq])[:3]
        detail = "; ".join(
            f"row{i}: spark={g.loc[i].to_dict()} oracle={w.loc[i].to_dict()}"
            for i in idx)
        return name, "FAIL", f"value mismatch in {int(neq.sum())}/{len(g)} rows: {detail[:600]}"
    # per-oracle wall time: the correctness gate has a budget; any single
    # oracle over ~30s is a regression risk for the whole artifact
    return name, "ok", f"{len(g)} rows (oracle {oracle_s:.1f}s)"

def main(sf_dir: str, out_dir: str) -> int:
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    names = sorted(d for d in os.listdir(out_dir)
                   if os.path.isdir(os.path.join(out_dir, d)))

    # one worker per core; DuckDB's default budget (80% of RAM, one
    # thread per core) is split evenly across the workers
    workers = os.cpu_count() or 1
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    memory_limit = f"{max(256, ram_mb * 8 // 10 // workers)}MB"

    failures, passed, rows_only = [], 0, 0
    with ProcessPoolExecutor(workers, initializer=_open,
                             initargs=(sf_dir, memory_limit)) as pool:
        pending = [pool.submit(check_one, out_dir, n, oracles.get(n)) for n in names]
        for fut in as_completed(pending):
            name, status, msg = fut.result()
            print(f"  [{status}] {name}: {msg}", flush=True)
            if status == "ok":
                passed += 1
            elif status == "rows-only":
                rows_only += 1
            else:
                failures.append((name, msg))

    print(f"\n{passed} oracle-matched, {rows_only} rows-only, {len(failures)} failed")
    for name, why in sorted(failures):
        print(f"  [FAIL] {name}: {why}")
    return 1 if failures else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
