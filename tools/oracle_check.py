#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage:  python3 tools/oracle_check.py <sfDir> <verifyOutDir> [query ...]

Reads each <verifyOutDir>/<name> parquet (written by graft.Verify), runs
the matching oracle SQL from oracle_sql.json in DuckDB over <sfDir>'s
tables, sorts columns by name + rows by all columns, and compares
cell-by-cell. Reports exact-match / close (float-only diffs) / MISMATCH.
This is a dev tool only — the engine itself never depends on it.
"""
import json
import math
import os
import resource
import shutil
import sys
import tempfile

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)


def cmp_cell(a, b):
    """exact | close | diff"""
    if a is None and b is None:
        return "exact"
    if isinstance(a, float) and isinstance(b, float):
        if (math.isnan(a) and math.isnan(b)) or a == b:
            return "exact"
        if math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12):
            return "close"
        return "diff"
    if pd.isna(a) and pd.isna(b):
        return "exact"
    if isinstance(a, (list, tuple)) or isinstance(b, (list, tuple)):
        a, b = list(a), list(b)
        if len(a) != len(b):
            return "diff"
        res = [cmp_cell(x, y) for x, y in zip(a, b)]
        return "diff" if "diff" in res else ("close" if "close" in res else "exact")
    if a == b:
        return "exact"
    return "diff"


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        return 1024 * next(int(l.split()[1]) for l in f
                            if l.startswith("MemTotal:"))


def host_limits(spill_dir: str) -> dict:
    """DuckDB settings sized from the host: about half of MemTotal, one
    thread per usable CPU, and a spill directory. Without them DuckDB
    sizes itself from the whole machine and cannot spill."""
    return {"memory_limit": f"{mem_total_bytes() // 2 // 2**20}MB",
            "threads": len(os.sched_getaffinity(0)),
            "temp_directory": spill_dir}


def cap_address_space() -> None:
    """Bound this process at 60% of MemTotal. DuckDB's memory_limit
    does not cover every operator (s62's oracle grows past 15 GiB
    under an 8 GiB limit), so without a hard cap one such query gets
    the checker killed by the host and no summary line is printed;
    with it the query fails with DuckDB's out-of-memory error, is
    counted as a failure, and the run goes on."""
    cap = mem_total_bytes() * 6 // 10
    resource.setrlimit(resource.RLIMIT_AS, (cap, cap))


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    cap_address_space()
    spill_dir = tempfile.mkdtemp(prefix="oracle-check-", dir="/tmp")
    try:
        fails = check(sf_dir, out_dir, only, spill_dir)
    finally:
        shutil.rmtree(spill_dir, ignore_errors=True)
    sys.exit(1 if fails else 0)


def check(sf_dir, out_dir, only, spill_dir):
    con = duckdb.connect(config=host_limits(spill_dir))
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    fails = 0
    for name, sql in sorted(oracles.items()):
        if only and name not in only:
            continue
        try:
            got = norm(pd.read_parquet(f"{out_dir}/{name}"))
        except Exception as e:
            print(f"FAIL  {name}: no spark result ({e})")
            fails += 1
            continue
        try:
            exp = norm(con.execute(sql).df())
        except Exception as e:
            print(f"FAIL  {name}: oracle sql error: {e}")
            fails += 1
            continue
        if list(got.columns) != list(exp.columns):
            print(f"FAIL  {name}: columns spark={list(got.columns)} duck={list(exp.columns)}")
            fails += 1
            continue
        if len(got) != len(exp):
            print(f"FAIL  {name}: rows spark={len(got)} duck={len(exp)}")
            fails += 1
            continue
        # dtype check (the driver checks schema too)
        dt_mismatch = [(c, str(got[c].dtype), str(exp[c].dtype))
                       for c in got.columns if got[c].dtype != exp[c].dtype]
        status, bad = "exact", None
        n_close = 0
        for c in got.columns:
            for i in range(len(got)):
                r = cmp_cell(got[c].iloc[i], exp[c].iloc[i])
                if r == "diff":
                    status, bad = "diff", (c, i, got[c].iloc[i], exp[c].iloc[i])
                    break
                if r == "close":
                    n_close += 1
            if status == "diff":
                break
        if status == "diff":
            c, i, a, b = bad
            print(f"FAIL  {name}: value diff col={c} row={i} spark={a!r} duck={b!r}")
            fails += 1
        elif n_close:
            print(f"close {name}: {len(got)} rows, {n_close} float cells not bit-equal"
                  + (f"  dtypes≠ {dt_mismatch}" if dt_mismatch else ""))
        else:
            print(f"OK    {name}: {len(got)} rows exact"
                  + (f"  dtypes≠ {dt_mismatch}" if dt_mismatch else ""))
    print(f"\n{fails} failures / {len([n for n in oracles if not only or n in only])} oracled queries")
    return fails


if __name__ == "__main__":
    main()
