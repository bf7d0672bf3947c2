#!/usr/bin/env python3
"""Local differential check: run DuckDB oracle SQL against the same parquet
tables and compare with the Spark outputs written by graft.Verify.

Usage: python3 tools/check.py <sfDir> <outDir>
(mirrors what the driver does for CORRECTNESS_r{N}.json)
"""
import sys, json, glob, os
import duckdb
import pandas as pd

TABLES = ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="first")
    return df.reset_index(drop=True)

def mem_total_bytes():
    """MemTotal from /proc/meminfo; None where the file does not exist."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return None

def main(sf_dir, out_dir):
    con = duckdb.connect()
    # DuckDB's default limit (80% of RAM) let a heavy oracle query (q167)
    # die out of memory on a 15 GiB host; half of RAM plus a spill
    # directory lets it finish on disk instead
    total = mem_total_bytes()
    if total:
        con.execute(f"SET memory_limit = '{total // 2 // 2**20}MB'")
    con.execute(f"SET temp_directory = '{os.path.join(out_dir, '_duckdb_spill')}'")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        spark_path = os.path.join(out_dir, name)
        if not os.path.isdir(spark_path) and os.environ.get("SPARK_GRAFT_ONLY"):
            # deliberately not dumped (subset run) — not a failure. Without
            # the knob set, a missing dir IS a failure (Verify crashed on
            # that query before writing anything).
            print(f"SKIP {name}: not dumped"); continue
        files = glob.glob(os.path.join(spark_path, "*.parquet"))
        if not files:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        try:
            sdf = pd.concat([pd.read_parquet(f) for f in files])
            ddf = con.execute(sql).df()
        except Exception as e:
            print(f"FAIL {name}: {e}"); n_fail += 1; continue
        try:
            # norm() sorts rows: an unorderable column (e.g. an array
            # column) raises here and must fail THIS query, not the run
            s, d = norm(sdf), norm(ddf)
        except Exception as e:
            print(f"FAIL {name}: unorderable output: {e}"); n_fail += 1; continue
        if list(s.columns) != list(d.columns):
            print(f"FAIL {name}: columns spark={list(s.columns)} duck={list(d.columns)}")
            n_fail += 1; continue
        if len(s) != len(d):
            print(f"FAIL {name}: rows spark={len(s)} duck={len(d)}"); n_fail += 1; continue
        try:
            pd.testing.assert_frame_equal(s, d, check_dtype=False, check_exact=False, rtol=0, atol=1e-9)
            print(f"PASS {name} ({len(s)} rows)"); n_pass += 1
        except AssertionError as e:
            print(f"FAIL {name}: value mismatch: {str(e)[:500]}"); n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
