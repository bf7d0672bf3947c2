"""Output checks that do not trust graft: DuckDB recomputes every result.

* Pipelines: each terminal table graft wrote (parquet under the Spark
  warehouse) must hold the same multiset of rows as DuckDB's result on the
  generator's expected rendered SQL.
* Queries: each query's row count must equal DuckDB's count of the query's
  oracle SQL over the same parquet tables.
"""
import hashlib
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def checksum(rows):
    """Order-insensitive digest of a row multiset."""
    acc = 0
    for r in rows:
        acc = (acc + int.from_bytes(hashlib.sha1(repr(tuple(r)).encode()).digest()[:8],
                                    "little")) % (1 << 64)
    return f"{len(rows)}:{acc:016x}"


def _norm(rows):
    return [tuple(int(x) if isinstance(x, (int, float)) and float(x).is_integer() else x
                  for x in r) for r in rows]


def check_pipeline(meta, warehouse):
    """Returns (checked, failures) for the project's terminal tables."""
    con = duckdb.connect()
    for mid in meta["order"]:
        if meta["materialize"][mid] != "snapshot":
            try:
                con.execute(f"CREATE VIEW {mid} AS {meta['rendered_after'][mid]}")
            except duckdb.Error:
                pass  # a broken model fails its terminals' check below
    failures = []
    for t in meta["terminals"]:
        path = os.path.join(warehouse, t.lower())
        try:
            want = _norm(con.execute(f"SELECT * FROM {t}").fetchall())
            got = _norm(con.execute(
                f"SELECT * FROM read_parquet('{path}/*.parquet')").fetchall())
        except duckdb.Error as e:
            failures.append(f"{t}: no result to compare ({str(e).splitlines()[0]})")
            continue
        if checksum(got) != checksum(want):
            failures.append(f"{t}: graft {checksum(got)} != duckdb {checksum(want)}")
    return len(meta["terminals"]), failures


def check_queries(data_dir, rows, oracle_sql):
    """rows: query -> row count graft produced (None if it failed)."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    failures = []
    for q, n in sorted(rows.items()):
        if n is None:
            continue  # already counted as failed by the harness
        want = con.execute(f"SELECT count(*) FROM ({oracle_sql[q]}) AS o").fetchone()[0]
        if want != n:
            failures.append(f"{q}: graft {n} rows != duckdb {want}")
    return len(rows), failures
