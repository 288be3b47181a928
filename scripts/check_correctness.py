"""Local replica of the driver's correctness gate: run each queries()
entry on Spark and its oracle_sql() on DuckDB over the same sf dir,
compare row count, column names, and an order-insensitive value multiset.

Usage: python scripts/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(df):
    """pandas DF -> sorted multiset of stringified rows, columns sorted."""
    import pandas as pd

    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return "NULL"
        if isinstance(v, float) and v == int(v):
            return str(int(v))
        if isinstance(v, bool):
            return str(int(v))
        if hasattr(v, "item"):
            v = v.item()
        return str(v)

    rows = ["|".join(cell(v) for v in row) for row in df.itertuples(index=False)]
    return sorted(rows)


def duckdb_views(sf_dir: str):
    """DuckDB connection with one view per parquet table in ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def compare_query(spark, con, sf_dir: str, name: str, fn, oracle: str | None):
    """Run one queries() entry on Spark and its oracle SQL (if any) on
    DuckDB; returns ``(ok, detail)``. A query without an oracle only has
    to run; ``detail`` starts with MATCH or rows-only when ``ok``."""
    try:
        sdf = fn(spark, sf_dir).toPandas()
    except Exception as ex:
        return False, f"spark error {type(ex).__name__}: {ex}"
    if oracle is None:
        detail = f"rows-only ({len(sdf)} rows)"
        if len(sdf) == 0 and name not in ("dedup_simhash",):
            detail += f"\n      WARNING: {name} returned 0 rows"
        return True, detail
    try:
        odf = con.execute(oracle).df()
    except Exception as ex:
        return False, f"duckdb error {ex}"
    s_cols, o_cols = sorted(sdf.columns), sorted(odf.columns)
    if s_cols != o_cols:
        return False, f"columns {s_cols} != {o_cols}"
    # dtype alignment (the driver may compare schemas): require equal
    # pandas dtypes modulo object/string
    dt_mismatch = [
        (c, str(sdf[c].dtype), str(odf[c].dtype))
        for c in s_cols
        if str(sdf[c].dtype) != str(odf[c].dtype)
        and not (sdf[c].dtype == object or odf[c].dtype == object)
    ]
    if dt_mismatch:
        return False, f"dtype mismatch {dt_mismatch}"
    if len(sdf) != len(odf):
        return False, f"rows {len(sdf)} != {len(odf)}"
    ns, no = normalize(sdf), normalize(odf)
    if ns != no:
        diff = [(a, b) for a, b in zip(ns, no) if a != b][:3]
        return False, f"value mismatch; first diffs: {diff}"
    return True, f"MATCH ({len(sdf)} rows)"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from aws_log_ingestion_spark.session import get_spark

    spark = get_spark("correctness-check", cores=8, shuffle_partitions=16)
    con = duckdb_views(sf_dir)
    oracles = e.oracle_sql()
    failures = []
    for name, fn in e.queries().items():
        if only and name not in only:
            continue
        t0 = time.time()
        ok, detail = compare_query(spark, con, sf_dir, name, fn, oracles.get(name))
        if not ok:
            failures.append(name)
        print(f"{'ok   ' if ok else 'FAIL '} {name}: {detail} [{time.time() - t0:.1f}s]")

    print(f"\n{len(failures)} failures: {failures}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
