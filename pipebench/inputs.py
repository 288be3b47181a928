"""Seeded benchmark inputs and the DuckDB oracle that checks the outputs.

Everything here runs in the benchmark's own process, before and after the
program's calls: the program only ever sees the parquet files written
from a seed.

The transcripts come from the repository's dialect-shared derivation SQL
(``sources/derive.py``) run in DuckDB over a seeded ``events`` table shaped
like the sf tables (45-99 events per user, timestamps over 30 days). They
are then amplified the way ``bench.py`` amplifies them: copy ``k``
suffixes every conv_id with ``_k``, so conversations stay intact and only
their number grows. The seed also fixes the row order of the random
layout and which conversations a workload holds back.
"""

from __future__ import annotations

import glob
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import __spark_entry__ as entry
from aws_log_ingestion_spark.sources import derive

ROUTE_KEYS = ("infra_lambda_rows", "infra_vpc_rows", "infra_other_rows", "logging_rows")


def events(seed: int, n_users: int) -> pa.Table:
    """The ``events`` columns the derivation reads, for ``n_users`` users."""
    rng = np.random.default_rng([seed, 0])
    per_user = rng.integers(45, 100, n_users)
    user_id = np.repeat(np.arange(n_users, dtype=np.int64), per_user)
    offsets = rng.integers(0, 30 * 86_400 * 10**6, len(user_id))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + offsets.astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": np.arange(len(user_id), dtype=np.int64),
            "ts": ts,
            "user_id": user_id,
        }
    )


def transcripts(ev: pa.Table, factor: int, seed: int) -> pa.Table:
    """Derived transcripts amplified ``factor``x, rows in seeded random order."""
    con = duckdb.connect()
    con.register("events", ev)
    base = con.execute(derive.derive_sql("duckdb")).arrow()
    con.close()
    # UTC-adjusted timestamps, as Spark writes them: read back as TIMESTAMP
    base = base.set_column(
        base.schema.get_field_index("ts"), "ts", base["ts"].cast(pa.timestamp("us", tz="UTC"))
    )
    i = base.schema.get_field_index("conv_id")
    copies = [
        base.set_column(i, "conv_id", pc.binary_join_element_wise(base["conv_id"], f"_{k}", ""))
        for k in range(factor)
    ]
    table = pa.concat_tables(copies)
    order = np.random.default_rng([seed, 1]).permutation(table.num_rows)
    return table.take(order)


def write_files(table: pa.Table, out_dir: str, n_files: int, prefix: str = "part") -> None:
    """``table`` as ``n_files`` parquet files of consecutive rows."""
    os.makedirs(out_dir, exist_ok=True)
    for k, idx in enumerate(np.array_split(np.arange(table.num_rows), n_files)):
        pq.write_table(table.take(idx), os.path.join(out_dir, f"{prefix}-{k:05d}.parquet"))


def route_counts_events(ev: pa.Table) -> dict[str, int]:
    """The frozen ``route_counts`` oracle query over the ``events`` table."""
    con = duckdb.connect()
    con.register("events", ev)
    row = con.execute(entry._sql_route_counts()).fetchone()
    con.close()
    return dict(zip(ROUTE_KEYS, (int(v) for v in row)))


def route_counts_files(in_dir: str) -> dict[str, int]:
    """The same oracle expressions over every transcript file under ``in_dir``."""
    sql = entry._sql_route_counts()
    if entry._DUCK_T not in sql:
        raise RuntimeError("route_counts oracle no longer reads the derived transcripts")
    files = sorted(glob.glob(os.path.join(in_dir, "**", "*.parquet"), recursive=True))
    con = duckdb.connect()
    con.register("published", pq.read_table(files))
    row = con.execute(sql.replace(entry._DUCK_T, "(SELECT * FROM published)")).fetchone()
    con.close()
    return dict(zip(ROUTE_KEYS, (int(v) for v in row)))


def hub_rows(out_dir: str) -> tuple[int, int]:
    """(rows, rows with a NULL owner) across every hub file of an output dir."""
    pattern = os.path.join(out_dir, "classified", "**", "*.parquet")
    con = duckdb.connect()
    row = con.execute(
        "SELECT count(*), count(*) FILTER (WHERE owner IS NULL) "
        f"FROM read_parquet('{pattern}', hive_partitioning = false)"
    ).fetchone()
    con.close()
    return int(row[0]), int(row[1])


def check_outputs(counts: dict, expected: dict, out_dir: str, n_turns: int) -> list[str]:
    """Mismatches between a run's outputs and the oracle; empty when correct.

    Every hub row must be enriched (non-null ``owner``) and the hub must
    hold each input turn exactly once."""
    problems = [
        f"{k}: got {counts.get(k)}, oracle {expected[k]}"
        for k in ROUTE_KEYS
        if counts.get(k) != expected[k]
    ]
    rows, unenriched = hub_rows(out_dir)
    if rows != n_turns:
        problems.append(f"hub rows: got {rows}, input turns {n_turns}")
    if unenriched:
        problems.append(f"{unenriched} hub rows have a NULL owner")
    return problems
