"""DuckDB twins of the registry keys, over the same generated tables,
compared with the repo's order-insensitive normalization
(``tests/oracle_utils.py``)."""

from __future__ import annotations

import os
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tests"))

from oracle_utils import normalize  # noqa: E402


def connect(data_dir: str, tables: list[str], threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def expected(con: duckdb.DuckDBPyConnection, sql: str):
    """The normalized oracle result for one key."""
    return normalize(con.execute(sql).df())


def matches(spark_pdf, want) -> bool:
    return normalize(spark_pdf) == want


def control_query_s(threads: int) -> float:
    """A fixed DuckDB query set, timed once per run (median of three). It
    reads nothing the seed changes, so it moves only with the load on the
    box."""
    import time

    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    reps = []
    for _ in range(3):
        t0 = time.perf_counter()
        con.execute("SELECT sum(hash(i) % 1000) FROM range(5000000) t(i)").fetchall()
        con.execute("SELECT i % 1000 AS g, count(*) FROM range(1000000) t(i) GROUP BY g").fetchall()
        reps.append(time.perf_counter() - t0)
    con.close()
    return sorted(reps)[1]
