"""Seeded workload inputs.

Each table of the base fixture is rewritten with its rows in an order
drawn from the seed: DuckDB ranks the rows by a seeded hash of their
position, and the file is rewritten with the same Arrow schema (so
timestamp and list types read back exactly as in the fixture). The
multiset of rows is unchanged, so every oracle still applies; what the
seed moves is the order rows reach scans, joins, streams and
tie-breaks."""

from __future__ import annotations

import os

import duckdb
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def base_dir() -> str:
    """The sf0.01 fixture, beside the smoke fixture the package's entry
    point reads (the workloads module says why not sf0.1)."""
    from __spark_entry__ import SMOKE_SF_DIR

    return os.path.join(os.path.dirname(SMOKE_SF_DIR), "sf0.01")


def generate(out_dir: str, seed: int) -> dict[str, dict]:
    """Write every table of the base fixture to ``out_dir`` permuted by
    ``seed``; return ``{table: {"rows": n, "bytes": size}}``."""
    base = base_dir()
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    info = {}
    try:
        for t in TABLES:
            src = os.path.join(base, f"{t}.parquet")
            order = con.execute(
                "SELECT file_row_number FROM read_parquet(?, file_row_number = true) "
                "ORDER BY hash(file_row_number, ?::BIGINT), file_row_number",
                [src, seed],
            ).fetchnumpy()["file_row_number"]
            table = pq.read_table(src).take(order)
            dst = os.path.join(out_dir, f"{t}.parquet")
            pq.write_table(table, dst)
            info[t] = {"rows": table.num_rows, "bytes": os.path.getsize(dst)}
    finally:
        con.close()
    return info


def oracle_connection(in_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per generated table, the names
    the oracle SQL reads."""
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(in_dir, f"{t}.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con
