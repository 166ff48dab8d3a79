"""Order-insensitive result comparison against DuckDB.

The same canonical form the engine's driver simulation uses: every row
becomes the tuple of ``str(value)`` over its columns sorted by name,
and the sorted list of those tuples is hashed. Two engines agree when
the hashes are equal.
"""

from __future__ import annotations

import hashlib
import os

import duckdb

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def canonical_hash(columns: list[str], rows) -> str:
    """SHA-256 of the order-insensitive canonical form of ``rows``."""
    canon = sorted(
        tuple(map(str, sorted(zip(columns, r), key=lambda kv: kv[0])))
        for r in rows
    )
    return hashlib.sha256(repr(canon).encode()).hexdigest()


def frame_hash(df) -> str:
    """Canonical hash of a Spark DataFrame's collected rows."""
    return canonical_hash(df.columns, df.collect())


class DuckOracle:
    """DuckDB over the parquet files of one input dir."""

    def __init__(self, data_dir: str):
        self.con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def rows(self, sql: str) -> tuple[list[str], list[tuple]]:
        res = self.con.execute(sql)
        return [d[0] for d in res.description], res.fetchall()

    def hash(self, sql: str) -> str:
        return canonical_hash(*self.rows(sql))

    def close(self) -> None:
        self.con.close()
