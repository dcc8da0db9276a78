"""Output check: Spark rows against the registry's DuckDB oracle SQL.

Row count, column names and the order-insensitive cell ``repr``
comparison come from ``tools/check_oracle.py`` (its ``canon``), so the
benchmark and the project's correctness gate agree on what a match is.
"""

from __future__ import annotations

import os

import duckdb
from check_oracle import canon

from datagen import TABLES


def compare(srows: list[tuple], scols: list[str], drows: list[tuple], dcols: list[str]) -> str | None:
    """None when the two results match, else a one-line reason."""
    if len(srows) != len(drows):
        return f"rows {len(srows)} vs oracle {len(drows)}"
    s_lower = [c.lower() for c in scols]
    d_lower = [c.lower() for c in dcols]
    if sorted(s_lower) != sorted(d_lower):
        return f"columns {sorted(s_lower)} vs oracle {sorted(d_lower)}"
    cs, cd = canon(srows, s_lower), canon(drows, d_lower)
    if cs != cd:
        bad = sum(1 for a, b in zip(cs, cd) if a != b)
        return f"values differ in {bad}/{len(cs)} rows"
    return None


class Oracle:
    """DuckDB over the benchmark tables in ``data_dir``."""

    def __init__(self, data_dir: str, temp_dir: str):
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory = '{temp_dir}'")
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(path):
                self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    def columns(self, sql: str) -> list[str]:
        return self.con.sql(sql).columns

    def check(self, sql: str, scols: list[str], srows: list[tuple]) -> str | None:
        rel = self.con.sql(sql)
        return compare(srows, scols, rel.fetchall(), rel.columns)

    def close(self) -> None:
        self.con.close()
