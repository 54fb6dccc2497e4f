"""Pinned DuckDB answers of the registry queries the benchmark runs.

Each DuckDB twin (``__spark_entry__.oracle_sql()``) runs once over the
benchmark's tables and its answer is stored, so the run checks each result
against a pinned answer instead of re-running DuckDB. Usage:

    python3 perfbench/pin_oracles.py <data_dir> <oracle_dir>
"""

from __future__ import annotations

import hashlib
import os
import pickle
import sys

import pandas as pd

# the engine's sf0.1 test tables the benchmark's queries read
TABLES = ["customer", "orders", "events", "documents", "embeddings"]


def oracle_path(oracle_dir: str, name: str, sql: str) -> str:
    """Where ``name``'s answer is stored; a changed twin gets a new path."""
    key = hashlib.sha256(sql.encode()).hexdigest()[:16]
    return os.path.join(oracle_dir, f"{name}-{key}.pkl")


def pin(data_dir: str, oracle_dir: str, oracles: dict[str, str]) -> None:
    import duckdb

    os.makedirs(oracle_dir, exist_ok=True)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        for name, sql in oracles.items():
            path = oracle_path(oracle_dir, name, sql)
            if os.path.exists(path):
                continue
            df = con.execute(sql).df()
            with open(path + ".tmp", "wb") as f:
                pickle.dump(df, f)
            os.replace(path + ".tmp", path)
    finally:
        con.close()


def load(oracle_dir: str, name: str, sql: str) -> pd.DataFrame:
    with open(oracle_path(oracle_dir, name, sql), "rb") as f:
        return pickle.load(f)


if __name__ == "__main__":
    import __spark_entry__ as entry

    from workloads import REGISTRY_LIST

    oracles = entry.oracle_sql()
    pin(sys.argv[1], sys.argv[2], {q: oracles[q] for _, q in REGISTRY_LIST})
