"""DuckDB oracle hashes for the dedup_session queries, cached per corpus.

The ``neardup_clusters`` oracle grows fast with corpus size (141 s at
30k docs on a 4-core box), so each (seed, docs, words) corpus is hashed
once and the result kept under ``perfbench/_cache``.
"""

from __future__ import annotations

import json
import os

import duckdb
import pandas as pd

import __spark_entry__
from scripts.check_oracles import canon

CACHE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_cache")


def result_hash(df: pd.DataFrame) -> list:
    """Order-insensitive (rows, sorted columns, value hash) of a result,
    the same canonical form the oracle parity harness compares."""
    n, cols, h, _ = canon(df)
    return [n, cols, h]


def oracle_hashes(names, docs_path: str, key: str, threads: int) -> dict[str, list]:
    path = os.path.join(CACHE_DIR, f"oracle-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            cached = json.load(f)
        if all(n in cached for n in names):
            return cached
    sql = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {threads}")
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_path}/*.parquet')"
        )
        hashes = {n: result_hash(con.execute(sql[n]).df()) for n in names}
    finally:
        con.close()
    os.makedirs(CACHE_DIR, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(hashes, f)
    os.replace(tmp, path)
    return hashes
