"""Local stand-in for the driver's DuckDB-oracle comparison.

Mirrors the documented check (__spark_entry__.py docstring): row count,
schema (column names), and an order-insensitive value comparison. We
compare values EXACTLY (after canonicalizing to strings) because the
driver hashes values — any float that differs in the last bit would
break its hash, so our queries must be bit-deterministic across engines.
"""

from __future__ import annotations

import duckdb
import pandas as pd

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if col.dtype == object:
            df[c] = col.astype(str)
        elif str(col.dtype).startswith("float"):
            # repr keeps full precision; exact bit equality required
            df[c] = col.map(lambda v: repr(float(v)) if pd.notna(v) else "NaN")
        else:
            df[c] = col.astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(spark_df, sql: str, sf_dir: str, name: str = "?") -> list[str]:
    """Returns a list of mismatch descriptions (empty = pass)."""
    mine = spark_df.toPandas()
    with duck_connection(sf_dir) as con:
        oracle = con.sql(sql).df()
    return _diff(mine, oracle, name)


def compare_documents(spark_df, sql: str, documents: pd.DataFrame,
                      name: str = "?") -> list[str]:
    """:func:`compare` over a hand-built ``documents`` frame (doc_id,
    text), registered as the oracle's ``documents`` table, instead of
    an ``sf_dir``."""
    mine = spark_df.toPandas()
    with duckdb.connect() as con:
        con.register("documents", documents)
        oracle = con.sql(sql).df()
    return _diff(mine, oracle, name)


def _diff(mine: pd.DataFrame, oracle: pd.DataFrame, name: str) -> list[str]:
    problems: list[str] = []
    if sorted(mine.columns) != sorted(oracle.columns):
        problems.append(
            f"{name}: schema mismatch spark={sorted(mine.columns)} duck={sorted(oracle.columns)}"
        )
        return problems
    if len(mine) != len(oracle):
        problems.append(f"{name}: row count spark={len(mine)} duck={len(oracle)}")
    a, b = _canon(mine), _canon(oracle)
    if len(a) == len(b):
        neq = (a != b).any(axis=1)
        if neq.any():
            idx = neq[neq].index[:5]
            for i in idx:
                problems.append(
                    f"{name}: row {i} differs\n  spark={a.loc[i].to_dict()}\n  duck ={b.loc[i].to_dict()}"
                )
            problems.append(f"{name}: {int(neq.sum())} differing rows total")
    return problems
