"""Registry core: QueryDef/register/QUERIES + the shared-plan
cache and table loaders (split from registry.py, round 14).

trendmachine_spark.registry re-exports everything here; import
that module, not this one, unless you are a registry_queries
chunk (importing registry from a chunk would be circular).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

from trendmachine_spark.operators.normalize import normalize_captures
from trendmachine_spark.operators.rollup import daily_rollup
from trendmachine_spark.sources.captures import events_as_captures
from trendmachine_spark.sources.tables import load_table


@dataclass
class QueryDef:
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]


QUERIES: dict[str, QueryDef] = {}


def register(name: str, oracle: Optional[str]):
    def deco(fn):
        QUERIES[name] = QueryDef(fn, oracle)
        return fn
    return deco


# Shared-plan cache: the Spark analog of the reference's load_cdx/
# load_data memoization layers (main.py:129, :186) — the daily rollup
# and dense spine are reused across every downstream query in a session
# instead of being recomputed per query.
_CACHE: dict = {}


def _shared(spark, sf_dir: str, key: str, build):
    # keyed on applicationId, not id(spark): CPython can reuse an object
    # id after a session is stopped, which would hand back persisted
    # DataFrames bound to a dead SparkContext
    k = (spark.sparkContext.applicationId, sf_dir, key)
    if k not in _CACHE:
        df = build()
        df.persist()
        _CACHE[k] = df
    return _CACHE[k]


#: lazy source-DataFrame memo — catalog registration, NOT result
#: caching: load_table pays a file listing + parquet schema read
#: (~0.1-0.3 s) every call, which a real engine does once per session
#: in its catalog. The cached object is an unexecuted plan; nothing is
#: persisted, every execution still scans the parquet.
_TABLE_CACHE: dict = {}


def _table(spark, sf_dir: str, name: str) -> DataFrame:
    k = (spark.sparkContext.applicationId, sf_dir, name)
    if k not in _TABLE_CACHE:
        _TABLE_CACHE[k] = load_table(spark, sf_dir, name)
    return _TABLE_CACHE[k]


def clear_cache() -> None:
    _TABLE_CACHE.clear()
    for df in _CACHE.values():
        try:
            df.unpersist()
        except Exception:
            pass
    _CACHE.clear()


def _daily(spark, sf_dir) -> DataFrame:
    return _shared(
        spark, sf_dir, "daily",
        lambda: daily_rollup(normalize_captures(events_as_captures(spark, sf_dir))),
    )


def _docs(spark, sf_dir) -> DataFrame:
    """documents table through the shared cache — every dedup/text/
    multimodal query reads it, the analog of the reference caching its
    loaded corpus once per session."""
    return _shared(
        spark, sf_dir, "docs", lambda: _table(spark, sf_dir, "documents")
    )


def _embeddings(spark, sf_dir) -> DataFrame:
    return _shared(
        spark, sf_dir, "emb", lambda: _table(spark, sf_dir, "embeddings")
    )
