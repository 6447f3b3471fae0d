"""Multi-granularity distinct-period counts (PeriodicSamples).

Covers SURVEY.md §2 operator O29 (reference samples.py:1-28).

The reference counts *runs* of equal timestamp prefixes at 6
granularities over a sorted stream; for sorted-per-url input that equals
``count(distinct prefix)`` per granularity, which is how the engine
computes it — one aggregation, six countDistincts, no state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trendmachine_spark.params import PERIOD_PREFIX


def periodic_samples(captures: DataFrame, per_url: bool = True) -> DataFrame:
    """captures (url, ts, ...) -> (url?, Period, Samples) long form.

    Period ordering follows the reference (Second..Year); a ``PeriodRank``
    column is included so callers can sort without re-deriving it.
    """
    aggs = [
        F.countDistinct(F.substring("ts", 1, n)).alias(p) for p, n in PERIOD_PREFIX.items()
    ]
    keys = ["url"] if per_url else []
    wide = captures.groupBy(*keys).agg(*aggs) if keys else captures.agg(*aggs)
    stack_args = ", ".join(f"'{p}', `{p}`" for p in PERIOD_PREFIX)
    long = wide.selectExpr(
        *keys, f"stack({len(PERIOD_PREFIX)}, {stack_args}) as (Period, Samples)"
    )
    rank = F.lit(0)
    for i, p in enumerate(PERIOD_PREFIX):
        rank = F.when(F.col("Period") == p, F.lit(i)).otherwise(rank)
    return long.withColumn("PeriodRank", rank)
