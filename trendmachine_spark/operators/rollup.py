"""Daily rollup: per-(url, day) counts, specimen arg-max, chaos, content.

Covers SURVEY.md §2 operators O17 (All), O19 (daily pivot counts), O20
(specimen arg-max by priority), O21 (chaos / chaosn), O22 (content
change detection).

Reference semantics (main.py:129-183) re-expressed as one window pass +
one hash aggregation:

* counts: conditional sums per status class; unknown classes are counted
  nowhere (DailyRecord.incr swallows them, archive.py:51-56) but still
  compete for specimen with priority 0;
* specimen: the *first* capture (in (ts, seq) order) achieving the day's
  maximum priority wins (strict ``pr > cp`` at main.py:164);
* chaos: with chg_i = (cls_i != cls_{i-1}), cls_{-1} = '~', the day's
  closing values are chaos = sum(chg)/n cumulative and chaosn =
  sum(chg) over rows(-(SWS-2), 0) / min(SWS, n). NB the frame is
  SWS-1 = 999 transitions wide, NOT SWS: the ring buffer at
  main.py:170-178 evicts boundary (i-SWS, i-SWS+1) when processing row
  i, and at the exact window-fill moment (i = SWS-1) it evicts the
  virtual initial transition (status[0] vs '~') — so the window holds
  the 999 *internal* boundaries of its 1000 rows (verified against a
  ring-buffer simulation in tests/test_chaos_window_eviction.py);
* content: day's specimen digest vs the previous observed day's
  ('Unchanged'/'Changed'; first day compares to '~' => 'Changed').
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from trendmachine_spark.params import STATUS_PRIORITY, SWS


def _priority(cls) -> Column:
    expr = F.lit(0)
    for k, v in STATUS_PRIORITY.items():
        expr = F.when(cls == k, F.lit(v)).otherwise(expr)
    return expr


def daily_rollup(normalized: DataFrame) -> DataFrame:
    """normalized captures -> one row per (url, day).

    Output: url, day, day_str, _2xx, _3xx, _4xx, _5xx, all, specimen,
    datetime, digest, content, chaos, chaosn.
    """
    worder = Window.partitionBy("url").orderBy("ts", "seq")

    # O21 — run-change flag over the url's full capture stream.
    chg = (
        F.col("cls") != F.coalesce(F.lag("cls").over(worder), F.lit("~"))
    ).cast("long")
    rn = F.row_number().over(worder)
    cum = Window.partitionBy("url").orderBy("ts", "seq").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # SWS-1 transitions = the internal boundaries of SWS rows (see
    # module docstring for the eviction off-by-one)
    sliding = Window.partitionBy("url").orderBy("ts", "seq").rowsBetween(
        -(SWS - 2), Window.currentRow
    )
    c = (
        normalized.withColumn("_chg", chg)
        .withColumn("_rn", rn)
        .withColumn("_chaos", F.sum("_chg").over(cum) / F.col("_rn"))
        .withColumn(
            "_chaosn",
            F.sum("_chg").over(sliding) / F.least(F.lit(SWS), F.col("_rn")),
        )
    )

    # Arg-max ordering key: highest priority, then earliest (ts, seq).
    # ts is a 14-digit string => numeric negation gives the reversal.
    order_key = F.struct(
        _priority(F.col("cls")).alias("pr"),
        (-F.col("ts").cast("long")).alias("nts"),
        (-F.col("seq")).alias("nseq"),
    )
    payload = F.struct(
        F.col("ts").alias("datetime"),
        F.col("digest").alias("digest"),
        F.col("cls").alias("specimen"),
    )
    close_key = F.struct(F.col("ts").cast("long").alias("ts"), F.col("seq").alias("seq"))
    d = (
        c.groupBy("url", "day", "day_str")
        .agg(
            F.sum((F.col("cls") == "2xx").cast("long")).alias("_2xx"),
            F.sum((F.col("cls") == "3xx").cast("long")).alias("_3xx"),
            F.sum((F.col("cls") == "4xx").cast("long")).alias("_4xx"),
            F.sum((F.col("cls") == "5xx").cast("long")).alias("_5xx"),
            F.max_by(payload, order_key).alias("_spec"),
            F.max_by("_chaos", close_key).alias("chaos"),
            F.max_by("_chaosn", close_key).alias("chaosn"),
        )
        .withColumn("all", F.col("_2xx") + F.col("_3xx") + F.col("_4xx") + F.col("_5xx"))
        .withColumn("specimen", F.col("_spec.specimen"))
        .withColumn("datetime", F.col("_spec.datetime"))
        .withColumn("digest", F.col("_spec.digest"))
        .drop("_spec")
    )

    # O22 — content change vs previous *observed* day's specimen digest.
    wday = Window.partitionBy("url").orderBy("day")
    prev_digest = F.coalesce(F.lag("digest").over(wday), F.lit("~"))
    d = d.withColumn(
        "content",
        F.when(F.col("digest") == prev_digest, "Unchanged").otherwise("Changed"),
    )
    return d.select("url", "day", "day_str", "_2xx", "_3xx", "_4xx", "_5xx", "all",
                    "specimen", "datetime", "digest", "content", "chaos", "chaosn")
