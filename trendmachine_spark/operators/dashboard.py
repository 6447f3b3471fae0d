"""Dashboard panes over the daily report table.

Covers SURVEY.md §2 operators O11 (observed filter), O13 (zero->NULL),
O23 (monthly rollup), O24 (summary stats), O25 (totals), O26 (value
counts), O27 (specimen breakdown), O30 (headline metrics), O37 (melt),
O41 (first/last) — reference main.py:383-405.

Every input is a report: url + the REPORT_COLUMNS names. The product
passes the scored table of :func:`trendmachine_spark.pipeline.daily_series`;
the registry queries of O23-O27, O30 and O41 pass a
:func:`trendmachine_spark.pipeline.report_view` of the shared rollup or
dense series and check these same panes against their DuckDB oracles.
Each pane reads its input once (no union or self-join of it), so over an
unpersisted report it runs the report's recurrence once. Everything
here is built-in aggregations — no UDFs, fully codegen'd.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from trendmachine_spark.functions.scalars import ymd

STATUS_COLS = ["2xx", "3xx", "4xx", "5xx", "All"]
#: the status columns as (name, value) rows
_STATUS_STACK = "stack({}, {})".format(
    len(STATUS_COLS), ", ".join(f"'{c}', `{c}`" for c in STATUS_COLS)
)


def observed_days(report: DataFrame) -> DataFrame:
    """O11 — days with at least one capture, pruned to the count columns."""
    return report.filter(F.col("All") != 0).select(
        "url", "Day", "Datetime", "2xx", "3xx", "4xx", "5xx", "All"
    )


def monthly_rollup(report: DataFrame) -> DataFrame:
    """O23 — per-url monthly sums; the month is keyed to its 15th day
    (``Day[:8] + '15'``, main.py:384)."""
    orig = observed_days(report)
    month = F.concat(F.substring("Day", 1, 8), F.lit("15")).alias("Month")
    return orig.groupBy("url", month).agg(
        *[F.sum(c).alias(c) for c in STATUS_COLS]
    )


def totals(report: DataFrame) -> DataFrame:
    """O25 — per-url column totals over observed days, long form."""
    orig = observed_days(report)
    wide = orig.groupBy("url").agg(*[F.sum(c).alias(c) for c in STATUS_COLS])
    return wide.selectExpr("url", f"{_STATUS_STACK} as (Status, Total)")


def summary_stats(report: DataFrame) -> DataFrame:
    """O24 — pandas-describe equivalents per status column over its
    non-zero days (zero counts are NULL — O13), one row per (url,
    Status): one ``stack`` of the five columns, one aggregate. mean and
    std come from integer count/sum/sum-of-squares with one float chain
    each, so they do not depend on partition order and match the
    registry oracle bit for bit; std of a single observation is 0 (the
    reference replaces NaN)."""
    orig = observed_days(report)
    v = orig.selectExpr("url", f"{_STATUS_STACK} as (Status, v)").filter(
        F.col("v") != 0
    )
    n, s, ss = F.count("v"), F.sum("v"), F.sum(F.col("v") * F.col("v"))
    return v.groupBy("url", "Status").agg(
        n.alias("count"),
        (s.cast("double") / n).alias("mean"),
        F.when(
            n > 1, F.sqrt((ss.cast("double") - s.cast("double") * s / n) / (n - 1))
        ).otherwise(0.0).alias("std"),
        F.min("v").alias("min"),
        F.expr("percentile(v, 0.25)").alias("q1"),
        F.expr("percentile(v, 0.5)").alias("median"),
        F.expr("percentile(v, 0.75)").alias("q3"),
        F.max("v").alias("max"),
    )


def content_value_counts(report: DataFrame) -> DataFrame:
    """O26 — fixity breakdown: count of days per Content state."""
    return report.groupBy("url", "Content").agg(F.count(F.lit(1)).alias("Count"))


def specimen_breakdown(report: DataFrame) -> DataFrame:
    """O27 — Active / Filled / Missing day counts per url; Missing is
    the rest of the spine (``Filled`` is specimen set and no count,
    archive.py:43-45)."""
    agg = report.groupBy("url").agg(
        F.sum((F.col("All") != 0).cast("long")).alias("Active"),
        F.sum(F.col("Filled").cast("long")).alias("Filled"),
        F.count(F.lit(1)).alias("_n"),
    )
    wide = agg.withColumn("Missing", F.col("_n") - F.col("Active") - F.col("Filled"))
    return wide.selectExpr(
        "url", "stack(3, 'Active', Active, 'Filled', Filled, 'Missing', Missing) as (Specimen, Days)"
    )


def chaos_melt(report: DataFrame) -> DataFrame:
    """O37 — melt (Chaos, Chaosn) to long (Day, Window, Chaos)."""
    return report.selectExpr(
        "url", "Day", "stack(2, 'All', Chaos, 'Last1000', Chaosn) as (Window, Chaos)"
    )


def first_last_capture(report: DataFrame) -> DataFrame:
    """O41 — first and last observed capture day + datetime per url."""
    orig = observed_days(report)
    return orig.groupBy("url").agg(
        F.min("Day").alias("first_day"),
        F.min_by("Datetime", "Day").alias("first_datetime"),
        F.max("Day").alias("last_day"),
        F.max_by("Datetime", "Day").alias("last_datetime"),
    )


def headline_metrics(report: DataFrame) -> DataFrame:
    """O30 — per-url scalar metrics (main.py:387-405).

    captures (mmct), ok ratio, span (days + humanized), inactivity days
    from the last observed day to the url's last spine day, gap/filled
    counts, changed ratio, and the last day's resilience, fixity,
    chaos/chaosn and specimen, with the day before's resilience (0.5
    for a one-day series). One ``lag`` window for that previous value,
    then one ``groupBy(url)`` taking the last day's values by
    ``max_by(…, Day)``.
    """
    prev = F.lag("Resilience", 1, 0.5).over(Window.partitionBy("url").orderBy("Day"))
    agg = report.withColumn("_prev", prev).groupBy("url").agg(
        F.sum("All").alias("captures"),
        F.sum("2xx").alias("_ok"),
        F.count(F.lit(1)).alias("span_days"),
        F.max(F.when(F.col("All") != 0, F.col("Day"))).alias("last_observed_day"),
        F.max("Day").alias("_end"),
        F.sum((F.col("All") == 0).cast("long")).alias("gaps"),
        F.sum(F.col("Filled").cast("long")).alias("filled"),
        F.sum((F.col("Content") == "Changed").cast("long")).alias("changed_days"),
        F.sum((F.col("All") != 0).cast("long")).alias("active_days"),
        *[F.max_by(c, "Day").alias(f"last_{c.lower()}")
          for c in ("Resilience", "Fixity", "Chaos", "Chaosn", "Specimen")],
        F.max_by("_prev", "Day").alias("prev_resilience"),
    )
    return agg.select(
        "url", "captures", "span_days", "last_observed_day", "gaps", "filled",
        "changed_days", "active_days",
        (F.col("_ok") / F.nullif(F.col("captures"), F.lit(0))).alias("ok_ratio"),
        ymd(F.col("span_days")).alias("span_human"),
        F.datediff(F.to_date("_end"), F.to_date("last_observed_day"))
        .cast("long").alias("inactive_days"),
        (F.col("changed_days") / F.nullif(F.col("active_days"), F.lit(0)))
        .alias("changed_ratio"),
        "last_resilience", "prev_resilience", "last_fixity", "last_chaos",
        "last_chaosn", "last_specimen",
    )
