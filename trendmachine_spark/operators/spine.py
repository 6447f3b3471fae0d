"""Date-spine densification + chaos forward-fill.

Covers SURVEY.md §2 operators O31 (date spine), O33 (chaos ffill), O40
(union of observed + filled days).

The reference builds the spine as ``pd.date_range(first_day, today)``
with dict point-lookups (main.py:199-207). Spark-first: one url window
over the daily table, whose rows each ``explode`` a ``sequence()`` over
the gap up to the next observed day. ``today`` becomes an explicit
``as_of`` date so results are deterministic.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def resolve_as_of(daily: DataFrame, as_of: _dt.date | str | None) -> _dt.date:
    """Default as_of = the newest observed day across all urls."""
    if as_of is None:
        row = daily.agg(F.max("day").alias("mx")).collect()[0]
        return row["mx"]
    if isinstance(as_of, str):
        return _dt.date.fromisoformat(as_of)
    return as_of


def densify(daily: DataFrame, filled: DataFrame | None, as_of: _dt.date) -> DataFrame:
    """Observed daily rows (∪ filled rows) -> gap-free per-url series.

    ``filled`` carries (url, day, specimen) synthesized by the gap
    filler; its rows only ever land on days absent from ``daily``
    (interior gap days), so the union still starts each url's series
    on its first observed day and holds each day at most once. Days
    after ``as_of`` are dropped. Missing days default to the DailyRecord
    defaults (archive.py:4-20): specimen '~', digest '~', datetime '~',
    content 'Unknown', counts 0.
    Chaos values forward-fill from the previous observed day
    (main.py:202-207); before any observed day they are 0.0.
    """
    observed = daily
    if filled is not None:
        filled_full = filled.select(
            "url",
            "day",
            F.date_format("day", "yyyy-MM-dd").alias("day_str"),
            F.lit(0).cast("long").alias("_2xx"),
            F.lit(0).cast("long").alias("_3xx"),
            F.lit(0).cast("long").alias("_4xx"),
            F.lit(0).cast("long").alias("_5xx"),
            F.lit(0).cast("long").alias("all"),
            F.col("specimen"),
            F.lit("~").alias("datetime"),
            F.lit("~").alias("digest"),
            F.lit("Unknown").alias("content"),
            F.lit(None).cast("double").alias("chaos"),
            F.lit(None).cast("double").alias("chaosn"),
        )
        observed = observed.unionByName(filled_full)

    # One url window over the observed rows builds the spine: each
    # observed day emits itself plus the gap days up to the day before
    # the next observed day (as_of for the last one), and hands them its
    # forward-filled chaos. The only sort and the only url requirement
    # are then over the daily rows, not the ~16x denser spine, and no
    # (url, day) join needs its own exchanges at scale.
    #
    # O33 — chaos forward-fill: a null-based running last() reproduces
    # the reference's falsy check. NB equivalence does NOT require
    # observed chaos > 0: an all-revisit url can close a day at 0.0, but
    # then the reference's falsy forward-fill also propagates 0.0, so
    # carrying the explicit 0.0 forward yields the same series. A gap
    # day's value is that of the observed day before it, as in a fill
    # over the dense rows (whose gap rows are all null).
    w = Window.partitionBy("url").orderBy("day")
    wff = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ffill = {c: F.coalesce(F.last(c, ignorenulls=True).over(wff), F.lit(0.0))
             for c in ("chaos", "chaosn")}
    # greatest(): a repeated (url, day) row emits just itself instead of
    # a descending sequence, which raises
    last_day = F.coalesce(F.date_sub(F.lead("day").over(w), 1), F.lit(as_of))
    runs = observed.filter(F.col("day") <= F.lit(as_of)).select(
        *[ffill[c].alias(c) if c in ffill else c for c in observed.columns],
        F.col("day").alias("_obs"),
        F.sequence("day", F.greatest("day", last_day), F.expr("interval 1 day")).alias("_days"),
    )
    days = runs.select(
        *[c for c in runs.columns if c not in ("day", "_days")],
        F.explode("_days").alias("day"),
    )
    observed_day = F.col("day") == F.col("_obs")
    defaults = {
        "day_str": F.date_format("day", "yyyy-MM-dd"),
        "specimen": F.lit("~"),
        "datetime": F.lit("~"),
        "digest": F.lit("~"),
        "content": F.lit("Unknown"),
        **{c: F.lit(0) for c in ("_2xx", "_3xx", "_4xx", "_5xx", "all")},
    }
    cols = ["url", "day"] + [c for c in observed.columns if c not in ("url", "day")]
    return days.select(
        *[F.coalesce(F.when(observed_day, F.col(c)), defaults[c]).alias(c)
          if c in defaults else c for c in cols]
    ).withColumn("filled", (F.col("specimen") != "~") & (F.col("all") == 0))
