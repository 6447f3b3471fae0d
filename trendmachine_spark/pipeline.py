"""End-to-end capture pipeline: captures -> scored daily report table.

Composes SURVEY.md §2 operators O7-O10 (normalize), O17/O19-O22 (daily
rollup + chaos), O32 (gap fill), O31/O33 (spine + ffill), O34/O35
(recurrences), O14/O16 (report projection) into one lazy DataFrame DAG.
Equivalent to the reference's ``load_cdx`` + ``load_data``
(main.py:129-231) generalized over millions of urls.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trendmachine_spark.functions.scalars import urim
from trendmachine_spark.operators.fill import gap_fill
from trendmachine_spark.operators.normalize import normalize_captures
from trendmachine_spark.operators.recurrence import _partition_count, score_daily_series
from trendmachine_spark.operators.rollup import daily_rollup
from trendmachine_spark.operators.spine import densify, resolve_as_of
from trendmachine_spark.params import REPORT_NAMES


def dense_daily(
    captures: DataFrame,
    fill: int = 0,
    policy: str = "closest",
    as_of: _dt.date | str | None = None,
) -> DataFrame:
    """captures -> dense (gap-free) per-url daily series, unscored."""
    daily = daily_rollup(normalize_captures(_url_parallel(captures)))
    filled = gap_fill(daily, fill, policy) if fill != 0 else None
    return densify(daily, filled, resolve_as_of(daily, as_of))


def _url_parallel(captures: DataFrame) -> DataFrame:
    """Hash-partition the captures by url into P tasks through one
    explicit-count exchange, which AQE never coalesces. P is
    ``_partition_count``: the session's task slots, at most
    ``shuffle.partitions``. Every operator after it is keyed by url
    first (the revisit window, the rollup, the gap filler, the spine
    window, the recurrence map, the url-bucket sink), so the whole
    capture -> report stage inherits it and runs url-parallel with no
    other exchange.

    Left out when the plan filters ``url`` to fewer literals than that
    count (a one-URL dashboard build): the surplus tasks would be empty
    yet each still start a Python worker for the recurrence map, and
    AQE sizes so small an input to one task anyway.
    """
    n = _partition_count(captures)
    bound = _url_literal_count(captures)
    if bound is not None and bound < n:
        return captures
    return captures.repartition(n, "url")


def _url_literal_count(df: DataFrame) -> int | None:
    """How many urls ``df`` can hold when its optimized plan filters
    ``url`` to literals (``url = 'x'``, ``url IN (...)``), else None
    (also where the plan is out of reach, e.g. over Spark Connect)."""
    try:
        constraints = df._jdf.queryExecution().optimizedPlan().constraints()
        it = constraints.toSeq().iterator()
    except Exception:
        return None
    best = None
    while it.hasNext():
        e = it.next()
        refs = e.references()
        if refs.size() != 1 or refs.head().name() != "url":
            continue
        kind = e.getClass().getSimpleName()
        if kind == "EqualTo" and (e.left().foldable() or e.right().foldable()):
            n = 1
        elif kind == "In":
            n = e.list().size()
        elif kind == "InSet":
            n = e.hset().size()
        else:
            continue
        best = n if best is None else min(best, n)
    return best


def require_captures(captures: DataFrame) -> DataFrame:
    """Reference error contract (main.py:190): raise on empty input.

    The reference's ``load_data`` raises ValueError when the CDX
    response parses to nothing; a lazy DataFrame pipeline would instead
    flow an empty frame through every operator. This check runs one
    cheap job (stops at the first row found) — call it where the
    reference's contract matters; the operators themselves stay lazy.
    """
    if captures.isEmpty():
        raise ValueError("Empty or malformed captures input")
    return captures


def daily_series(
    captures: DataFrame,
    fill: int = 0,
    policy: str = "closest",
    sigparams=None,
    as_of: _dt.date | str | None = None,
    require_nonempty: bool = False,
) -> DataFrame:
    """Full report table (REPORT_COLUMNS order, plus leading ``url``).

    One row per url per calendar day from the url's first capture to
    ``as_of`` (default: newest observed day across all urls).
    ``require_nonempty=True`` applies the reference's empty-input error
    contract (see require_captures) at the cost of one extra job.
    """
    if require_nonempty:
        require_captures(captures)
    dense = dense_daily(captures, fill=fill, policy=policy, as_of=as_of)
    scored = score_daily_series(dense, sigparams)
    return report_projection(scored)


def report_projection(scored: DataFrame) -> DataFrame:
    """Canonical report-column projection over a scored dense series."""
    return scored.select(
        "url",
        *[F.col(c).alias(r) for c, r in REPORT_NAMES.items()],
        urim(F.col("datetime"), F.col("url")).alias("URIM"),
    )


def report_view(series: DataFrame) -> DataFrame:
    """A daily series under its report column names, without URIM: the
    report's projection over the rollup or the dense series, which the
    dashboard panes read like the scored report. Columns the series
    lacks are left out, except the two scores, which come as typed
    nulls that column pruning drops from any plan not using them."""
    have = set(series.columns)
    return series.select("url", *[
        (F.col(c) if c in have else F.lit(None).cast("double")).alias(r)
        for c, r in REPORT_NAMES.items()
        if c in have or c in ("resilience", "fixity")
    ])
