"""Status transition matrix over consecutive valid-specimen days.

Covers SURVEY.md §2 operators O12 (valid-specimen filter) + O28
(reference main.py:232-246).

The reference iterates the dense daily list, skipping days whose
specimen is outside {2xx,3xx,4xx,5xx} *without advancing the lag value*
— i.e. filter first, then pair consecutive survivors. Output is the
dense long form (Source, Target, Count) with all 16 cells present.

Known divergence (one edge case): in main.py:238-245 ``pr`` only
advances on a *successful* count, so if the FIRST day of the series has
an out-of-domain specimen ('~' or a raw token), the reference's first
valid day pairs against that stale initial '~' and the whole series
counts zero transitions; filter-then-lag instead counts every
consecutive-survivor pair. The reference behavior is arguably a bug
(one bad leading day silences the matrix), so the Spark semantics are
kept — same stance as the unknown-specimen divergence in SURVEY §2.5.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from trendmachine_spark.params import TRANSITION_CLASSES


def transition_matrix(dense_daily: DataFrame) -> DataFrame:
    """dense daily series -> (url, Source, Target, Count).

    ``dense_daily`` needs url, day, specimen; filled days participate
    (their specimen is set), missing '~' days are skipped.

    ONE exchange total: ``prev`` is the previous *valid* specimen via
    ``last(valid, ignorenulls)`` over the preceding frame (equivalent to
    filter-then-lag, but keeps every row so no url is lost), and the
    16 cells are conditional counts in a ``groupBy(url)`` that reuses
    the window's url hash-partitioning (HashAggregate, no new Exchange)
    — then a narrow ``stack`` to the dense long form. This replaces the
    round-1 shape (filtered lag + a second (url,src,tgt) shuffle + a
    ``urls.distinct()`` re-scan left-joined against broadcast cells).
    """
    w = (
        Window.partitionBy("url")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    valid = F.col("specimen").isin(*TRANSITION_CLASSES)
    rows = dense_daily.select("url", "day", "specimen").withColumn(
        "prev", F.last(F.when(valid, F.col("specimen")), ignorenulls=True).over(w)
    )
    aggs = [
        F.count(
            F.when(valid & (F.col("prev") == s) & (F.col("specimen") == t), True)
        ).alias(f"_c{i}_{j}")
        for i, s in enumerate(TRANSITION_CLASSES)
        for j, t in enumerate(TRANSITION_CLASSES)
    ]
    wide = rows.groupBy("url").agg(*aggs)
    stack_expr = "stack({}, {}) as (Source, Target, Count)".format(
        len(TRANSITION_CLASSES) ** 2,
        ", ".join(
            f"'{s}', '{t}', _c{i}_{j}"
            for i, s in enumerate(TRANSITION_CLASSES)
            for j, t in enumerate(TRANSITION_CLASSES)
        ),
    )
    return wide.selectExpr("url", stack_expr)
