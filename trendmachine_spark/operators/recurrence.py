"""Resilience / Fixity recurrences — the engine's one sequential operator.

Covers SURVEY.md §2 operators O34/O35 (reference main.py:194-227).

The score is a run-based recurrence over the dense per-url daily series:
whenever the driving key (specimen for Resilience, content for Fixity)
changes, the current score becomes the new run's ``base`` and the run's
``scale`` is ``base`` (decay, spread < 0) or ``1 - base`` (growth); each
day advances ``x`` and sets ``h = base + scale * sigmoid(x)`` with the
key's (shift, slope, spread). Each run's base depends on the previous
run's *final* value, so the dependency chain is sequential per url —
not window-expressible — but urls are independent.

Execution shape (r14, third iteration): a STREAMING ``mapInPandas``
over ``repartition(P, "url").sortWithinPartitions("url", "day")``.
The r13 grouped map keyed by raw url paid a measured ~2 ms of pure
Arrow/pandas machinery PER GROUP (one batch + one frame per url); the
first r14 bucketed form cut the group count but (a) AQE coalesced the
small-byte exchange to ONE task — Python compute is invisible to its
byte-based advisory — and (b) still paid the per-group constant per
bucket. Streaming fixes the second, and each task processes its whole
partition as a handful of large Arrow batches (per-BATCH overhead
only), carrying the tiny recurrence state (active url/key, base,
scale, x offset, last h) across batch boundaries. Bit-exactness does
not depend on where batches split: every element's formula sees the
same base/scale/x regardless (pinned by the batch/partition-invariance
tests). Measured, value-identical, sf0.1 / x10 best: per-url grouped
map 0.96 / 3.77 s, bucketed grouped map 1.42 / 1.46 s, streaming
0.43 / 0.95 s (OPTIMIZATION_r14.md:119-120).

Parallelism comes from upstream: the scorer adds no exchange and maps
the partitions it is given, which must hold each url whole. A url
window clusters them, so ``densify``'s output qualifies. Its
ENSURE_REQUIREMENTS url exchange is coalesced by AQE to few tasks (ONE
on report-sized inputs), since AQE sizes by bytes and Python compute is
invisible to it. ``pipeline.dense_daily`` therefore puts an
explicit-count url exchange, which AQE never coalesces, on the
captures; every url-keyed operator down to this map inherits it.

That count is :func:`_partition_count`: one task per task slot. Each
Python map task pays a fixed 70-85 ms of worker start before its first
row (most of it ``importlib.invalidate_caches()`` re-reading the zips on
the worker's path), so tasks beyond the slots add cost without adding
parallelism.

Within a run the curve is vectorized with numpy (the reference loops
day-at-a-time in Python; we only pay Python per *run*).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from trendmachine_spark.params import DEFAULT_SIGPARAMS, SigmoidParam


def _param_table(sigparams) -> dict[str, tuple[float, float, float]]:
    out = {}
    for k, v in (sigparams or DEFAULT_SIGPARAMS).items():
        out[k] = v.as_tuple() if isinstance(v, SigmoidParam) else tuple(v)
    return out


def _partition_count(df: DataFrame) -> int:
    """Tasks for the explicit url exchange of the capture -> report
    stage: ``min(shuffle.partitions, defaultParallelism)``, one per task
    slot. Every task of the recurrence's Python map pays a fixed worker
    start (70-85 ms) before its first row, so on a small archive
    ``shuffle.partitions`` tasks over fewer slots mostly queue up to pay
    it (at ``archive_batch``, 2 slots: a whole build took ~25 % longer
    on 8 tasks than on 2). Over Spark Connect, which has no SparkContext,
    the count is ``shuffle.partitions``.

    Not measured: large inputs, where one task per slot means larger
    sorts per task and no slack for a skewed url; at the sizes this
    repository runs, the per-task start dominates.

    AQE never coalesces this exchange (REPARTITION_BY_NUM), unlike an
    ENSURE_REQUIREMENTS url exchange, which it coalesces to ~1 task on
    byte estimates, serializing the Python stage (measured: 1 task at
    sf0.1 AND x10 under the bench confs)."""
    spark = df.sparkSession
    try:
        target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:  # absent/non-integer setting or Connect quirk
        target = 8
    try:
        return min(target, spark.sparkContext.defaultParallelism)
    except Exception:  # no SparkContext (Spark Connect)
        return target


def _make_runner(params: dict):
    """Build the vectorized, batch-resumable run recurrence.

    Returned ``run(keys, urls, default_key, state)`` scores one Arrow
    batch and returns (scores, state), where ``state = [url, key, base,
    scale, (shift, slope, spread), x_next, h_last]`` describes the run
    in progress at the batch boundary. Nested so cloudpickle ships it
    by value (workers never import this package)."""

    def run(keys, urls, default_key, state):
        n = len(keys)
        out = np.empty(n, dtype=np.float64)
        change = np.ones(n, dtype=bool)
        change[1:] = (keys[1:] != keys[:-1]) | (urls[1:] != urls[:-1])
        if state is not None and state[0] == urls[0] and state[1] == keys[0]:
            change[0] = False  # same url, same key: continue the carried run
        starts = np.flatnonzero(change)
        # leading continuation segment (rows before the first boundary)
        lead_end = starts[0] if len(starts) else n
        if lead_end > 0:
            url0, key0, base, scale, sp, x_next, _ = state
            shift, slope, spread = sp
            x = np.arange(x_next, x_next + lead_end, dtype=np.float64)
            seg = base + scale * (spread / (1.0 + np.exp(shift - x / slope)))
            out[:lead_end] = seg
            state = [url0, key0, base, scale, sp, x_next + lead_end, seg[-1]]
        h = 0.5 if state is None else state[6]
        ends = np.append(starts[1:], n)
        for s0, e0 in zip(starts, ends):
            if s0 == 0:
                # run boundary at batch start: fresh url starts at 0.5
                # (main.py:197); a key change on the SAME url carries
                # the last h from the previous batch
                h = 0.5 if (state is None or state[0] != urls[0]) else state[6]
            elif urls[s0] != urls[s0 - 1]:
                h = 0.5  # new url: fresh series
            p = params.get(keys[s0])
            if p is None:
                # Documented divergence (SURVEY.md §2.5 end): the
                # reference raises TypeError on unknown keys; we score
                # them as the unobserved/unknown class instead.
                p = params[default_key]
            shift, slope, spread = p
            base = h
            scale = base if spread < 0 else 1.0 - base
            x = np.arange(1, e0 - s0 + 1, dtype=np.float64)
            seg = base + scale * (spread / (1.0 + np.exp(shift - x / slope)))
            out[s0:e0] = seg
            h = seg[-1]
            state = [urls[s0], keys[s0], base, scale, p,
                     float(e0 - s0 + 1), seg[-1]]
        return out, state

    return run


def score_daily_series(dense: DataFrame, sigparams=None) -> DataFrame:
    """Add ``resilience`` and ``fixity`` columns to the dense daily series.

    ``dense`` must contain url, day, specimen, content (one row per
    calendar day per url) and hold each url whole in one partition:
    ``densify``'s output does (its url window clusters it); repartition
    any other frame by url first. No exchange is added (module
    docstring): any url clustering yields bit-identical results —
    pinned by the partition/batch-invariance test — it only trades
    parallelism against per-task constants. Both recurrences run in a
    single streamed scan, sorted by (url, day) within the partition, by
    a mapInPandas that resumes runs across Arrow batch boundaries.

    The whole dense row goes through the map and comes back scored —
    no join-back, so the dense subtree appears once in the plan; with
    large streamed batches the extra columns ride nearly free.

    The map function and its helpers are deliberately *nested* so
    cloudpickle serializes them by value — workers never need the
    trendmachine_spark package importable (the driver harness may run
    us from an arbitrary cwd without PYTHONPATH).
    """
    params = _param_table(sigparams)
    known = list(params)

    out_schema = T.StructType(
        list(dense.schema.fields)
        + [T.StructField("resilience", T.DoubleType()), T.StructField("fixity", T.DoubleType())]
    )
    # Build the runner HERE (driver side) and capture the resulting
    # nested closure: cloudpickle ships `_make_runner.<locals>.run` by
    # value, whereas capturing the module-level _make_runner itself
    # would pickle a by-reference stub that makes workers import this
    # package (the driver harness may not put it on PYTHONPATH).
    run = _make_runner(params)

    def stream(batches):
        st = {"res": None, "fix": None}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            urls = pdf["url"].to_numpy(dtype=object)
            spec = pdf["specimen"].to_numpy(dtype=object)
            spec = np.where(np.isin(spec, known), spec, "~")
            res, st["res"] = run(spec, urls, "~", st["res"])
            content = pdf["content"].to_numpy(dtype=object)
            fix, st["fix"] = run(content, urls, "Unknown", st["fix"])
            # the frame is fresh from Arrow: append the scores in place
            # (columns then follow out_schema's order) instead of
            # copying all of it
            pdf["resilience"] = res
            pdf["fixity"] = fix
            yield pdf

    return (
        dense.sortWithinPartitions("url", "day")
        .mapInPandas(stream, schema=out_schema)
    )


def score_daily_series_multi(dense: DataFrame, param_sets: dict) -> DataFrame:
    """Score the same dense series under several sigmoid-parameter sets
    in ONE streamed scan (reference entry point 2 — slider re-tuning —
    generalized: the expensive upstream rollup/spine is reused, and a
    whole parameter sweep costs one pass; output gains a ``param_set``
    key column). Same streaming shape and url-clustered input as
    score_daily_series, with one resumable run state per (param_set,
    recurrence); only (url, day, specimen, content) cross the Python
    boundary and the scores hash-join back, since every row leaves the
    map once per param set.
    """
    tables = {name: _param_table(p) for name, p in param_sets.items()}
    known = {name: list(t) for name, t in tables.items()}
    src = dense.select("url", "day", "specimen", "content")
    out_schema = T.StructType(
        [T.StructField("param_set", T.StringType())]
        + list(src.schema.fields)
        + [T.StructField("resilience", T.DoubleType()), T.StructField("fixity", T.DoubleType())]
    )
    # Driver-built runner closures: picklable by value (see
    # score_daily_series) — workers never import this package.
    runners = {name: _make_runner(t) for name, t in tables.items()}

    def stream(batches):
        st = {(name, rec): None for name in tables for rec in ("res", "fix")}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            urls = pdf["url"].to_numpy(dtype=object)
            spec_raw = pdf["specimen"].to_numpy(dtype=object)
            content = pdf["content"].to_numpy(dtype=object)
            outs = []
            for name, run in runners.items():
                spec = np.where(np.isin(spec_raw, known[name]), spec_raw, "~")
                res, st[(name, "res")] = run(spec, urls, "~", st[(name, "res")])
                fix, st[(name, "fix")] = run(content, urls, "Unknown", st[(name, "fix")])
                part = pdf.copy()
                part.insert(0, "param_set", name)
                part["resilience"] = res
                part["fixity"] = fix
                outs.append(part)
            yield pd.concat(outs, ignore_index=True)

    scored = (
        src.sortWithinPartitions("url", "day")
        .mapInPandas(stream, schema=out_schema)
    )
    return dense.join(
        scored.select("url", "day", "param_set", "resilience", "fixity"),
        ["url", "day"],
    ).select(
        "param_set",
        *[f.name for f in dense.schema.fields],
        "resilience",
        "fixity",
    )
