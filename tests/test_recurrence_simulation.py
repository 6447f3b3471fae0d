"""Run-vectorized recurrence vs a day-at-a-time spec simulation.

score_daily_series vectorizes per run (numpy segment per run, base
carried across runs). This pins it against a direct simulation of the
documented recurrence (SURVEY.md O34/O35: on key change base <- h,
scale <- base if spread < 0 else 1 - base, x <- 0; each day x += 1,
h <- base + scale * spread / (1 + exp(shift - x / slope))) over long
randomized multi-run series, including unknown-key mapping.
"""

from __future__ import annotations

import math
import random

import pytest

from trendmachine_spark.operators.recurrence import score_daily_series
from trendmachine_spark.params import DEFAULT_SIGPARAMS


def simulate(keys, params, default_key):
    out = []
    base = scale = h = 0.5
    prev = default_key if default_key == "~" else "Unknown"
    x = 0
    for k in keys:
        p = params.get(k) or params[default_key]
        if k != prev:
            base = h
            scale = base if p.spread < 0 else 1 - base
            prev = k
            x = 0
        x += 1
        h = base + scale * (p.spread / (1 + math.exp(p.shift - x / p.slope)))
        out.append(h)
    return out


@pytest.mark.parametrize("seed", [5, 29])
def test_recurrence_matches_simulation(spark, seed):
    rng = random.Random(seed)
    spec_domain = ["2xx", "3xx", "4xx", "5xx", "~", "weird"]
    content_domain = ["Changed", "Unchanged", "Unknown"]
    import datetime as dt

    n = 700
    day0 = dt.date(2018, 1, 1)
    rows = []
    specs, contents = [], []
    for i in range(n):
        s = rng.choice(spec_domain)
        c = rng.choice(content_domain)
        specs.append(s if s != "weird" else "~")  # engine maps unknown -> '~'
        contents.append(c)
        rows.append(("u", day0 + dt.timedelta(days=i), s, c))
    dense = spark.createDataFrame(
        rows, "url string, day date, specimen string, content string"
    )
    got = {
        r["day"]: (r["resilience"], r["fixity"])
        for r in score_daily_series(dense.repartition("url")).collect()
    }
    want_res = simulate(specs, DEFAULT_SIGPARAMS, "~")
    want_fix = simulate(contents, DEFAULT_SIGPARAMS, "Unknown")
    for i in range(n):
        d = day0 + dt.timedelta(days=i)
        assert got[d][0] == pytest.approx(want_res[i], abs=1e-12), i
        assert got[d][1] == pytest.approx(want_fix[i], abs=1e-12), i


@pytest.mark.parametrize("seed", [11])
def test_bucketed_grouping_is_url_invariant(spark, seed):
    """r14: the recurrence is a streaming mapInPandas over
    url-clustered partitions + sortWithinPartitions(url, day), resuming
    the active run across Arrow batch boundaries. Pin: the output is
    bit-identical for ANY url partition count (1 = every url in one
    task, maximal boundary mixing; 64 = urls mostly alone) and for
    ANY Arrow batch size (maxRecordsPerBatch=3 forces url runs AND key
    runs to straddle batch boundaries, so the
    carried [base, scale, x_next, h_last] state is exercised on every
    path)."""
    rng = random.Random(seed)
    import datetime as dt

    day0 = dt.date(2019, 6, 1)
    rows = []
    for u in range(37):
        for i in range(rng.randrange(1, 60)):
            rows.append((
                f"u{u:03d}",
                day0 + dt.timedelta(days=i),
                rng.choice(["2xx", "3xx", "4xx", "5xx", "~", "odd"]),
                rng.choice(["Changed", "Unchanged", "Unknown"]),
            ))
    dense = spark.createDataFrame(
        rows, "url string, day date, specimen string, content string"
    )
    def rows_of(df):
        return sorted(
            (r["url"], r["day"], r["resilience"], r["fixity"])
            for r in df.collect()
        )

    def scored(n):
        return rows_of(score_daily_series(dense.repartition(n, "url")))

    batch_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev_batch = spark.conf.get(batch_key)
    try:
        one = scored(1)
        many = scored(64)
        assert one == many  # bit-identical, not approx
        # tiny Arrow batches: every run straddles batch boundaries
        spark.conf.set(batch_key, "3")
        tiny = scored(1)
        tiny_many = scored(5)
    finally:
        spark.conf.set(batch_key, prev_batch)
    assert tiny == one  # bit-identical across batch splits
    assert tiny_many == one
