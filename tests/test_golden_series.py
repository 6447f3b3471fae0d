"""Golden tests for the full scored daily series (FIXTURES.md §3.2-§3.5)."""

from __future__ import annotations

import pytest

from tests.conftest import FIXTURE_LINES_A, FIXTURE_LINES_B
from trendmachine_spark.functions.scalars import ymd, ymd_py
from trendmachine_spark.operators import dashboard
from trendmachine_spark.operators.transitions import transition_matrix
from trendmachine_spark.pipeline import daily_series, dense_daily
from trendmachine_spark.sources.captures import captures_from_fixture


def series_rows(spark, lines, **kw):
    captures = captures_from_fixture(spark, lines)
    df = daily_series(captures, **kw).orderBy("Day")
    return df.collect()


def test_series_variant_a_fill0(spark):
    rows = series_rows(spark, FIXTURE_LINES_A, fill=0, as_of="2020-01-05")
    got = {r["Day"]: r for r in rows}
    assert list(got) == [f"2020-01-0{i}" for i in range(1, 6)]

    expect = {
        "2020-01-01": ("2xx", False, 0.523713, 0.496654, 0.666667, 0.666667),
        "2020-01-02": ("2xx", False, 0.559601, 0.520525, 0.800000, 0.800000),
        "2020-01-03": ("~", False, 0.559588, 0.520513, 0.800000, 0.800000),
        "2020-01-04": ("5xx", False, 0.549523, 0.517029, 0.833333, 0.833333),
        "2020-01-05": ("~", False, 0.549510, 0.517017, 0.833333, 0.833333),
    }
    for day, (spec, filled, res, fix, chaos, chaosn) in expect.items():
        r = got[day]
        assert r["Specimen"] == spec, day
        assert r["Filled"] == filled, day
        assert r["Resilience"] == pytest.approx(res, abs=1e-6), day
        assert r["Fixity"] == pytest.approx(fix, abs=1e-6), day
        assert r["Chaos"] == pytest.approx(chaos, abs=1e-6), day
        assert r["Chaosn"] == pytest.approx(chaosn, abs=1e-6), day

    # URIM projection (O14)
    assert got["2020-01-01"]["URIM"] == "https://web.archive.org/web/20200101020000/u"
    assert got["2020-01-03"]["URIM"] == "#"

    # Report schema order (SURVEY.md §1.2)
    assert [c for c in daily_series(
        captures_from_fixture(spark, FIXTURE_LINES_A), as_of="2020-01-05"
    ).columns] == ["url", "Day", "Datetime", "2xx", "3xx", "4xx", "5xx", "All",
                   "Specimen", "Filled", "Resilience", "Digest", "Content",
                   "Fixity", "Chaos", "Chaosn", "URIM"]


def test_series_fill_backward(spark):
    rows = series_rows(
        spark, FIXTURE_LINES_A, fill=-1, policy="backward", as_of="2020-01-05"
    )
    got = {r["Day"]: r for r in rows}
    r = got["2020-01-03"]
    assert r["Specimen"] == "5xx"
    assert r["All"] == 0
    assert r["Filled"] is True
    assert r["Resilience"] == pytest.approx(0.549536, abs=1e-6)
    assert r["Fixity"] == pytest.approx(0.520513, abs=1e-6)
    assert r["Chaos"] == pytest.approx(0.8, abs=1e-6)


def test_series_variant_b_unknown_specimen_divergence(spark):
    # Reference crashes (TypeError) on the '0' specimen; we score it as '~'.
    rows = series_rows(spark, FIXTURE_LINES_B, as_of="2020-01-05")
    got = {r["Day"]: r for r in rows}
    assert got["2020-01-05"]["Specimen"] == "0"
    assert 0.0 <= got["2020-01-05"]["Resilience"] <= 1.0


def test_transition_matrix_variant_a(spark):
    captures = captures_from_fixture(spark, FIXTURE_LINES_A)
    dense = dense_daily(captures, as_of="2020-01-05")
    cells = {
        (r["Source"], r["Target"]): r["Count"]
        for r in transition_matrix(dense).collect()
    }
    assert len(cells) == 16
    assert cells[("2xx", "2xx")] == 1  # 01-01 -> 01-02
    assert cells[("2xx", "5xx")] == 1  # 01-02 -> 01-04 (the '~' day is skipped)
    assert sum(cells.values()) == 2


def test_dashboard_panes_variant_a(spark):
    """FIXTURES.md §3.4 dashboard goldens, each pane over the scored
    variant A report (spine to 2020-01-05: three observed days, the 01-03
    and 01-05 gaps unfilled), plus the §3.2 last/previous scores."""
    report = daily_series(captures_from_fixture(spark, FIXTURE_LINES_A), as_of="2020-01-05")

    def rows(pane, *key):
        return {tuple(r[k] for k in key): r for r in getattr(dashboard, pane)(report).collect()}

    counts = ("2xx", "3xx", "4xx", "5xx", "All")
    (month,) = rows("monthly_rollup", "Month").items()
    assert month[0] == ("2020-01-15",)
    assert tuple(month[1][c] for c in counts) == (3, 1, 1, 1, 6)
    totals = rows("totals", "Status")
    assert {s: r["Total"] for (s,), r in totals.items()} == dict(zip(counts, (3, 1, 1, 1, 6)))

    summary = rows("summary_stats", "Status")
    ok = summary[("2xx",)]
    assert (ok["count"], ok["mean"], ok["min"], ok["max"]) == (2, 1.5, 1, 2)
    assert ok["std"] == pytest.approx(0.707107, abs=1e-6)
    for s in ("3xx", "4xx", "5xx"):  # one non-zero day: std 0, not NaN
        assert (summary[(s,)]["count"], summary[(s,)]["std"]) == (1, 0.0), s
    every = summary[("All",)]  # day totals 3, 2, 1
    assert (every["count"], every["mean"], every["std"]) == (3, 2.0, 1.0)
    assert (every["q1"], every["median"], every["q3"]) == (1.5, 2.0, 2.5)

    specimens = {s: r["Days"] for (s,), r in rows("specimen_breakdown", "Specimen").items()}
    assert specimens == {"Active": 3, "Filled": 0, "Missing": 2}
    content = {c: r["Count"] for (c,), r in rows("content_value_counts", "Content").items()}
    assert content == {"Changed": 2, "Unchanged": 1, "Unknown": 2}

    (first_last,) = dashboard.first_last_capture(report).collect()
    assert (first_last["first_day"], first_last["first_datetime"]) == ("2020-01-01", "20200101020000")
    assert (first_last["last_day"], first_last["last_datetime"]) == ("2020-01-04", "20200104010000")

    (head,) = dashboard.headline_metrics(report).collect()
    assert (head["captures"], head["ok_ratio"]) == (6, 0.5)
    assert (head["span_days"], head["gaps"], head["filled"], head["inactive_days"]) == (5, 2, 0, 1)
    assert head["changed_ratio"] == pytest.approx(2 / 3)
    assert head["last_resilience"] == pytest.approx(0.549510, abs=1e-6)
    assert head["prev_resilience"] == pytest.approx(0.549523, abs=1e-6)
    assert head["last_fixity"] == pytest.approx(0.517017, abs=1e-6)
    assert head["last_chaos"] == pytest.approx(0.833333, abs=1e-6)
    assert head["last_specimen"] == "~"

    # a one-day series has no previous day: its previous resilience is 0.5
    one_day = daily_series(captures_from_fixture(spark, FIXTURE_LINES_A[:3]), as_of="2020-01-01")
    (head,) = dashboard.headline_metrics(one_day).collect()
    assert head["span_days"] == 1
    assert head["last_resilience"] == pytest.approx(0.523713, abs=1e-6)
    assert head["prev_resilience"] == 0.5


def test_ymd_goldens(spark):
    goldens = {0: "", 1: "1d", 15: "15d", 45: "1m15d", 200: "6m20d", 365: "1y",
               380: "1y", 395: "1y1m", 700: "1y11m", 730: "2y", 1000: "2y9m"}
    for d, want in goldens.items():
        assert ymd_py(d) == want, d
    import pyspark.sql.functions as F
    df = spark.createDataFrame([(d,) for d in goldens], "d long").withColumn(
        "h", ymd(F.col("d"))
    )
    for r in df.collect():
        assert r["h"] == goldens[r["d"]], r["d"]
