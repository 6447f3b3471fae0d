"""Property invariants on randomized capture streams (FIXTURES.md §4)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from trendmachine_spark.operators.recurrence import _partition_count
from trendmachine_spark.operators.transitions import transition_matrix
from trendmachine_spark.pipeline import daily_series, dense_daily
from trendmachine_spark.sources.captures import CAPTURES_SCHEMA


def random_captures(spark, n_urls=6, seed=7, statuses=None):
    rng = random.Random(seed)
    rows = []
    statuses = statuses or ["200", "201", "301", "302", "404", "500", "503", "-", "0", "robot"]
    for u in range(n_urls):
        t = rng.randint(0, 80) * 86_400 + 1_577_836_800  # 2020-01-01 base
        digests = [f"D{u}{i:03d}XXXX" for i in range(12)]
        seq = 0
        for _ in range(rng.randint(5, 1200)):
            t += rng.randint(600, 200_000)
            import datetime as dt
            ts = dt.datetime.utcfromtimestamp(t).strftime("%Y%m%d%H%M%S")
            rows.append((f"u{u}", seq, ts, rng.choice(statuses), rng.choice(digests)))
            seq += 1
    return spark.createDataFrame(rows, CAPTURES_SCHEMA)


@pytest.fixture(scope="module")
def series(spark):
    caps = random_captures(spark)
    rep = daily_series(caps, fill=3, policy="closest").cache()
    rep.count()
    return rep


def test_scores_in_unit_interval(series):
    row = series.agg(
        F.min("Resilience"), F.max("Resilience"), F.min("Fixity"), F.max("Fixity"),
        F.min("Chaos"), F.max("Chaos"), F.min("Chaosn"), F.max("Chaosn"),
    ).collect()[0]
    for v in row:
        assert 0.0 <= v <= 1.0


def test_spine_has_no_holes(series):
    gaps = (
        series.groupBy("url")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.datediff(F.max(F.to_date("Day")), F.min(F.to_date("Day"))).alias("span"),
        )
        .filter(F.col("n") != F.col("span") + 1)
    )
    assert gaps.count() == 0


def test_spine_ends_at_global_max(series):
    per_url_max = series.groupBy("url").agg(F.max("Day").alias("mx"))
    assert per_url_max.select("mx").distinct().count() == 1


def test_breakdown_partitions_spine(series):
    rows = series.groupBy("url").agg(
        F.count(F.lit(1)).alias("spine"),
        F.sum((F.col("All") != 0).cast("long")).alias("active"),
        F.sum(F.col("Filled").cast("long")).alias("filled"),
        F.sum(((F.col("All") == 0) & (~F.col("Filled"))).cast("long")).alias("missing"),
    ).collect()
    for r in rows:
        assert r["active"] + r["filled"] + r["missing"] == r["spine"]


def test_transition_total(spark, series):
    # transitions sum = (# valid-specimen days - 1) per url with >= 1 valid day
    dense = series.select(
        "url", F.to_date("Day").alias("day"), F.col("Specimen").alias("specimen")
    )
    t = transition_matrix(dense)
    totals = {r["url"]: r["s"] for r in t.groupBy("url").agg(F.sum("Count").alias("s")).collect()}
    valid = {
        r["url"]: r["n"]
        for r in dense.filter(F.col("specimen").isin("2xx", "3xx", "4xx", "5xx"))
        .groupBy("url").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for url, n in valid.items():
        assert totals.get(url, 0) == n - 1


def test_fill_zero_produces_no_filled_rows(spark):
    # restricted to in-range statuses: a day whose captures all carry
    # unknown-class tokens is Filled=True in the reference too
    # (specimen set, counts 0 — archive.py:43-49), so the property only
    # holds when every capture classifies into 2xx..5xx or resolves.
    caps = random_captures(
        spark, n_urls=3, seed=11,
        statuses=["200", "301", "404", "503", "-"],
    )
    rep = daily_series(caps, fill=0)
    assert rep.filter(F.col("Filled")).count() == 0


def test_fill_zero_unknown_status_days_are_filled_flagged(spark):
    # ...and the reference-faithful counterexample, pinned.
    caps = random_captures(spark, n_urls=2, seed=11)
    rep = daily_series(caps, fill=0)
    bad = rep.filter(F.col("Filled") & ~F.col("Specimen").isin("2xx", "3xx", "4xx", "5xx", "~"))
    assert rep.filter(F.col("Filled")).count() == bad.count()


def test_partition_invariance(spark):
    """Identical results at 1 vs 32 shuffle partitions (FIXTURES.md §4);
    the capture -> report url exchange runs on 1 task, then on one per
    task slot (it never exceeds them)."""
    caps = random_captures(spark, n_urls=4, seed=23)
    slots = spark.sparkContext.defaultParallelism
    results = []
    for parts in ("1", "32"):
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        try:
            rep = daily_series(caps.repartition(int(parts)), fill=2, policy="closest")
            assert _partition_count(rep) == min(int(parts), slots)
            rows = sorted(
                (r["url"], r["Day"], r["Specimen"], r["All"],
                 round(r["Resilience"], 12), round(r["Fixity"], 12),
                 round(r["Chaos"], 12), round(r["Chaosn"], 12))
                for r in rep.collect()
            )
            results.append(rows)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", "4")
    assert results[0] == results[1]


# ------------------------- round-3 operator invariants (random corpora)

def _random_docs(spark, seed, n=40):
    rng = random.Random(seed)
    vocab = ["the", "cat", "sat", "mat", "dog", "ran", "spark", "row",
             "batch", "data", "a", "of", "to", "xx", "yz"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 30))))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bpe_pair_counts_satisfy_length_identity(spark):
    """sum(pair_count) == sum over word occurrences of len(word): each
    word of length L contributes exactly L pairs (L-1 internal + the
    end-of-word pair), weighted by its corpus frequency."""
    from trendmachine_spark.extensions.text import bpe_pair_stats

    docs = _random_docs(spark, 7)
    total_pairs = (
        bpe_pair_stats(docs).agg(F.sum("pair_count")).collect()[0][0]
    )
    want = docs.select(
        F.explode(F.split("text", " ")).alias("w")
    ).filter(F.length("w") > 0).agg(F.sum(F.length("w"))).collect()[0][0]
    assert total_pairs == want


def test_vocab_coverage_monotone_and_bounded(spark):
    from trendmachine_spark.extensions.text import vocab_coverage

    rows = vocab_coverage(_random_docs(spark, 11), top_k=50).orderBy("rank").collect()
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    cov = [r["cum_coverage"] for r in rows]
    assert all(b >= a for a, b in zip(cov, cov[1:]))       # monotone
    assert all(0 < c <= 1.0 + 1e-12 for c in cov)          # bounded
    cnt = [r["cnt"] for r in rows]
    assert all(a >= b for a, b in zip(cnt, cnt[1:]))       # count-sorted


def test_containment_bounds_and_jaccard_relation(spark):
    """0 < containment <= 1; jaccard <= min(containment_a, containment_b)
    (the union is at least as large as either set)."""
    from trendmachine_spark.extensions.dedup import ngram_containment

    rows = ngram_containment(_random_docs(spark, 13)).collect()
    assert rows
    for r in rows:
        assert 0 < r["containment_a"] <= 1.0
        assert 0 < r["containment_b"] <= 1.0
        assert r["jaccard"] <= min(r["containment_a"], r["containment_b"]) + 1e-12


def test_incremental_dedup_flags_are_exclusive_with_is_new(spark):
    from trendmachine_spark.extensions.dedup import incremental_dedup
    from trendmachine_spark.extensions.sampling import hash_uniform

    docs = _random_docs(spark, 17)
    u = hash_uniform(F.col("doc_id"), "p")
    out = incremental_dedup(docs.filter(u >= 0.3), docs.filter(u < 0.3)).collect()
    assert out
    for r in out:
        flagged = r["exact_dup_base"] + r["exact_dup_delta"] + r["near_dup_base"]
        assert r["is_new"] == (1 if flagged == 0 else 0)


def test_session_stats_conserves_events(spark):
    """Histogram buckets partition the sessions: total_events sums to
    the full event count."""
    from trendmachine_spark.registry import QUERIES, clear_cache

    from trendmachine_spark.sources.tables import load_table

    clear_cache()
    sf = "/root/testdata/sf0.001"
    out = QUERIES["session_stats"].builder(spark, sf)
    got = out.agg(F.sum("total_events")).collect()[0][0]
    assert got == load_table(spark, sf, "events").count()
