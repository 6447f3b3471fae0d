"""Multi-parameter scoring sweep + report sink round-trip."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from tests.conftest import FIXTURE_LINES_A
from trendmachine_spark.operators.recurrence import (
    score_daily_series,
    score_daily_series_multi,
)
from trendmachine_spark.params import DEFAULT_SIGPARAMS, SigmoidParam
from trendmachine_spark.pipeline import daily_series, dense_daily
from trendmachine_spark.sinks import (
    ROLLUP_BUCKETS,
    _url_bucket,
    read_daily_report,
    read_report_urls,
    write_daily_report,
)
from trendmachine_spark.sources.captures import captures_from_fixture


def test_multi_param_default_matches_single(spark):
    caps = captures_from_fixture(spark, FIXTURE_LINES_A)
    dense = dense_daily(caps, fill=-1, policy="backward", as_of="2020-01-05")

    single = {
        (r["url"], str(r["day"])): (r["resilience"], r["fixity"])
        for r in score_daily_series(dense).collect()
    }
    tweaked = dict(DEFAULT_SIGPARAMS)
    tweaked["2xx"] = SigmoidParam(2, 0.5, 1.0)
    multi = score_daily_series_multi(
        dense, {"default": DEFAULT_SIGPARAMS, "tweaked": tweaked}
    ).collect()

    got_default = {
        (r["url"], str(r["day"])): (r["resilience"], r["fixity"])
        for r in multi if r["param_set"] == "default"
    }
    assert got_default == single

    # the tweaked set actually changes scores on 2xx days
    got_tweaked = {
        (r["url"], str(r["day"])): r["resilience"]
        for r in multi if r["param_set"] == "tweaked"
    }
    assert any(
        got_tweaked[k] != v[0] for k, v in single.items()
    )


def _exchanges(plan: str) -> int:
    """Shuffle exchanges in an adaptive plan's final tree."""
    tree = plan.split("== Initial Plan ==")[0]
    return len(re.findall(r"\bExchange\b", tree))


def _files_read(df) -> int:
    """Files the scan of ``df`` lists, after partition pruning (its
    "number of files read" metric, set when the scan plans its input)."""
    plan = df._jdf.queryExecution().executedPlan()  # no exchange: no AQE
    leaves = plan.collectLeaves()
    scans = [leaves.apply(i) for i in range(leaves.size())]
    scans = [p for p in scans if p.nodeName().startswith("Scan parquet")]
    assert len(scans) == 1, [p.nodeName() for p in scans]
    scans[0].executeColumnar()
    return int(scans[0].metrics().apply("numFiles").value())


def test_report_sink_roundtrip(spark, tmp_path):
    """The url-bucket layout: rows round-trip, a one-URL read opens only
    its bucket's files, and the write adds no exchange to the report's
    plan. The session's P = 4 url partitions divide ROLLUP_BUCKETS, so
    each bucket sits whole in one task: at most ROLLUP_BUCKETS files."""
    _check_report_sink(spark, tmp_path, None)


def test_report_sink_roundtrip_partitions_not_dividing_buckets(spark, tmp_path):
    """At P = 12 url partitions (which does not divide 32) the layout
    still round-trips without an exchange, within lcm(12, 32) = 96 files."""
    _check_report_sink(spark, tmp_path, "12")


def _check_report_sink(spark, tmp_path, partitions):
    """The file count is at most lcm(P, ROLLUP_BUCKETS) for the report's
    P url partitions."""
    import math

    from trendmachine_spark.operators.recurrence import _partition_count

    base = spark.conf.get("spark.sql.shuffle.partitions")
    if partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", partitions)
    try:
        caps = captures_from_fixture(spark, FIXTURE_LINES_A, url="u0")
        for i in range(1, 12):
            caps = caps.unionByName(captures_from_fixture(spark, FIXTURE_LINES_A, url=f"u{i}"))
        report = daily_series(caps, fill=0, as_of="2020-01-05")
        nparts = _partition_count(report)
        want = sorted(map(tuple, report.collect()))
        path = str(tmp_path / "report")
        write_daily_report(report, path)
        # the write's plan (the latest SQL execution) has exactly the
        # report's exchanges: no month or bucket reshuffle
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        execs = spark._jsparkSession.sharedState().statusStore().executionsList()
        write = execs.apply(execs.size() - 1).physicalPlanDescription()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", base)
    assert "InsertIntoHadoopFsRelationCommand" in write
    assert _exchanges(write) == _exchanges(
        report._jdf.queryExecution().executedPlan().toString())

    back = read_daily_report(spark, path)
    assert back.columns == report.columns
    assert sorted(map(tuple, back.collect())) == want
    files = [str(f) for f in (tmp_path / "report").rglob("*.parquet")]
    assert 1 < len(files) <= math.lcm(nparts, ROLLUP_BUCKETS)
    if partitions is None:
        assert ROLLUP_BUCKETS % nparts == 0 and len(files) <= ROLLUP_BUCKETS

    # a one-URL read scans only its bucket's directory
    bucket = spark.range(1).select(_url_bucket(F.lit("u3"))).first()[0]
    one = read_report_urls(spark, path, ["u3"])
    assert sorted(map(tuple, one.collect())) == [r for r in want if r[0] == "u3"]
    in_bucket = [f for f in files if f"/url_bucket={bucket}/" in f]
    assert _files_read(one) == len(in_bucket) < len(files)
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*url_bucket", plan), plan


def test_packed_corpus_sink_roundtrip(spark, tmp_path):
    """write_packed_corpus: every document lands exactly once; within a
    shard file rows are (pack_id, offset)-sorted so a sequential read
    yields packs in concatenation order; bucket partitioning prunes."""
    from trendmachine_spark.extensions.packing import pack_sequences
    from trendmachine_spark.sinks import write_packed_corpus
    from trendmachine_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    asg = pack_sequences(docs, budget=512, n_buckets=8)
    out = str(tmp_path / "packed")
    write_packed_corpus(docs, asg, out)

    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    assert set(r["doc_id"] for r in back.select("doc_id").collect()) == set(
        r["doc_id"] for r in docs.select("doc_id").collect()
    )
    # concatenation order within each pack is intact after the roundtrip
    import collections
    packs = collections.defaultdict(list)
    for r in back.select("pack_id", "offset", "n_tokens").collect():
        packs[r["pack_id"]].append(r)
    for rows in packs.values():
        rows.sort(key=lambda r: r["offset"])
        run = 0
        for r in rows:
            assert r["offset"] == run
            run += r["n_tokens"]
    # bucket partition pruning
    one = back.filter(F.col("_bucket") == "b0")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert one.count() > 0
