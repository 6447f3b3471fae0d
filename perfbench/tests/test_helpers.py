"""Tests for the benchmark's helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from perfbench import gen, harness  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    check_corpus, check_dashboard_open, check_refresh)

SMALL = gen.ArchiveParams(n_urls=12, n_captures=600, delta_days=8, n_opens=20)
SMALL_CORPUS = gen.CorpusParams(n_docs=200)


def _digest(root: Path) -> str:
    h = hashlib.sha256()
    for f in sorted(p for p in root.rglob("*") if p.is_file()):
        h.update(f.relative_to(root).as_posix().encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def _write_all(seed: int, root: Path) -> str:
    arc = gen.generate_archive(seed, SMALL)
    gen.write_cdx_dumps(arc, root / "cdx")
    gen.write_captures_parquet(arc, root / "captures.parquet")
    for k in range(len(arc.deltas)):
        gen.write_delta(arc, k, root / "deltas" / f"d{k}.parquet")
    gen.write_corpus(gen.generate_corpus(seed, SMALL_CORPUS), root / "docs.parquet")
    return _digest(root)


def test_same_seed_same_bytes(tmp_path):
    assert _write_all(7, tmp_path / "a") == _write_all(7, tmp_path / "b")


def test_other_seed_other_bytes(tmp_path):
    assert _write_all(7, tmp_path / "a") != _write_all(8, tmp_path / "b")


def test_archive_expectations():
    arc = gen.generate_archive(3, SMALL)
    assert arc.n_captures == SMALL.n_captures
    assert sorted(set(arc.url_id.tolist())) == list(range(SMALL.n_urls))
    # each URL's first capture lies on its recorded first day, and no
    # capture lies past the delta cutoff
    days = arc.ts.astype("U8")
    for u in range(SMALL.n_urls):
        first = gen.EPOCH.toordinal() + int(arc.first_day[u])
        assert min(days[arc.url_id == u]) == gen.dt.date.fromordinal(first).strftime("%Y%m%d")
    assert max(days) <= SMALL.cutoff.strftime("%Y%m%d")
    span = (SMALL.as_of - gen.EPOCH).days - arc.first_day + 1
    assert arc.dense_rows() == int(span.sum())
    # deltas land after the archive, one day each, in arrival order
    assert arc.delta_seq[0] == arc.n_captures
    assert min(arc.delta_ts.astype("U8")) > SMALL.cutoff.strftime("%Y%m%d")


def test_tail_needs_ten_samples_beyond():
    assert harness.tail(list(range(10))) is None
    assert harness.tail(list(range(11))) == (0, round(100 / 11, 1), 11)
    value, pct, n = harness.tail(list(range(100, 0, -1)))
    assert (value, pct, n) == (90, 90.0, 100)
    # exactly ten samples lie beyond the reported value
    samples = list(range(37))
    v, _, _ = harness.tail(samples)
    assert sum(1 for s in samples if s > v) == 10


def test_iqr_share_and_trend():
    assert harness.iqr_share([10, 10, 10, 10]) == 0
    assert harness.trend([1, 1, 1, 1, 2, 2, 2, 2]) == 2
    assert harness.trend([1, 2, 3]) is None


def _tally(verdicts):
    t = harness.Tally()
    for ok, why in verdicts:
        t.record(ok, why)
    return t


def test_corrupted_corpus_result_raises_failed_frac():
    good = [(900, 123, 40, 456)] * 4
    assert _tally(check_corpus(good, 1000)).failed_frac == 0
    bad = good[:2] + [(900, 124, 40, 456)] + good[3:]
    assert _tally(check_corpus(bad, 1000)).failed_frac == 0.25
    assert _tally(check_corpus([(0, 0, 0, 0)] * 2, 1000)).failed_frac == 1


def test_corrupted_dashboard_result_raises_failed_frac():
    expected = [("u", "2020-01-01", 1.0), ("u", "2020-01-02", 0.5)]
    assert check_dashboard_open("u", list(reversed(expected)), [[1]] * 4, expected)[0]
    corrupted = [("u", "2020-01-01", 1.0), ("u", "2020-01-02", 0.25)]
    t = _tally([check_dashboard_open("u", expected, [[1]] * 4, expected),
                check_dashboard_open("u", corrupted, [[1]] * 4, expected),
                check_dashboard_open("u", expected[:1], [[1]] * 4, expected),
                check_dashboard_open("u", expected, [[1], [], [1], [1]], expected)])
    assert (t.attempted, t.failed) == (4, 3)


def test_corrupted_refresh_result_raises_failed_frac():
    exp = [{"url": "u", "Day": "2020-01-01", "All": 1},
           {"url": "u", "Day": "2020-01-02", "All": 0}]
    assert check_refresh(0, list(reversed(exp)), exp)[0]
    stale = [dict(exp[0]), dict(exp[1], All=3)]
    t = _tally([check_refresh(0, exp, exp), check_refresh(1, stale, exp),
                check_refresh(2, exp[:1], exp)])
    assert t.failed_frac == pytest.approx(2 / 3)


def test_span_self_time():
    spans = harness.Spans()
    with spans("op"):
        with spans("child"):
            pass
    st = spans.self_times()
    total = spans.records[0]["end"] - spans.records[0]["start"]
    assert st["op"] + st["child"] == pytest.approx(total)
    assert spans.records[1]["parent"] == 0
