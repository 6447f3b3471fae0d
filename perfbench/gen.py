"""Seeded input generator for the benchmark.

Everything the workloads read is made here from ``--seed`` with numpy's
PCG64 generator: the CDX archive (as per-URL CDX text dumps and as one
captures parquet file), the sequence of refresh deltas, the dashboard's
URL-open sequence and the documents corpus. The program under test only
ever sees the written files. The same seed and parameters give the same
bytes (``tests/test_helpers.py`` pins it), and no metric includes the
time spent here.

Every traffic dimension the engine's cost depends on is an explicit
field of :class:`ArchiveParams` or :class:`CorpusParams`. The comment
above each field says where its value comes from: a repository note or
measurement, a public source, or "chosen" where neither exists. A
chosen value defines the benchmark; changing it changes the benchmark.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
from pathlib import Path

import numpy as np

EPOCH = dt.date(1970, 1, 1)


@dataclasses.dataclass(frozen=True)
class ArchiveParams:
    """Shape of the generated web archive and of the traffic over it."""

    #: sizing, set by the run-time budget (perfbench/README.md, "Sizes")
    n_urls: int = 120
    #: total captures in the archive (before any delta); sizing, as above
    n_captures: int = 24_000
    #: captures-per-URL ~ rank ** -zipf_a (every URL gets at least one).
    #: Chosen. At 40 URLs the top URL holds 23 % of the captures, close
    #: to the one-hot-URL case of URL_SKEW.json (20 %), and more than
    #: 1000, which FIXTURES.md 1.1 asks of one URL
    zipf_a: float = 1.0
    #: first-capture days are drawn uniformly from [span_start, cutoff -
    #: min_span_days]. Chosen: multi-year spans, so the dense spine holds
    #: an order of magnitude more rows than there are captures
    span_start: dt.date = dt.date(2008, 1, 1)
    min_span_days: int = 30
    #: report horizon; the dense spine of every URL runs to this day
    as_of: dt.date = dt.date(2025, 6, 30)
    #: days before ``as_of`` kept free of archive captures for the deltas
    delta_days: int = 60
    #: share of captures that are revisit records (status '-'). Chosen
    #: above the 5 % floor of FIXTURES.md 1.1; no measured share exists
    revisit_share: float = 0.15
    #: probability that a non-revisit capture carries new content
    #: (digest). Chosen; no measured share exists
    digest_churn: float = 0.3
    #: share of repeat-content captures given an out-of-range status token
    #: ('0' or 'robot'), which the engine passes through. FIXTURES.md 1.1
    #: asks for rare ones; the share is chosen
    odd_status_share: float = 0.01
    #: dashboard URL-open popularity ~ rank ** -popularity_a: Breslau et
    #: al., "Web Caching and Zipf-like Distributions" (INFOCOM 1999),
    #: measured exponents of 0.64-0.83 in web proxy traces
    popularity_a: float = 0.8
    #: URL opens generated for the dashboard session (more than a run uses)
    n_opens: int = 400
    #: hot URLs touched by one refresh delta, and captures added to each.
    #: Chosen small, so a delta is small next to the store
    urls_per_delta: int = 3
    captures_per_delta_url: int = 4

    @property
    def cutoff(self) -> dt.date:
        return self.as_of - dt.timedelta(days=self.delta_days)


@dataclasses.dataclass(frozen=True)
class CorpusParams:
    """Shape of the generated documents corpus. Unless marked "chosen",
    a value follows the natural-text corpus of SCALE.md, round 6
    (``natural_corpus`` in tools/substring_win_sweep.py)."""

    #: sizing, set by the run-time budget (perfbench/README.md, "Sizes")
    n_docs: int = 6_000
    #: document length in tokens (round 6: 80-200)
    min_tokens: int = 80
    max_tokens: int = 200
    #: token frequency ~ rank ** -vocab_a over ``vocab`` words. Chosen:
    #: Zipf's law, exponent near 1; the top 50 words carry 49 % of the
    #: mass (round 6: 45 % stopword mass)
    vocab: int = 20_000
    vocab_a: float = 1.05
    #: share of documents carrying one shared boilerplate block, put
    #: before or after the body (round 6: 10 %)
    boilerplate_share: float = 0.1
    #: lengths of the shared boilerplate blocks (round 6: five blocks)
    boilerplate_lengths: tuple[int, ...] = (6, 9, 12, 18, 30)
    #: share of documents that are exact copies of an earlier one (the
    #: span strip empties them and the 20-token floor drops them).
    #: Chosen: round 6 has no exact-copy family
    exact_dup_share: float = 0.05
    #: share of documents that are near-duplicate copies of an earlier one
    #: (round 6: 10 % paraphrases)
    near_dup_share: float = 0.1
    #: a near-dup copy replaces every ``near_dup_stride``-th token. Round 6
    #: uses 4, 6 and 8; 10 is the largest stride at which every 10-token
    #: window of the copy holds an edit, so the win=10 span strip leaves
    #: the copy alone while it keeps the most 3-token shingles (minhash
    #: finds it)
    near_dup_stride: int = 10


_STATUSES = np.array(["200", "301", "302", "404", "503"])
#: status mix of non-revisit captures. Chosen: mostly 2xx, every status
#: class present (FIXTURES.md 1.1); no measured mix exists
_STATUS_P = np.array([0.72, 0.08, 0.07, 0.09, 0.04])
_ODD_STATUSES = np.array(["0", "robot"])
_B32 = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ234567"))


def url_name(i: int) -> str:
    """URL of archive entry ``i``; its CDX dump is ``dump_name(i)``."""
    return f"http://s{i:05d}.example.org/"


def dump_name(i: int) -> str:
    return f"s{i:05d}.cdx"


def _zipf_counts(rng: np.random.Generator, n: int, total: int, a: float) -> np.ndarray:
    """``n`` positive integers summing to ``total``, ~ rank ** -a, in a
    seeded random rank order."""
    w = np.arange(1, n + 1, dtype=np.float64) ** -a
    counts = 1 + np.floor(w / w.sum() * (total - n)).astype(np.int64)
    counts[0] += total - counts.sum()
    return counts[rng.permutation(n)]


def _digests(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` random 32-character base32 content digests."""
    return np.array(["".join(r) for r in _B32[rng.integers(0, 32, size=(n, 32))]])


def _ts_strings(days: np.ndarray, secs: np.ndarray) -> np.ndarray:
    """days since epoch + seconds of day -> 14-digit CDX timestamps."""
    stamps = np.datetime64("1970-01-01T00:00:00", "s") + (days * 86400 + secs).astype(
        "timedelta64[s]")
    iso = np.datetime_as_string(stamps, unit="s")
    return np.char.replace(np.char.replace(np.char.replace(iso, "-", ""), ":", ""), "T", "")


@dataclasses.dataclass
class Archive:
    """Generated captures, in arrival order (``seq``), plus expectations."""

    params: ArchiveParams
    url_id: np.ndarray      # int, per capture
    seq: np.ndarray         # int64, per capture, store-wide arrival counter
    ts: np.ndarray          # str, per capture
    status: np.ndarray      # str, per capture
    digest: np.ndarray      # str, per capture
    first_day: np.ndarray   # int days since epoch, per URL
    opens: np.ndarray       # URL ids the dashboard opens, in order
    deltas: list[np.ndarray]  # per delta: indices into the delta capture arrays
    delta_url_id: np.ndarray
    delta_seq: np.ndarray
    delta_ts: np.ndarray
    delta_status: np.ndarray
    delta_digest: np.ndarray

    @property
    def n_captures(self) -> int:
        return len(self.seq)

    def dense_rows(self) -> int:
        """Analytic report row count: one row per URL per day from its
        first capture through ``as_of``."""
        return int(((self.params.as_of - EPOCH).days - self.first_day + 1).sum())


def generate_archive(seed: int, p: ArchiveParams) -> Archive:
    """Generate the CDX archive, the dashboard opens and the delta sequence."""
    rng = np.random.Generator(np.random.PCG64([seed, 1]))
    counts = _zipf_counts(rng, p.n_urls, p.n_captures, p.zipf_a)
    start = (p.span_start - EPOCH).days
    cutoff = (p.cutoff - EPOCH).days
    # stratified first days: every seed spreads the spans the same way,
    # so the dense-row total barely moves between seeds
    width = (cutoff - p.min_span_days - start) / p.n_urls
    first = start + ((rng.permutation(p.n_urls) + rng.random(p.n_urls)) * width).astype(np.int64)

    cols = {k: [] for k in ("url_id", "day", "sec", "status", "digest")}
    for u in range(p.n_urls):
        n = int(counts[u])
        day = np.sort(rng.integers(first[u], cutoff, size=n, endpoint=True))
        day[0] = first[u]
        sec = rng.integers(0, 86400, size=n)
        order = np.lexsort((sec, day))
        day, sec = day[order], sec[order]
        revisit = rng.random(n) < p.revisit_share
        revisit[0] = False
        churn = (rng.random(n) < p.digest_churn) & ~revisit
        churn[0] = True
        content = np.cumsum(churn) - 1
        table = _digests(rng, int(content[-1]) + 1)
        status = _STATUSES[rng.choice(len(_STATUSES), size=n, p=_STATUS_P)]
        # out-of-range tokens only on repeat content, so every digest is
        # first seen with a real status, as a revisit needs (FIXTURES.md)
        odd = (rng.random(n) < p.odd_status_share) & ~churn & ~revisit
        status[odd] = _ODD_STATUSES[rng.integers(0, len(_ODD_STATUSES), size=int(odd.sum()))]
        status[revisit] = "-"
        cols["url_id"].append(np.full(n, u))
        cols["day"].append(day)
        cols["sec"].append(sec)
        cols["status"].append(status)
        cols["digest"].append(table[content])
    url_id = np.concatenate(cols["url_id"])
    day = np.concatenate(cols["day"])
    sec = np.concatenate(cols["sec"])
    seq = np.arange(len(url_id), dtype=np.int64)

    pop = np.arange(1, p.n_urls + 1, dtype=np.float64) ** -p.popularity_a
    pop_rank = rng.permutation(p.n_urls)
    opens = pop_rank[rng.choice(p.n_urls, size=p.n_opens, p=pop / pop.sum())]

    # deltas: delta k lands on day cutoff + 1 + k, for a few hot URLs
    d_url, d_day, d_sec = [], [], []
    deltas = []
    n_hot = max(p.urls_per_delta * 4, 8)
    hot = pop_rank[:n_hot]
    pos = 0
    for k in range(p.delta_days):
        urls = np.sort(rng.choice(hot, size=p.urls_per_delta, replace=False))
        m = len(urls) * p.captures_per_delta_url
        d_url.append(np.repeat(urls, p.captures_per_delta_url))
        d_day.append(np.full(m, cutoff + 1 + k))
        d_sec.append(np.sort(rng.integers(0, 86400, size=m)))
        deltas.append(np.arange(pos, pos + m))
        pos += m
    delta_url_id = np.concatenate(d_url)
    d_status = _STATUSES[rng.choice(len(_STATUSES), size=pos, p=_STATUS_P)]
    return Archive(
        params=p, url_id=url_id, seq=seq, ts=_ts_strings(day, sec),
        status=np.concatenate(cols["status"]), digest=np.concatenate(cols["digest"]),
        first_day=first, opens=opens, deltas=deltas, delta_url_id=delta_url_id,
        delta_seq=np.arange(len(seq), len(seq) + pos, dtype=np.int64),
        delta_ts=_ts_strings(np.concatenate(d_day), np.concatenate(d_sec)),
        delta_status=d_status, delta_digest=_digests(rng, pos),
    )


def write_cdx_dumps(arc: Archive, out_dir: Path) -> list[str]:
    """One CDX text dump per URL (``<ts> <status> <digest>`` lines in
    arrival order); returns the dump paths in arrival order."""
    out_dir.mkdir(parents=True, exist_ok=True)
    lines = np.char.add(np.char.add(np.char.add(np.char.add(
        arc.ts, " "), arc.status), " "), arc.digest)
    bounds = np.flatnonzero(np.diff(arc.url_id)) + 1
    paths = []
    for chunk, u in zip(np.split(lines, bounds), arc.url_id[np.r_[0, bounds]]):
        path = out_dir / dump_name(int(u))
        path.write_text("\n".join(chunk.tolist()) + "\n")
        paths.append(str(path))
    return paths


def _captures_table(url_id, seq, ts, status, digest):
    import pyarrow as pa

    urls = np.array([url_name(i) for i in range(int(url_id.max()) + 1)])
    return pa.table({
        "url": pa.array(urls[url_id], pa.string()),
        "seq": pa.array(seq, pa.int64()),
        "ts": pa.array(ts, pa.string()),
        "status": pa.array(status, pa.string()),
        "digest": pa.array(digest, pa.string()),
    })


def _write_parquet(table, path: Path, row_group_size: int) -> None:
    import pyarrow.parquet as pq

    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path, row_group_size=row_group_size, compression="snappy")


def write_captures_parquet(arc: Archive, path: Path) -> None:
    """The archive as one captures parquet file, sorted by (url, seq) in
    small row groups so a one-URL filter prunes to a few of them."""
    _write_parquet(
        _captures_table(arc.url_id, arc.seq, arc.ts, arc.status, arc.digest),
        path, row_group_size=2048)


def write_delta(arc: Archive, k: int, path: Path) -> list[str]:
    """Delta ``k`` as a captures parquet file; returns its touched URLs."""
    idx = arc.deltas[k]
    table = _captures_table(
        arc.delta_url_id[idx], arc.delta_seq[idx], arc.delta_ts[idx],
        arc.delta_status[idx], arc.delta_digest[idx])
    _write_parquet(table, path, row_group_size=1 << 16)
    return sorted({url_name(int(u)) for u in arc.delta_url_id[idx]})


@dataclasses.dataclass
class Corpus:
    params: CorpusParams
    doc_id: np.ndarray
    text: list[str]
    n_near_dups: int
    n_boilerplate_docs: int


def generate_corpus(seed: int, p: CorpusParams) -> Corpus:
    """Zipf-vocabulary documents with boilerplate spans and near-dup copies."""
    rng = np.random.Generator(np.random.PCG64([seed, 2]))
    vocab = np.array([f"w{i:x}" for i in range(p.vocab)])
    cdf = np.cumsum(np.arange(1, p.vocab + 1, dtype=np.float64) ** -p.vocab_a)
    cdf /= cdf[-1]

    def words(n: int) -> np.ndarray:
        return np.minimum(np.searchsorted(cdf, rng.random(n)), p.vocab - 1)

    boiler = [words(n) for n in p.boilerplate_lengths]
    docs: list[np.ndarray] = []
    n_near = n_boiler = 0
    for i in range(p.n_docs):
        r = rng.random()
        if i > 0 and r < p.exact_dup_share:
            docs.append(docs[int(rng.integers(0, i))])
            continue
        if i > 0 and r < p.exact_dup_share + p.near_dup_share:
            src = docs[int(rng.integers(0, i))].copy()
            edits = src[p.near_dup_stride - 1::p.near_dup_stride]
            edits[:] = words(len(edits))
            docs.append(src)
            n_near += 1
            continue
        toks = words(int(rng.integers(p.min_tokens, p.max_tokens, endpoint=True)))
        if rng.random() < p.boilerplate_share:
            b = boiler[int(rng.integers(0, len(boiler)))]
            toks = np.concatenate([b, toks] if rng.random() < 0.5 else [toks, b])
            n_boiler += 1
        docs.append(toks)
    text = [" ".join(vocab[d].tolist()) for d in docs]
    return Corpus(p, np.arange(1, p.n_docs + 1, dtype=np.int64), text, n_near, n_boiler)


def write_corpus(corpus: Corpus, path: Path) -> None:
    import pyarrow as pa

    _write_parquet(pa.table({"doc_id": pa.array(corpus.doc_id, pa.int64()),
                             "text": pa.array(corpus.text, pa.string())}),
                   path, row_group_size=1024)
