"""The four workloads. Each is a closed loop with one client: the next
operation starts when the previous one has returned.

A workload provides ``generate()`` (inputs on disk, untimed), ``setup``
(store init and warm-up, timed as part of ``setup_s``), ``op`` (one timed
operation), ``units`` (work items an operation completed), ``check``
(per-operation output verdicts, untimed) and ``traced_op`` (one
operation with every layer timed from outside).
"""

from __future__ import annotations

import shutil
import time
from pathlib import Path

import numpy as np
from pyspark import StorageLevel
from pyspark.sql import functions as F

from trendmachine_spark.operators import dashboard
from trendmachine_spark.operators.fill import gap_fill
from trendmachine_spark.operators.normalize import normalize_captures
from trendmachine_spark.operators.recurrence import score_daily_series
from trendmachine_spark.operators.rollup import daily_rollup
from trendmachine_spark.operators.spine import densify
from trendmachine_spark.pipeline import daily_series, report_projection
from trendmachine_spark import sinks
from trendmachine_spark.sources.captures import (
    CAPTURES_SCHEMA, parse_cdx_lines, read_captures_parquet)
from trendmachine_spark.extensions.dedup import minhash_near_dup, strip_duplicated_spans

from perfbench import gen

FILL, POLICY = 2, "closest"
MB = 1 << 20
#: the ``operators.dashboard`` panes the reference app renders per URL
PANES = ("headline_metrics", "monthly_rollup", "totals", "summary_stats")

#: every per-layer metric a traced run reports (0 where the workload
#: does not exercise the layer)
PER_LAYER = {
    "sources.exec_s": "s", "sources.rows": "count",
    "normalize.exec_s": "s",
    "rollup.exec_s": "s", "rollup.shuffle_mb": "MB",
    "fill.exec_s": "s",
    "spine.exec_s": "s", "spine.rows_per_capture": "ratio",
    "recurrence.exec_s": "s", "recurrence.arrow_mb": "MB",
    "pipeline.build_ms": "ms",
    "dashboard.panes_ms": "ms", "dashboard.jobs": "count", "dashboard.report_execs": "count",
    "sinks.write_s": "s", "sinks.read_ms": "ms", "sinks.bytes_per_capture": "B",
    "sinks.buckets_rewritten": "count", "sinks.files_written": "count",
    "sinks.read_files": "count",
    "dedup.strip_s": "s", "dedup.minhash_s": "s", "dedup.shuffle_mb": "MB",
    "spark.gc_ms": "ms", "spark.spill_mb": "MB", "spark.jobs": "count",
    "spark.cpu_ratio": "ratio",
    "trace.overhead_ms": "ms",
}


class Tracer:
    """Times one traced operation's layers and sums Spark's metrics over
    the job groups it sets."""

    def __init__(self, status, spans, op: int):
        self.status, self.spans, self.op = status, spans, op
        self.values: dict[str, float] = {}
        self.spark = {"jobs": 0, "run_ms": 0.0, "cpu_ms": 0.0, "gc_ms": 0.0, "spill_b": 0}
        self.cached = []
        spans.op = op

    def run(self, name: str, action):
        """Run ``action`` under the job group ``name``; returns
        (result, seconds, group metrics)."""
        group = f"{name}#{self.op}"
        self.status.group(group)
        with self.spans(name) as s:
            out = action()
        g = self.status.group_metrics(group)
        for k in self.spark:
            self.spark[k] += g[k]
        return out, s.seconds, g

    def layer(self, name: str, build):
        """Build a layer's DataFrame over its persisted input, then persist
        and count it: returns (persisted frame, rows, exec seconds, metrics)."""
        with self.spans(f"{name}.build"):
            df = build().persist(StorageLevel.MEMORY_AND_DISK)
        self.cached.append(df)
        rows, secs, g = self.run(f"{name}.exec", df.count)
        return df, rows, secs, g

    def capture_layers(self, caps, as_of) -> None:
        """Time sources -> normalize -> rollup -> fill -> spine ->
        recurrence -> projection, each over its persisted input."""
        v = self.values
        caps, n_caps, v["sources.exec_s"], _ = self.layer("sources", lambda: caps)
        v["sources.rows"] = n_caps
        norm, _, v["normalize.exec_s"], _ = self.layer(
            "normalize", lambda: normalize_captures(caps))
        daily, _, v["rollup.exec_s"], g = self.layer("rollup", lambda: daily_rollup(norm))
        v["rollup.shuffle_mb"] = g["shuffle_write_b"] / MB
        filled, _, v["fill.exec_s"], _ = self.layer(
            "fill", lambda: gap_fill(daily, FILL, POLICY))
        dense, n_dense, v["spine.exec_s"], _ = self.layer(
            "spine", lambda: densify(daily, filled, as_of))
        v["spine.rows_per_capture"] = n_dense / max(n_caps, 1)
        scored, _, v["recurrence.exec_s"], g = self.layer(
            "recurrence", lambda: score_daily_series(dense))
        v["recurrence.arrow_mb"] = g["python_sent_b"] / MB
        self.report = report_projection(scored)

    def finish(self) -> dict[str, float]:
        for df in self.cached:
            df.unpersist(blocking=True)
        s, v = self.spark, self.values
        v["spark.jobs"] = s["jobs"]
        v["spark.gc_ms"] = s["gc_ms"]
        v["spark.spill_mb"] = s["spill_b"] / MB
        v["spark.cpu_ratio"] = s["cpu_ms"] / s["run_ms"] if s["run_ms"] else 0.0
        return v


def _dir_files(path: Path, since: float | None = None) -> tuple[int, int]:
    """(parquet data files, total bytes of them) under ``path``."""
    n = b = 0
    for f in path.rglob("*.parquet"):
        st = f.stat()
        if since is None or st.st_mtime >= since:
            n += 1
            b += st.st_size
    return n, b


def parquet_rows(path: Path) -> int:
    """Rows in a written parquet dataset, from the file footers (read
    without Spark, so the check does not share the program's reader)."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in path.rglob("*.parquet"))


# ------------------------------------------------------------------ archive


class ArchiveBatch:
    """CDX text dumps -> report -> report sink, one full build per op."""

    params = gen.ArchiveParams(n_urls=40, n_captures=8_000)
    unit = "captures"

    def __init__(self, seed: int, work: Path):
        self.seed, self.work = seed, work

    def generate(self) -> None:
        self.arc = gen.generate_archive(self.seed, self.params)
        self.dumps = gen.write_cdx_dumps(self.arc, self.work / "cdx")
        self.expected_rows = self.arc.dense_rows()

    def captures(self, spark):
        stem = F.regexp_extract(F.input_file_name(), r"(s[0-9]+)\.cdx$", 1)
        lines = spark.read.text(self.dumps).withColumn(
            "url", F.concat(F.lit("http://"), stem, F.lit(".example.org/")))
        return parse_cdx_lines(lines, file_order=self.dumps)

    def setup(self, spark) -> None:
        # warm-up: one operation, in setup_s but not in the throughput
        shutil.rmtree(self.op(spark, -1))

    def op(self, spark, i: int):
        out = str(self.work / f"report-{i}")
        report = daily_series(self.captures(spark), fill=FILL, policy=POLICY,
                              as_of=self.params.as_of)
        sinks.write_daily_report(report, out)
        return out

    def units(self, res) -> int:
        return self.arc.n_captures

    def check(self, spark, results):
        verdicts = []
        for out in results:
            n = parquet_rows(Path(out))
            verdicts.append((n == self.expected_rows,
                             f"report rows {n} != expected {self.expected_rows}"))
            shutil.rmtree(out)
        return verdicts

    def traced_op(self, spark, t: Tracer, i: int):
        with t.spans("pipeline.build") as b:
            daily_series(self.captures(spark), fill=FILL, policy=POLICY,
                         as_of=self.params.as_of)
        t.values["pipeline.build_ms"] = b.seconds * 1000
        t.capture_layers(self.captures(spark), self.params.as_of)
        out = self.work / f"traced-{i}"
        _, t.values["sinks.write_s"], _ = t.run(
            "sinks.write", lambda: sinks.write_daily_report(t.report, str(out)))
        n_files, n_bytes = _dir_files(out)
        t.values["sinks.files_written"] = n_files
        t.values["sinks.bytes_per_capture"] = n_bytes / self.arc.n_captures
        # read one URL's rows back, as a user of the written report would
        read = sinks.read_daily_report(spark, str(out)).filter(
            F.col("url") == gen.url_name(int(self.arc.opens[i])))
        _, secs, _ = t.run("sinks.read", read.collect)
        t.values["sinks.read_ms"] = secs * 1000
        t.values["sinks.read_files"] = len(read.inputFiles())
        # the dashboard panes over the whole persisted report
        panes_s, jobs, execs = 0.0, 0, 0
        for p in PANES:
            _, secs, g = t.run(f"pane.{p}", getattr(dashboard, p)(t.report).collect)
            panes_s, jobs, execs = panes_s + secs, jobs + g["jobs"], execs + g["python_nodes"]
        t.values.update({"dashboard.panes_ms": panes_s * 1000, "dashboard.jobs": jobs,
                         "dashboard.report_execs": execs})
        shutil.rmtree(out)
        return t.finish()


# ---------------------------------------------------------------- dashboard


class DashboardSession:
    """One analyst opening URLs with Zipf popularity: per open, the URL's
    report plus four panes, each collected."""

    params = ArchiveBatch.params
    unit = "opens"

    def __init__(self, seed: int, work: Path):
        self.seed, self.work = seed, work

    def generate(self) -> None:
        self.arc = gen.generate_archive(self.seed, self.params)
        self.path = str(self.work / "captures.parquet")
        gen.write_captures_parquet(self.arc, Path(self.path))

    def _report(self, spark, url: str):
        caps = read_captures_parquet(spark, self.path).filter(F.col("url") == url)
        return daily_series(caps, fill=FILL, policy=POLICY, as_of=self.params.as_of)

    def _open(self, spark, url: str):
        report = self._report(spark, url)
        rows = report.collect()
        panes = [getattr(dashboard, p)(report).collect() for p in PANES]
        return url, rows, panes

    def setup(self, spark) -> None:
        # warm-up opens come from the tail of the open sequence, which a
        # run never reaches
        for u in self.arc.opens[-2:]:
            self._open(spark, gen.url_name(int(u)))

    def op(self, spark, i: int):
        return self._open(spark, gen.url_name(int(self.arc.opens[i])))

    def units(self, res) -> int:
        return 1

    def check(self, spark, results):
        """Each open's report must equal that URL's rows in a full build
        over the whole archive (written out first, so no filter can be
        pushed into the full build)."""
        full = str(self.work / "full-report")
        report = daily_series(read_captures_parquet(spark, self.path), fill=FILL,
                              policy=POLICY, as_of=self.params.as_of)
        sinks.write_daily_report(report, full)
        urls = sorted({u for u, _, _ in results})
        cols = report.columns
        expect: dict[str, list] = {}
        for r in sinks.read_daily_report(spark, full).filter(F.col("url").isin(urls)).collect():
            expect.setdefault(r["url"], []).append(tuple(r[c] for c in cols))
        return [check_dashboard_open(url, [tuple(r) for r in rows], panes, expect.get(url, []))
                for url, rows, panes in results]

    def traced_op(self, spark, t: Tracer, i: int):
        url = gen.url_name(int(self.arc.opens[i]))
        with t.spans("pipeline.build") as b:
            report = self._report(spark, url)
        _, _, g = t.run("report.collect", report.collect)
        jobs, execs, panes_s = g["jobs"], g["python_nodes"], 0.0
        for p in PANES:
            _, secs, g = t.run(f"pane.{p}", getattr(dashboard, p)(report).collect)
            panes_s, jobs, execs = panes_s + secs, jobs + g["jobs"], execs + g["python_nodes"]
        t.values.update({"pipeline.build_ms": b.seconds * 1000,
                         "dashboard.panes_ms": panes_s * 1000,
                         "dashboard.jobs": jobs, "dashboard.report_execs": execs})
        return t.finish()


def check_dashboard_open(url, rows, panes, expected):
    """Verdict for one open: report rows equal the full build's rows for
    the URL (order-insensitive) and every pane rendered something."""
    if not expected:
        return False, f"{url}: no rows in the full build"
    if sorted(rows) != sorted(expected):
        return False, (f"{url}: report differs from the full build "
                       f"({len(rows)} vs {len(expected)} rows)")
    if any(len(p) == 0 for p in panes):
        return False, f"{url}: empty pane"
    return True, ""


# ------------------------------------------------------------------ refresh


class DailyRefresh:
    """A report store refreshed by small deltas of new captures for hot
    URLs, each followed by a read-back of the touched URLs."""

    params = ArchiveBatch.params
    unit = "delta captures"

    def __init__(self, seed: int, work: Path):
        self.seed, self.work = seed, work

    def generate(self) -> None:
        self.arc = gen.generate_archive(self.seed, self.params)
        self.path = str(self.work / "captures.parquet")
        gen.write_captures_parquet(self.arc, Path(self.path))
        self.deltas = []
        for k in range(len(self.arc.deltas)):
            p = self.work / "deltas" / f"d{k:03d}.parquet"
            self.deltas.append((str(p), gen.write_delta(self.arc, k, p)))

    def setup(self, spark) -> None:
        self.store = str(self.work / "store")
        sinks.init_report_store(read_captures_parquet(spark, self.path), self.store,
                                self.params.as_of)
        self.next_delta = 0
        self._apply(spark)  # warm-up refresh, not in the throughput

    def _refresh(self, spark, k: int):
        path, _ = self.deltas[k]
        return sinks.refresh_report_store(
            spark, self.store, read_captures_parquet(spark, path), self.params.as_of,
            batch_id=f"d{k}")

    def _read(self, spark, k: int):
        return sinks.read_store(spark, self.store).filter(
            F.col("url").isin(self.deltas[k][1]))

    def _apply(self, spark):
        k = self.next_delta
        self.next_delta += 1
        self._refresh(spark, k)
        return k, self._read(spark, k).collect()

    def op(self, spark, i: int):
        return self._apply(spark)

    def units(self, res) -> int:
        return len(self.arc.deltas[res[0]])

    def check(self, spark, results):
        """Each read-back must equal a fresh report over the touched URLs'
        full history up to that delta (refresh == rebuild). All checks run
        as one build: op j's URLs are renamed ``<url>#j`` so their
        histories stay apart."""
        a = self.arc
        parts = []
        for j, (k, _) in enumerate(results):
            touched = set(self.deltas[k][1])
            ids = [u for u in range(a.params.n_urls) if gen.url_name(u) in touched]
            base = np.isin(a.url_id, ids)
            upto = np.concatenate([a.deltas[d] for d in range(k + 1)])
            di = upto[np.isin(a.delta_url_id[upto], ids)]
            parts.append((j, np.r_[a.url_id[base], a.delta_url_id[di]],
                          np.r_[a.seq[base], a.delta_seq[di]],
                          np.r_[a.ts[base], a.delta_ts[di]],
                          np.r_[a.status[base], a.delta_status[di]],
                          np.r_[a.digest[base], a.delta_digest[di]]))
        rows = [(f"{gen.url_name(int(u))}#{j}", int(s), str(t), str(st), str(d))
                for j, uu, ss, tt, sts, dd in parts
                for u, s, t, st, d in zip(uu, ss, tt, sts, dd)]
        fresh = daily_series(spark.createDataFrame(rows, CAPTURES_SCHEMA), fill=FILL,
                             policy=POLICY, as_of=a.params.as_of)
        expect: dict[int, list] = {}
        for r in fresh.collect():
            d = r.asDict()
            url, j = d["url"].rsplit("#", 1)
            d["URIM"] = d["URIM"].replace(d["url"], url)
            d["url"] = url
            expect.setdefault(int(j), []).append(d)
        return [check_refresh(j, [r.asDict() for r in got], expect.get(j, []))
                for j, (_, got) in enumerate(results)]

    def traced_op(self, spark, t: Tracer, i: int):
        k = self.next_delta
        self.next_delta += 1
        start = time.time()
        buckets, t.values["sinks.write_s"], _ = t.run(
            "sinks.refresh", lambda: self._refresh(spark, k))
        read = self._read(spark, k)
        _, secs, _ = t.run("sinks.read", read.collect)
        store = Path(self.store)
        n_new, _ = _dir_files(store, since=start)
        _, n_bytes = _dir_files(store)
        n_caps = self.arc.n_captures + sum(len(self.arc.deltas[d]) for d in range(k + 1))
        t.values.update({
            "sinks.read_ms": secs * 1000, "sinks.buckets_rewritten": len(buckets),
            "sinks.files_written": n_new, "sinks.read_files": len(read.inputFiles()),
            "sinks.bytes_per_capture": n_bytes / n_caps})
        # the refresh transform's layers, over the same bucket-pruned history
        caps = (spark.read.parquet(self.store + "/captures")
                .filter(F.col("url_bucket").isin(buckets)).drop("url_bucket")
                .dropDuplicates(["url", "seq", "ts"]))
        with t.spans("pipeline.build") as b:
            daily_series(caps, fill=FILL, policy=POLICY, as_of=self.params.as_of)
        t.values["pipeline.build_ms"] = b.seconds * 1000
        t.capture_layers(caps, self.params.as_of)
        return t.finish()


def check_refresh(j, got, expected):
    """Verdict for one refresh: the store's rows for the touched URLs
    equal a fresh build over their full history."""
    key = lambda d: (d["url"], d["Day"])  # noqa: E731
    got = sorted(({k: v for k, v in d.items() if k != "url_bucket"} for d in got), key=key)
    expected = sorted(expected, key=key)
    if not expected:
        return False, f"op {j}: empty fresh build"
    if got != expected:
        return False, (f"op {j}: store differs from a fresh build "
                       f"({len(got)} vs {len(expected)} rows)")
    return True, ""


# ------------------------------------------------------------------- corpus


class CorpusClean:
    """Documents -> exact-span strip + 20-token floor -> minhash near-dup."""

    params = gen.CorpusParams(n_docs=2_000)
    unit = "docs"

    def __init__(self, seed: int, work: Path):
        self.seed, self.work = seed, work

    def generate(self) -> None:
        self.corpus = gen.generate_corpus(self.seed, self.params)
        self.path = str(self.work / "docs.parquet")
        gen.write_corpus(self.corpus, Path(self.path))

    @staticmethod
    def _clean(docs):
        cleaned = strip_duplicated_spans(docs, win=10)
        return cleaned.filter(F.col("n_tokens") - F.col("n_removed_tokens") >= 20).select(
            "doc_id", "clean_text")

    @staticmethod
    def _fingerprint(df, *cols):
        return tuple(df.agg(F.count(F.lit(1)),
                            F.expr(f"bit_xor(xxhash64({', '.join(cols)}))")).first())

    def _run(self, spark, docs):
        kept = self._clean(docs).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            k = self._fingerprint(kept, "doc_id", "clean_text")
            p = self._fingerprint(minhash_near_dup(kept, text_col="clean_text"), "id_a", "id_b")
        finally:
            kept.unpersist()
        return k + p

    def setup(self, spark) -> None:
        self.op(spark, -1)  # warm-up: one operation, not in the throughput

    def op(self, spark, i: int):
        return self._run(spark, spark.read.parquet(self.path))

    def units(self, res) -> int:
        return self.params.n_docs

    def check(self, spark, results):
        return check_corpus(results, self.params.n_docs)

    def traced_op(self, spark, t: Tracer, i: int):
        docs = spark.read.parquet(self.path)
        kept, _, t.values["dedup.strip_s"], g1 = t.layer("dedup.strip", lambda: self._clean(docs))
        _, t.values["dedup.minhash_s"], g2 = t.run(
            "dedup.minhash",
            lambda: self._fingerprint(minhash_near_dup(kept, text_col="clean_text"),
                                      "id_a", "id_b"))
        t.values["dedup.shuffle_mb"] = (g1["shuffle_write_b"] + g2["shuffle_write_b"]) / MB
        return t.finish()


def check_corpus(results, n_docs):
    """Verdicts: every op's (kept docs, their hash, pairs, their hash)
    equals the first op's, keeps some but not all docs, and finds pairs."""
    verdicts = []
    for j, fp in enumerate(results):
        if fp != results[0]:
            verdicts.append((False, f"op {j}: fingerprint {fp} != op 0's {results[0]}"))
        elif not (0 < fp[0] < n_docs and fp[2] > 0):
            verdicts.append((False, f"op {j}: implausible output {fp}"))
        else:
            verdicts.append((True, ""))
    return verdicts


WORKLOADS = {
    "archive_batch": ArchiveBatch,
    "dashboard_session": DashboardSession,
    "daily_refresh": DailyRefresh,
    "corpus_clean": CorpusClean,
}
