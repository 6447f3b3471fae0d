"""Measurement helpers: statistics, noise probes, process memory, spans,
the Spark session lifecycle and Spark's status store.

Nothing here imports the program under test; ``workloads.py`` does.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from pathlib import Path

# ---------------------------------------------------------------- stats


def tail(samples):
    """The highest nearest-rank percentile with at least ten samples
    beyond it: ``(value, percentile, n)``, or ``None`` below 11 samples."""
    n = len(samples)
    if n < 11:
        return None
    i = n - 11
    return sorted(samples)[i], round(100.0 * (i + 1) / n, 1), n


def iqr_share(values):
    """(Q3 - Q1) / median, quartiles as ``statistics.quantiles(n=4)``."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def trend(samples):
    """Mean of the last quarter of ``samples`` over the mean of the first
    quarter (1.0 = no drift within the run); ``None`` below 4 samples."""
    q = len(samples) // 4
    if q == 0:
        return None
    return (sum(samples[-q:]) / q) / (sum(samples[:q]) / q)


class Tally:
    """Operations attempted and failed (raised, or failed their output check)."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, ok: bool, why: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if why and len(self.errors) < 5:
                self.errors.append(why[:300])

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


# ------------------------------------------------------- noise diagnostics


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def contention_probe() -> float:
    """Seconds for a fixed single-threaded loop: on a quiet core this is
    constant, so a slow reading beside a noisy sample means the box was
    busy, not the program slow."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc += i * i
    return time.perf_counter() - t0


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user nice system idle
    iowait irq softirq steal ...), in clock ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    :func:`cpu_times` readings: on a virtual machine, the main cause of
    whole-run slowdowns that the program did not cause."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def noise_snapshot() -> dict:
    return {"loadavg": loadavg(), "probe_s": round(contention_probe(), 4),
            "cpu_ticks": cpu_times()}


# --------------------------------------------------------- process memory


def _children(pid: int) -> list[int]:
    out = []
    for task in Path(f"/proc/{pid}/task").glob("*"):
        try:
            out += [int(c) for c in (task / "children").read_text().split()]
        except OSError:
            pass
    return out


def _hwm_kb(pid: int) -> int:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_peak_rss_mb(root_pids) -> float:
    """Sum of the peak resident sets of ``root_pids`` and all their
    descendants (an upper bound on the tree's simultaneous peak)."""
    seen, stack, kb = set(), list(root_pids), 0
    while stack:
        pid = stack.pop()
        if pid in seen:
            continue
        seen.add(pid)
        kb += _hwm_kb(pid)
        stack += _children(pid)
    return kb / 1024.0


# ------------------------------------------------------------------ spans


class Spans:
    """In-memory spans (name, start, end, parent, op), written at the end."""

    def __init__(self):
        self.records: list[dict] = []
        self._stack: list[int] = []
        self.op = None

    def __call__(self, name: str):
        return _Span(self, name)

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children cover."""
        child = {}
        for r in self.records:
            if r["parent"] is not None:
                child[r["parent"]] = child.get(r["parent"], 0.0) + r["end"] - r["start"]
        out: dict[str, float] = {}
        for i, r in enumerate(self.records):
            out[r["name"]] = out.get(r["name"], 0.0) + (r["end"] - r["start"]) - child.get(i, 0.0)
        return out

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.records))


class _Span:
    def __init__(self, spans: Spans, name: str):
        self.spans, self.name = spans, name

    def __enter__(self):
        s = self.spans
        self.idx = len(s.records)
        s.records.append({"name": self.name, "start": time.perf_counter(), "end": None,
                          "parent": s._stack[-1] if s._stack else None, "op": s.op})
        s._stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        s = self.spans
        s._stack.pop()
        rec = s.records[self.idx]
        rec["end"] = time.perf_counter()
        self.seconds = rec["end"] - rec["start"]
        return False


# ------------------------------------------------------------ Spark session


def spark_confs(work: Path) -> dict[str, str]:
    """The fixed session configuration every run uses."""
    # two task slots on the four-core reference VM: the free cores take
    # the driver, JIT and GC threads, and a core the hypervisor steals
    # for a moment no longer stalls a whole stage (measured: corpus_clean
    # run-to-run IQR/median 0.24 at local[3], 0.12 at local[2])
    k = min(2, os.cpu_count() or 1)
    return {
        "spark.master": f"local[{k}]",
        "spark.app.name": "trendmachine_spark-perfbench",
        "spark.driver.memory": "2g",
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
    }


def start_spark(confs: dict[str, str]):
    from pyspark.sql import SparkSession

    b = SparkSession.builder
    for k, v in confs.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def shutdown_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited (its
    Python workers are its children and end with it)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


# ---------------------------------------------------- Spark status store


class StatusStore:
    """Reads job, stage and SQL metrics of benchmark-set job groups from
    the driver's in-process status store (works with the UI disabled)."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.app = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    def _drain(self, job_ids) -> None:
        """The listener bus is asynchronous: wait until every job of the
        group is recorded as finished before reading its metrics."""
        deadline = time.time() + 5.0
        while time.time() < deadline:
            try:
                if all(str(self.app.job(j).status()) != "RUNNING" for j in job_ids):
                    return
            except Exception:  # job not yet in the store
                pass
            time.sleep(0.01)

    def group_metrics(self, name: str) -> dict:
        """Totals over the group's jobs: jobs, stages run, run/CPU/GC ms,
        shuffle read/write and spill bytes, and SQL operator metrics."""
        job_ids = list(self.sc.statusTracker().getJobIdsForGroup(name))
        self._drain(job_ids)
        out = {"jobs": len(job_ids), "stages": 0, "run_ms": 0.0, "cpu_ms": 0.0,
               "gc_ms": 0.0, "shuffle_read_b": 0, "shuffle_write_b": 0, "spill_b": 0}
        stage_ids = set()
        for j in job_ids:
            try:
                ids = self.app.job(j).stageIds()
            except Exception:
                continue
            stage_ids.update(int(ids.apply(i)) for i in range(ids.size()))
        for s in stage_ids:
            try:
                attempts = self.app.stageData(s, False, None, False, None)
            except Exception:
                continue
            for i in range(attempts.size()):
                st = attempts.apply(i)
                if str(st.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["run_ms"] += st.executorRunTime()
                out["cpu_ms"] += st.executorCpuTime() / 1e6
                out["gc_ms"] += st.jvmGcTime()
                out["shuffle_read_b"] += st.shuffleRemoteBytesRead() + st.shuffleLocalBytesRead()
                out["shuffle_write_b"] += st.shuffleWriteBytes()
                out["spill_b"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out.update(self._sql_metrics(set(job_ids)))
        return out

    def _sql_metrics(self, job_ids: set[int]) -> dict:
        """Counts the Python nodes (``MapInPandas``, ``ArrowEvalPython``,
        ``FlatMapGroupsInPandas`` and the like: every node with a "data
        sent to Python workers" metric) that sent data to Python workers
        (a node inside a cached plan does not) and sums the bytes they
        sent, over the SQL executions that ran the given jobs."""
        res = {"python_nodes": 0, "python_sent_b": 0}
        execs = self.sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            jobs = e.jobs().keySet()
            it = jobs.iterator()
            ran = False
            while it.hasNext():
                if int(it.next()) in job_ids:
                    ran = True
                    break
            if not ran:
                continue
            eid = e.executionId()
            values = self.sql.executionMetrics(eid)
            nodes = self.sql.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                ms = nodes.apply(n).metrics()
                for m in range(ms.size()):
                    metric = ms.apply(m)
                    if metric.name() == "data sent to Python workers":
                        v = values.get(metric.accumulatorId())
                        sent = _parse_size(str(v.get())) if v is not None and not v.isEmpty() else 0
                        if sent:
                            res["python_nodes"] += 1
                            res["python_sent_b"] += sent
        return res


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _parse_size(text: str) -> int:
    """Parse a SQL size metric ('12.3 MiB' or 'total (min, med, max ...)\\n12.3 MiB (...)')."""
    for line in text.splitlines():
        parts = line.replace("(", " ").split()
        for a, b in zip(parts, parts[1:]):
            if b in _UNITS:
                try:
                    return int(float(a.replace(",", "")) * _UNITS[b])
                except ValueError:
                    continue
    return 0
