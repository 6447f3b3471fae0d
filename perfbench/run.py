"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. The run makes its
inputs from ``--seed`` in a fresh work directory under the checkout and
sets up once, cold: it starts a Spark session in a new JVM, inits the
workload's store and runs a warm-up operation (all of it ``setup_s``;
none of it in the throughput). The workload's operations then run back
to back for ``--seconds`` seconds. It prints a diagnostics line and,
last, one JSON result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` alternates
untraced and traced operations and reports the per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

#: hard cap on operations per run, whatever ``--seconds`` says
MAX_OPS = 300


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(work: Path) -> None:
    """Keep every file the run, the JVM and its Python workers write
    inside the work directory, and let the workers import the package."""
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def main(argv=None) -> int:
    args = _parse(argv)
    # the program under test is the checkout's own package: without it
    # there is nothing to measure, so fail here, before any input is made
    if not (ROOT / "trendmachine_spark" / "__init__.py").is_file():
        raise SystemExit(f"no trendmachine_spark package under {ROOT}")
    sys.path.insert(0, str(ROOT))

    from perfbench import harness as H
    from perfbench.workloads import PER_LAYER, WORKLOADS, Tracer

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    spans = H.Spans()
    try:
        return _run(args, work, H, WORKLOADS[args.workload], PER_LAYER, Tracer, spans)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work, H, workload_cls, per_layer, Tracer, spans) -> int:
    noise = {"start": H.noise_snapshot()}
    wl = workload_cls(args.seed, work)
    t0 = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t0

    confs = H.spark_confs(work)
    spark = None
    tally = H.Tally()
    lat, traced_lat, layer_values, results = [], [], [], []
    units, wall = 0, 0.0
    try:
        t0 = time.perf_counter()
        with spans("setup"):
            spark = H.start_spark(confs)
            wl.setup(spark)
        setup_s = time.perf_counter() - t0

        status = H.StatusStore(spark) if args.trace else None
        deadline = time.perf_counter() + args.seconds
        i = 0
        # a traced run always gets one untraced and one traced operation
        while i < MAX_OPS and (time.perf_counter() < deadline or (args.trace and i < 2)):
            traced = bool(args.trace) and i % 2 == 1
            spans.op = i
            t0 = time.perf_counter()
            try:
                with spans("op"):
                    if traced:
                        layer_values.append(wl.traced_op(spark, Tracer(status, spans, i), i))
                    else:
                        res = wl.op(spark, i)
            except Exception as exc:  # a failed operation is counted, the run goes on
                traceback.print_exc()
                wall += time.perf_counter() - t0
                tally.record(False, f"op {i}: {exc!r}")
                i += 1
                continue
            dt = time.perf_counter() - t0
            wall += dt
            if traced:
                traced_lat.append(dt)
            else:
                lat.append(dt)
                units += wl.units(res)
                results.append(res)
            i += 1
        peak_rss = H.tree_peak_rss_mb([os.getpid(), H.jvm_pid()])
        noise["end"] = H.noise_snapshot()
        noise["steal_share"] = H.steal_share(noise["start"].pop("cpu_ticks"),
                                             noise["end"].pop("cpu_ticks"))
        t0 = time.perf_counter()
        try:
            verdicts = wl.check(spark, results)
        except Exception as exc:  # the check itself failed: every op is unverified
            traceback.print_exc()
            verdicts = [(False, f"check: {exc!r}")] * len(results)
        check_s = time.perf_counter() - t0
        for ok, why in verdicts:
            tally.record(ok, why)
        if args.trace:
            tally.attempted += len(traced_lat)
    finally:
        if spark is not None:
            H.shutdown_spark(spark)

    if not lat:
        print(json.dumps({"error": "no operation completed", "errors": tally.errors}))
        return 1
    t = H.tail([x * 1000 for x in lat])
    diag = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "confs": confs, "unit": wl.unit,
        "ops": len(lat), "traced_ops": len(traced_lat), "work_units": units,
        "gen_s": round(gen_s, 3),
        "check_s": round(check_s, 3), "failed_frac": tally.failed_frac,
        "errors": tally.errors,
        "op_ms": [round(x * 1000, 1) for x in lat],
        "op_p50_ms": statistics.median(lat) * 1000,
        "tail_ms": {"value": t[0], "percentile": t[1], "samples": t[2]} if t else None,
        "trend_last_over_first_quarter": H.trend(lat),
        "noise": noise,
    }
    if args.trace:
        metrics = {}
        for name, unit in per_layer.items():
            vals = [v[name] for v in layer_values if name in v]
            metrics[name] = {"value": statistics.median(vals) if vals else 0.0, "unit": unit}
        overhead = ((statistics.median(traced_lat) - statistics.median(lat)) * 1000
                    if traced_lat else 0.0)
        metrics["trace.overhead_ms"] = {"value": overhead, "unit": "ms"}
        diag["self_time_s"] = {k: round(v, 4) for k, v in spans.self_times().items()}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_rss_mb": {"value": peak_rss, "unit": "MB"},
            "work_per_s": {"value": units / wall, "unit": "1/s"},
        }
    out = ROOT / ".perfbench_out"
    spans.write(out / f"{args.workload}-{args.seed}-trace{args.trace}.spans.json")
    print(json.dumps(diag))
    print(json.dumps({"correct": tally.failed == 0, "attempted": tally.attempted,
                      "failed": tally.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
