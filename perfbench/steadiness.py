"""Run the benchmark on several seeds per workload and report, for each
end-to-end metric, the median and the spread (Q3 - Q1) / median.

    python3 perfbench/steadiness.py --seeds 10 [--first-seed 1] \
        [--workloads archive_batch corpus_clean] [--out FILE]

Runs are sequential (two Spark JVMs at once would measure each other).
Defaults come from ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.harness import iqr_share  # noqa: E402


def main(argv=None) -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--out", type=Path)
    args = ap.parse_args(argv)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {"seconds": args.seconds, "workloads": {}}
    for wl in args.workloads:
        runs = []
        for seed in range(args.first_seed, args.first_seed + args.seeds):
            t0 = time.perf_counter()
            proc = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", wl, "--seed", str(seed),
                 "--seconds", str(args.seconds), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or len(lines) < 2:
                print(f"{wl} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}",
                      file=sys.stderr)
                return 1
            diag, result = json.loads(lines[-2]), json.loads(lines[-1])
            diag.pop("confs", None)
            runs.append({"seed": seed, "wall_s": time.perf_counter() - t0,
                         "result": result, "diag": diag})
            print(wl, seed, json.dumps({k: round(v["value"], 4)
                                        for k, v in result["metrics"].items()}),
                  "ops", diag["ops"], "failed", result["failed"],
                  "wall_s", round(runs[-1]["wall_s"], 1), flush=True)
        summary = {}
        for name in runs[0]["result"]["metrics"]:
            vals = [r["result"]["metrics"][name]["value"] for r in runs]
            summary[name] = {"median": statistics.median(vals),
                             "iqr_over_median": iqr_share(vals),
                             "bound": bounds.get(name), "values": vals}
            print(f"  {wl} {name}: median {summary[name]['median']:.4g} "
                  f"IQR/median {summary[name]['iqr_over_median']:.4f} "
                  f"(bound {bounds.get(name)})", flush=True)
        report["workloads"][wl] = {
            "summary": summary,
            "failed": sum(r["result"]["failed"] for r in runs),
            "attempted": sum(r["result"]["attempted"] for r in runs),
            "runs": runs,
        }
    if args.out:
        args.out.parent.mkdir(parents=True, exist_ok=True)
        args.out.write_text(json.dumps(report, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
