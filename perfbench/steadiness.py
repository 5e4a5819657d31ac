"""Run the benchmark on several seeds and report each end-to-end
metric's spread: the distance between the first and third quartile of
its values (``statistics.quantiles(values, n=4)``) as a share of their
median, next to the metric's bound.

    python3 perfbench/steadiness.py --workload ingest_to_serve \
        --seeds 1-10 --out perfbench/evidence/set1_ingest_to_serve.json

Every run's result line, exit code, wall time, ``nproc``,
``SPARK_GRAFT_CPUS``, load average before and after it, and the
wall-time metrics and phase times the run wrote to standard error are
kept in the output file; the summary also gives the wall-time metrics'
spreads and the mean and maximum wall time of a run.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def parse_seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def summarize(runs: list[dict], bounds: dict) -> dict:
    """Median, spread and bound of each end-to-end metric over the
    successful runs, the same for the wall-time metrics each run wrote
    to standard error, and the mean and maximum wall time of a run."""
    ok = [r for r in runs if r["exit"] == 0 and r["result"]]
    series: dict[str, list[float]] = {}
    for r in ok:
        for name, m in r["result"]["metrics"].items():
            series.setdefault(name, []).append(m["value"])
        for name, v in r.get("run", {}).get("wall", {}).items():
            series.setdefault(f"wall.{name}", []).append(v)
    summary = {
        name: {"median": statistics.median(vals), "spread": spread(vals), "bound": bounds.get(name), "values": vals}
        for name, vals in series.items()
        if len(vals) >= 2
    }
    walls = [r["wall_s"] for r in runs]
    summary["run_wall_s"] = {"mean": statistics.mean(walls), "max": max(walls), "values": walls}
    return summary


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}

    runs = []
    for seed in parse_seeds(args.seeds):
        cmd = [*spec["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace)]
        rec = {"seed": seed, "nproc": os.cpu_count(),
               "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
               "loadavg_before": os.getloadavg()}
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        rec.update(wall_s=time.perf_counter() - t0, loadavg_after=os.getloadavg(), exit=proc.returncode)
        lines = proc.stdout.strip().splitlines()
        rec["result"] = json.loads(lines[-1]) if lines else None
        # run.py's stderr line with the run's environment and phase times
        # (Spark's own logging may share the line, so look for it inside)
        for line in proc.stderr.splitlines():
            if '{"env"' in line:
                rec["run"] = json.loads(line[line.index('{"env"') :])
        runs.append(rec)
        print(json.dumps({k: rec[k] for k in ("seed", "exit", "wall_s", "loadavg_before")}), flush=True)

    summary = summarize(runs, {m["name"]: m["bound"] for m in spec["end_to_end"]})
    doc = {"workload": args.workload, "trace": args.trace, "summary": summary, "runs": runs}
    out = Path(args.out)
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(doc, indent=1, default=str))
    for name, s in summary.items():
        if name == "run_wall_s":
            print(f"{name:22s} mean {s['mean']:.1f} max {s['max']:.1f}")
        else:
            print(f"{name:22s} median {s['median']:12.4f} spread {s['spread']:.4f} bound {s['bound']}")
    return 0 if all(r["exit"] == 0 and r["result"] for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
