"""Benchmark entry point.

    python3 perfbench/run.py --workload <ingest_to_serve|analytics_batch> \
        --seed N --seconds S --trace <0|1>

Run from the repository root. Inputs are generated from ``--seed``; the
timed region lasts at least ``--seconds``; outputs are checked outside
it. The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The traced run
also writes its spans and per-layer table to
``.bench_work/trace-<workload>-<seed>.json``. A failed output check
prints the result with ``correct: false`` and exits with code 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import layers  # noqa: E402
from perfbench.harness import CPUS, peak_rss_mb, quantile, start_session  # noqa: E402
from perfbench.trace import Tracer, event_log_files, parse_event_log  # noqa: E402

WORKLOADS = ("ingest_to_serve", "analytics_batch")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import extract_transform_load_spark  # noqa: F401  (fail fast without the program)

    if args.workload == "ingest_to_serve":
        from perfbench import ingest as workload
    else:
        from perfbench import analytics as workload

    bench_dir = ROOT / ".bench_work"
    work = bench_dir / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    env = {"nproc": os.cpu_count(), "cpus": CPUS, "loadavg_before": os.getloadavg()}
    spark = None
    try:
        spark, start_s = start_session(work, bool(args.trace))
        tracer = Tracer(spark, enabled=bool(args.trace))
        res = workload.run(spark, work, args.seed, args.seconds, tracer)
        rss = peak_rss_mb(spark)
        stop(spark)  # also closes the event log the traced run parses
        spark = None
        env["loadavg_after"] = os.getloadavg()
        e2e = {"setup_s": quantile(res["setup"], 0.5), **res["e2e"]}
        for err in res["errors"]:
            print(f"CHECK FAILED: {err}", file=sys.stderr)
        print(json.dumps({"env": env, "wall": res["wall"], "phases": res["phases"]}), file=sys.stderr)
        if args.trace:
            groups = parse_event_log(event_log_files(work / "eventlog"))
            metrics = layers.per_layer(args.workload, res, tracer, groups, start_s, rss, e2e)
            units = layers.UNITS
            doc = {
                "workload": args.workload, "seed": args.seed, "env": env, "end_to_end_traced": e2e, "wall": res["wall"],
                "per_layer": {k: {"value": v, "moves": layers.TAGS[k]} for k, v in metrics.items()},
                "spans": tracer.export(),
            }
            (bench_dir / f"trace-{args.workload}-{args.seed}.json").write_text(json.dumps(doc, indent=1))
        else:
            metrics, units = e2e, layers.E2E_UNITS
        correct = not res["errors"]
        print(json.dumps({
            "correct": correct,
            "attempted": int(res["attempted"]),
            "failed": int(res["failed"]),
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
        }))
        return 0 if correct else 1
    finally:
        if spark is not None:
            stop(spark)
        shutil.rmtree(work, ignore_errors=True)


def stop(spark) -> None:
    """Stop Spark, then the JVM this process launched, and wait for it:
    closing its stdin is how PySpark tells the gateway JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


if __name__ == "__main__":
    sys.exit(main())
