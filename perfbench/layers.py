"""The metric catalogue: end-to-end metrics (tracing off) and per-layer
metrics (traced run), each per-layer metric tagged with the end-to-end
metric and workload it should move. A layer a workload does not use
reports 0 on that workload."""

from __future__ import annotations

from collections import defaultdict

from .harness import quantile

E2E_UNITS = {
    "setup_s": "s",
    "cpu_s": "s",
}

ING, ANA = "ingest_to_serve", "analytics_batch"
ALL = f"{ING},{ANA}"
API_PREFIXES = ("metrics", "leases", "pnl", "liquidity", "treasury", "positions")
PLAN_QUERIES = ("q142", "q143", "q01", "q15")
PLAN_FIELDS = {
    "s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "cpu_run_ratio": "ratio",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "gc_s": "s",
}

# name -> (unit, "should move <end-to-end metric> on <workload>")
_CATALOGUE: dict[str, tuple[str, str]] = {
    "session.start_s": ("s", f"setup_s on {ALL}"),
    "session.warmup_s": ("s", f"setup_s on {ALL}"),
    # Peak RSS of the JVM and the Python driver: not gated end to end,
    # its run-to-run spread on ingest_to_serve (~25%) is wider than any bound.
    "session.peak_rss_mb": ("MB", f"memory footprint on {ALL}"),
    "sources.land_block.ms_p50": ("ms", f"cpu_s, wall.throughput_per_s, wall.latency_p50_ms on {ING}"),
    "sources.compact_landing.s": ("s", f"cpu_s, wall.throughput_per_s, wall.latency_p50_ms on {ING}"),
    "sources.landing.files_at_trigger": ("count", f"cpu_s, wall.throughput_per_s, wall.latency_p50_ms on {ING}"),
    "streaming.microbatch.s_p50": ("s", f"cpu_s, wall.throughput_per_s on {ING}"),
    "streaming.empty_batches": ("count", f"cpu_s, wall.throughput_per_s, wall.latency_p50_ms on {ING}"),
    "streaming.latest_offset_ms": ("ms", f"cpu_s, wall.throughput_per_s on {ING}"),
    "streaming.get_batch_ms": ("ms", f"cpu_s, wall.throughput_per_s on {ING}"),
    "streaming.add_batch_ms": ("ms", f"cpu_s, wall.throughput_per_s on {ING}"),
    "streaming.dedup.kept_ratio": ("ratio", f"cpu_s, wall.throughput_per_s, session.peak_rss_mb on {ING}"),
    "streaming.state_rows": ("count", f"cpu_s, wall.throughput_per_s, session.peak_rss_mb on {ING}"),
    "pipeline.parsers.dispatch.s": ("s", f"cpu_s, wall.throughput_per_s on {ING}"),
    "pipeline.parsers.rows_out": ("count", f"cpu_s, wall.throughput_per_s on {ING}"),
    "pipeline.parsers.rejected": ("count", f"cpu_s, wall.throughput_per_s on {ING}"),
    "pipeline.ingest.idempotent_append.s": ("s", f"cpu_s, wall.throughput_per_s on {ING}"),
    "pipeline.ingest.rows_dropped": ("count", f"cpu_s, wall.throughput_per_s on {ING}"),
    "pipeline.enrich.s": ("s", f"cpu_s, wall.latency_p50_ms, wall.throughput_per_s on {ING}"),
    "pipeline.snapshots.round.s": ("s", f"cpu_s, wall.latency_p50_ms, wall.throughput_per_s on {ING}"),
    "pipeline.snapshots.round.jobs": ("count", f"cpu_s, wall.latency_p50_ms, wall.throughput_per_s on {ING}"),
    "pipeline.pnl.closings.s": ("s", f"cpu_s, wall.latency_p50_ms, wall.throughput_per_s on {ING}"),
    "pipeline.round.bytes_written": ("B", f"cpu_s, wall.latency_p50_ms, wall.throughput_per_s on {ING}"),
    "pipeline.silver_bytes_per_event": ("B", f"cpu_s, wall.latency_p50_ms, wall.throughput_per_s on {ING}"),
    "api.plan_ms_p50": ("ms", f"cpu_s, wall.latency_p50_ms on {ING}"),
    "api.exec_ms_p50": ("ms", f"cpu_s, wall.latency_p50_ms on {ING}"),
    "api.jobs_per_request": ("count", f"cpu_s, wall.latency_p50_ms on {ING}"),
    "api.tasks_per_request": ("count", f"cpu_s, wall.latency_p50_ms on {ING}"),
    "api.rows_returned": ("count", f"cpu_s, wall.latency_p50_ms on {ING}"),
    **{f"api.{p}.ms_p50": ("ms", f"cpu_s, wall.latency_p50_ms on {ING}") for p in API_PREFIXES},
    **{
        f"plans.{q}.{f}": (u, f"cpu_s, wall.latency_p50_ms, wall.throughput_per_s on {ANA}; none on {ING}")
        for q in PLAN_QUERIES
        for f, u in PLAN_FIELDS.items()
    },
    "plans.driver_gap_s": ("s", f"cpu_s, wall.throughput_per_s, wall.latency_p50_ms on {ANA}"),
    "trace.bookkeeping_s": ("s", "tracing overhead (none when tracing is off)"),
    "trace.cpu_s": ("s", "tracing overhead: against cpu_s of the untraced run on the same seed"),
    # Wall time of the traced run, as a user sees it; not gated: on a
    # shared machine it swings with other tenants' load (see README).
    "wall.latency_p50_ms": ("ms", f"user-visible latency on {ALL}; tracing adds its overhead"),
    "wall.throughput_per_s": ("1/s", f"user-visible throughput on {ALL}; tracing adds its overhead"),
}
UNITS = {k: u for k, (u, _) in _CATALOGUE.items()}
TAGS = {k: t for k, (_, t) in _CATALOGUE.items()}


def _p50(values) -> float:
    values = list(values)
    return quantile(values, 0.5) if values else 0.0


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def per_layer(workload: str, res: dict, tracer, groups: dict, start_s: float, rss_mb: float, e2e: dict) -> dict:
    m = dict.fromkeys(_CATALOGUE, 0.0)
    m["session.start_s"] = start_s
    m["session.peak_rss_mb"] = rss_mb
    m["session.warmup_s"] = res["warmup_s"]
    m["trace.bookkeeping_s"] = tracer.bookkeeping_s
    m["trace.cpu_s"] = e2e["cpu_s"]
    m["wall.latency_p50_ms"] = res["wall"]["latency_p50_ms"]
    m["wall.throughput_per_s"] = res["wall"]["throughput_per_s"]
    if workload == ING:
        _ingest(m, res, tracer)
    else:
        _plans(m, res, tracer, groups)
    return m


def _ingest(m: dict, res: dict, tracer) -> None:
    w, pipe = res["window"], res["pipe"]
    n_batches = max(1, len(pipe.stream_stats))
    m["sources.land_block.ms_p50"] = _p50(v * 1000 for v in w["lands"])
    m["sources.compact_landing.s"] = _p50(w["compactions"])
    m["sources.landing.files_at_trigger"] = _p50(w["files"])
    m["streaming.microbatch.s_p50"] = _p50(s["s"] for s in w["streams"])
    m["streaming.empty_batches"] = _mean(s["empty_batches"] for s in w["streams"])
    for k in ("latest_offset_ms", "get_batch_ms", "add_batch_ms"):
        m[f"streaming.{k}"] = _p50(s[k] for s in w["streams"])
    rows_in = sum(s["rows_in"] for s in w["streams"])
    m["streaming.dedup.kept_ratio"] = sum(s["rows_kept"] for s in w["streams"]) / rows_in if rows_in else 0.0
    m["streaming.state_rows"] = w["streams"][-1]["state_rows"] if w["streams"] else 0
    m["pipeline.parsers.dispatch.s"] = _p50(s["end"] - s["start"] for s in tracer.named("pipeline.parsers.dispatch"))
    m["pipeline.parsers.rows_out"] = pipe.append_stats["rows_out"] / n_batches
    m["pipeline.parsers.rejected"] = pipe.append_stats["rejected"] / n_batches
    m["pipeline.ingest.rows_dropped"] = pipe.append_stats["rows_dropped"] / n_batches
    m["pipeline.ingest.idempotent_append.s"] = (
        sum(s["end"] - s["start"] for s in tracer.named("pipeline.ingest.idempotent_append")) / n_batches
    )
    rounds = w["rounds"]
    m["pipeline.enrich.s"] = _p50(r["enrich_s"] for r in rounds)
    m["pipeline.snapshots.round.s"] = _p50(r["round_s"] for r in rounds)
    m["pipeline.pnl.closings.s"] = _p50(r["closings_s"] for r in rounds)
    m["pipeline.round.bytes_written"] = _p50(r["bytes"] for r in rounds)
    ks = {r["k"] for r in rounds}
    m["pipeline.snapshots.round.jobs"] = _p50(
        s["jobs"] for s in tracer.named("pipeline.snapshots.round") if s.get("round") in ks
    )
    m["pipeline.silver_bytes_per_event"] = res["silver_bytes_per_event"]
    reqs = w["requests"]
    m["api.plan_ms_p50"] = _p50(r["plan_ms"] for r in reqs)
    m["api.exec_ms_p50"] = _p50(r["exec_ms"] for r in reqs)
    m["api.jobs_per_request"] = _mean(r.get("jobs", 0) for r in reqs)
    m["api.tasks_per_request"] = _mean(r.get("tasks", 0) for r in reqs)
    m["api.rows_returned"] = _mean(r["rows"] for r in reqs)
    for p in API_PREFIXES:
        m[f"api.{p}.ms_p50"] = _p50(r["plan_ms"] + r["exec_ms"] for r in reqs if r["name"].startswith(p + "/"))


def _plans(m: dict, res: dict, tracer, groups: dict) -> None:
    n_pass = len(res["passes"])
    by_q = defaultdict(list)
    for s in tracer.spans:
        if s["name"].startswith("plans."):
            by_q[s["name"].split(".", 1)[1]].append(s)
    gap = 0.0
    for q, spans in by_q.items():
        ev = [groups.get(s["group"], {}) for s in spans]
        run_ms = sum(e.get("run_ms", 0.0) for e in ev)
        m[f"plans.{q}.s"] = _p50(s["end"] - s["start"] for s in spans)
        for k in ("jobs", "stages", "tasks"):
            m[f"plans.{q}.{k}"] = _mean(s[k] for s in spans)
        m[f"plans.{q}.cpu_run_ratio"] = sum(e.get("cpu_ms", 0.0) for e in ev) / run_ms if run_ms else 0.0
        m[f"plans.{q}.shuffle_write_mb"] = sum(e.get("shuffle_write_b", 0) for e in ev) / 2**20 / n_pass
        m[f"plans.{q}.spill_mb"] = sum(e.get("spill_b", 0) for e in ev) / 2**20 / n_pass
        m[f"plans.{q}.gc_s"] = sum(e.get("gc_ms", 0.0) for e in ev) / 1000 / n_pass
        gap += sum((s["end"] - s["start"]) - e.get("job_s", 0.0) for s, e in zip(spans, ev))
    m["plans.driver_gap_s"] = gap / n_pass
