"""``analytics_batch``: a fixed ordered list of registry queries, closed
loop, one client. Each pass materializes every query through the noop
sink, as ``bench.py`` times its headline set, starting from a fresh
process. The streaming and write layers are idle; on tables of this
size about half of the pass is driver time (planning, compiling and
scheduling, q143's chain of 26 small jobs the most), the rest the
linkage joins and the scans."""

from __future__ import annotations

import time
from pathlib import Path

from . import gen
from .harness import cpu_seconds, fingerprint, settle
from .trace import Tracer

# One query per ROADMAP lever, sized to fit a run: the fuzzy linkage
# kernel (q142) and the graph round driver (q143), with plain
# scan/aggregate and as-of baselines (q01, q15) that no linkage or graph
# change touches. The PnL and snapshot path runs in every
# ingest_to_serve round.
QUERIES = (
    "q142_fuzzy_linkage",
    "q143_pagerank",
    "q01_pricing_summary",
    "q15_asof_join",
)
# Customers. A warm pass hardly depends on it (q143 is a chain of small
# jobs): going from 150 to 600 moved it by under 10% on 4 cores, while
# the linkage kernel (q142) doubled its share.
SCALE = 600
SETUP_REPS = 3
MIN_PASSES = 1


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def oracle_fingerprints(sf_dir: Path) -> dict[str, tuple[int, str]]:
    """Each query's DuckDB oracle over the same parquet files."""
    import duckdb

    from extract_transform_load_spark.plans.registry import REGISTRY

    con = duckdb.connect()
    try:
        for p in sf_dir.glob("*.parquet"):
            con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")
        return {q: fingerprint(con.execute(REGISTRY[q].oracle).df()) for q in QUERIES}
    finally:
        con.close()


def run(spark, work: Path, seed: int, seconds: float, tracer: Tracer) -> dict:
    from concurrent.futures import ThreadPoolExecutor
    from functools import reduce

    from pyspark.sql import functions as F

    from extract_transform_load_spark import plans  # noqa: F401  (registers queries)
    from extract_transform_load_spark.plans.registry import REGISTRY
    from extract_transform_load_spark.sources.tables import load

    sf_dir = work / "sf"
    sizes = gen.write_analytics_tables(sf_dir, seed, SCALE)
    sf = str(sf_dir)

    # Set-up, repeated: load every input table through the program's
    # loader and count its rows, in one action.
    setup = []
    t0 = time.perf_counter()
    for _ in range(SETUP_REPS):
        c0 = cpu_seconds()
        counts = reduce(
            lambda a, b: a.unionByName(b),
            [load(spark, sf, name).agg(F.count(F.lit(1)).alias("n")).select(F.lit(name).alias("t"), "n")
             for name in sizes],
        ).collect()
        setup.append(cpu_seconds() - c0)
        if {r["t"]: r["n"] for r in counts} != sizes:
            raise RuntimeError(f"loaded {counts}, wrote {sizes}")
    setup_wall_s = time.perf_counter() - t0

    # Timed: whole passes, one query at a time, until --seconds is up
    # (on 4 cores the first pass alone outlasts it). The first pass also
    # compiles the plans and warms the JIT; it starts once the JVM has
    # finished compiling what set-up made hot, so each run times the
    # same work. cpu_s is the first pass alone: later passes run while
    # the JIT goes on compiling and fall by half over six passes, so an
    # average over however many passes fit would depend on the host's
    # speed.
    settle_s = settle()
    times: dict[str, list[float]] = {q: [] for q in QUERIES}
    cpu: dict[str, list[float]] = {q: [] for q in QUERIES}
    passes: list[float] = []
    passes_cpu: list[float] = []
    t_start = time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - t_start < seconds:
        p0, pc0 = time.perf_counter(), cpu_seconds()
        for q in QUERIES:
            with tracer.span(f"plans.{q.split('_', 1)[0]}", group=True, pass_no=len(passes)):
                c0, q0 = cpu_seconds(), time.perf_counter()
                _materialize(REGISTRY[q].fn(spark, sf))
                times[q].append(time.perf_counter() - q0)
                cpu[q].append(cpu_seconds() - c0)
        passes.append(time.perf_counter() - p0)
        passes_cpu.append(cpu_seconds() - pc0)

    # The output check, untimed: every result must equal its DuckDB
    # oracle's row count and hash. The queries and the oracle run side by
    # side to keep a run short.
    def result(q: str) -> tuple[int, str]:
        return fingerprint(REGISTRY[q].fn(spark, sf).toPandas())

    t0 = time.perf_counter()
    with ThreadPoolExecutor(len(QUERIES) + 1) as pool:
        oracle = pool.submit(oracle_fingerprints, sf_dir)
        results = {q: pool.submit(result, q) for q in QUERIES}
        expected = oracle.result()
        wrong = [
            f"{q}: spark {results[q].result()} != oracle {expected[q]}"
            for q in QUERIES
            if results[q].result() != expected[q]
        ]
    check_s = time.perf_counter() - t0

    return {
        "attempted": len(QUERIES) * (len(passes) + 1),
        "failed": len(wrong),
        "errors": wrong,
        "setup": setup,
        "warmup_s": passes[0],
        "e2e": {"cpu_s": passes_cpu[0]},
        "wall": {
            "latency_p50_ms": passes[0] * 1000,
            "throughput_per_s": len(QUERIES) / passes[0],
        },
        "passes": passes,
        "phases": {"setup_wall_s": setup_wall_s, "settle_s": settle_s, "check_s": check_s, "passes_cpu_s": passes_cpu,
                   "query_s": times, "query_cpu_s": cpu},
    }
