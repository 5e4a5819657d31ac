"""``ingest_to_serve``: the paper's dataflow end to end, closed loop, one
driver thread, in backfill/catch-up mode (the reference's historical
sync: blocks are already on chain and land as fast as the pipeline
takes them).

Each cycle covers one chain hour (``BLOCKS_PER_ROUND`` blocks). The
driver lands each block's bronze rows, compacts the landing zone and
runs one catch-up microbatch: ``subscribe_blocks`` →
``start_silver_stream``, whose foreachBatch parses with
``parsers.dispatch`` and appends with ``ingest.idempotent_append`` into
silver parquet. Then an aggregation round enriches the openings, builds
the hourly state snapshots and the loan closings, and a fixed read set
of endpoints is collected over the fresh tables. Writes dominate, and
every read hits freshly written data.

The output checks (:func:`check`) hold silver to the generated chain,
the round's tables to a batch recompute from the landing zone, and the
read set to the final tables.
"""

from __future__ import annotations

import shutil
import time
from collections import Counter
from pathlib import Path

from pyspark.sql import functions as F

from . import gen
from .harness import cpu_seconds, quantile
from .trace import Tracer

HISTORY_BLOCKS = 2 * gen.BLOCKS_PER_HOUR  # landed in set-up, caught up by the first microbatch
BLOCKS_PER_ROUND = gen.BLOCKS_PER_HOUR
MAX_ROUNDS = 10  # blocks generated for; a run stops on time long before
SETUP_REPS = 5
BRONZE_PK = ["block", "tx_hash", "event_index"]

SILVER_PK = {
    "LS_Opening": ["LS_contract_id"],
    "LS_Closing": ["LS_contract_id"],
    "LS_Repayment": ["LS_repayment_height", "LS_repayment_idx"],
    "LS_Close_Position": ["LS_position_height", "LS_position_idx"],
    "LS_Liquidation": ["LS_liquidation_height", "LS_liquidation_idx"],
    "LP_Deposit": ["LP_deposit_height", "LP_deposit_idx"],
    "LP_Withdraw": ["LP_withdraw_height", "LP_withdraw_idx"],
    "TR_Profit": ["TR_Profit_height", "TR_Profit_idx"],
    "TR_Rewards_Distribution": ["TR_Rewards_height", "TR_Rewards_idx"],
    "LS_Liquidation_Warning": ["Tx_Hash"],
    "LS_Auto_Close_Position": ["Tx_Hash"],
    "LS_Slippage_Anomaly": ["Tx_Hash"],
    "Reserve_Cover_Loss": ["LS_height", "LS_idx"],
}
# State table -> its snapshot-timestamp column.
STATE_TS = {
    "LS_State": "LS_timestamp",
    "LP_Pool_State": "LP_Pool_timestamp",
    "LP_Lender_State": "LP_timestamp",
    "TR_State": "TR_timestamp",
    "PL_State": "PL_timestamp",
}
STATE_TABLES = tuple(STATE_TS)

# The read set after each round: one endpoint per route family, each
# over a table the round or the stream just rewrote.
READ_SET = (
    ("metrics/open-interest", {}),
    ("leases/search", {"address": None, "limit": 20}),
    ("pnl/realized", {"period": "all"}),
    ("liquidity/pools", {}),
    ("treasury/revenue", {}),
    ("positions/daily", {}),
)
# Event types whose rows without `height` the parsers drop (the rejected count).
SKIP_TYPES = sorted(gen.HEIGHT_REQUIRED)


class Pipeline:
    """One landing zone + silver/serve/state lake, driven block by block."""

    def __init__(self, spark, root: Path, chain: gen.Chain, tracer: Tracer, static: dict) -> None:
        self.spark = spark
        self.root = root
        self.chain = chain
        self.tracer = tracer
        self.landing = root / "landing"
        self.landing.mkdir(parents=True)
        self.height = 0  # last landed height
        self.consumed = 0  # last height committed to silver
        self.round = 0  # last aggregation round
        self.prices = static["MP_Asset"]
        self.dims = static
        self.schemas: dict[str, object] = {}  # "<layer>/<table>" -> StructType
        self.landed_at: dict[int, float] = {}
        self.freshness: list[float] = []
        self.committed_events = 0
        self.stream_stats: list[dict] = []
        self.requests: list[dict] = []
        self.last_reads: list[tuple] = []  # (endpoint, params, rows) of the last read set
        self.check_s: dict[str, float] = {}
        self.rounds: list[dict] = []
        self.compactions: list[float] = []
        self.lands: list[float] = []
        self.files_at_trigger: list[int] = []
        self.append_stats: Counter = Counter()

    def path(self, layer: str, table: str) -> str:
        return str(self.root / layer / table)

    def read(self, layer: str, table: str):
        """A parquet table with the schema it was written with: a pipeline
        knows its tables' schemas, so no read pays Spark's schema
        inference job."""
        return self.spark.read.schema(self.schemas[f"{layer}/{table}"]).parquet(self.path(layer, table))

    def write(self, df, layer: str, table: str, mode: str) -> None:
        self.schemas[f"{layer}/{table}"] = df.schema
        df.write.mode(mode).parquet(self.path(layer, table))

    # -- set-up -------------------------------------------------------------

    def set_up(self, history: int, silver: dict) -> None:
        """Land the history blocks the catch-up starts from, and create
        the 13 silver tables empty with the given schemas."""
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        from extract_transform_load_spark.sources.livefeed import compact_landing

        self.land_to(history)
        compact_landing(str(self.landing), min_files=1)
        for name, schema in silver.items():
            self.schemas[f"silver/{name}"] = schema
            out = Path(self.path("silver", name))
            out.mkdir(parents=True)
            pq.write_table(to_arrow_schema(schema).empty_table(), out / "part-00000.parquet")

    # -- the loop ----------------------------------------------------------

    def land_to(self, upto: int) -> None:
        from extract_transform_load_spark.sources.livefeed import land_block

        for h in self.chain.landing_order(self.height, upto):
            with self.tracer.span("sources.land_block", height=h):
                t0 = time.perf_counter()
                land_block(str(self.landing), h, self.chain.blocks[h])
                t1 = time.perf_counter()
            self.lands.append(t1 - t0)
            self.landed_at.setdefault(h, t1)
        self.height = upto

    def microbatch(self) -> None:
        """Compact, then one catch-up microbatch from the last committed
        offset to the landed head."""
        from extract_transform_load_spark.sources import subscribe_blocks
        from extract_transform_load_spark.sources.livefeed import compact_landing
        from extract_transform_load_spark.streaming.ingest import start_silver_stream

        with self.tracer.span("sources.compact_landing"):
            t0 = time.perf_counter()
            compact_landing(str(self.landing), min_files=1)
            self.compactions.append(time.perf_counter() - t0)
        self.files_at_trigger.append(sum(1 for p in self.landing.glob("*.parquet")))
        stream = subscribe_blocks(self.spark, str(self.landing))
        t0 = time.perf_counter()
        q = start_silver_stream(
            stream, lambda df: df, self._write_silver, str(self.root / "checkpoint")
        )
        try:
            q.processAllAvailable()
            progress = list(q.recentProgress)
        finally:
            q.stop()
        t1 = time.perf_counter()
        if q.exception() is not None:
            raise RuntimeError(f"microbatch failed: {q.exception()}")
        self.tracer.record("streaming.microbatch", t0, t1, run_id=str(q.runId))
        stats = {"s": t1 - t0, "rows_in": 0, "rows_kept": 0, "state_rows": 0, "empty_batches": 0,
                 "latest_offset_ms": 0, "get_batch_ms": 0, "add_batch_ms": 0}
        for p in progress:
            d = p["durationMs"]
            if p["numInputRows"] == 0:
                # a no-data batch: state eviction after the watermark
                # moved, which still runs foreachBatch on an empty frame
                stats["empty_batches"] += "addBatch" in d
                continue
            stats["rows_in"] += p["numInputRows"]
            stats["latest_offset_ms"] += d.get("latestOffset", 0)
            stats["get_batch_ms"] += d.get("getBatch", 0)
            stats["add_batch_ms"] += d.get("addBatch", 0)
            ops = p["stateOperators"]
            stats["rows_kept"] += sum(o["numRowsUpdated"] for o in ops)
            stats["state_rows"] = sum(o["numRowsTotal"] for o in ops)
        self.stream_stats.append(stats)
        self.committed_events += stats["rows_kept"]
        self.consumed = self.height

    def _write_silver(self, batch, batch_id: int) -> None:
        from extract_transform_load_spark.pipeline.monitor import observe_counts
        from extract_transform_load_spark.pipeline.parsers import dispatch

        tr = self.tracer
        if tr.enabled:
            skipped = F.col("event_type").isin(SKIP_TYPES) & F.col("attributes").getItem("height").isNull()
            batch, obs_in = observe_counts(batch, {"rejected": skipped}, name=f"bronze{batch_id}")
        batch = batch.persist()
        try:
            if batch.count() == 0:
                # A no-data batch: running it evicted the dedup state the
                # watermark passed; there is nothing to parse or append.
                return
            t0 = time.perf_counter()
            parsed = dispatch(batch)
            tr.record("pipeline.parsers.dispatch", t0, time.perf_counter())
            counts = [self._append(batch_id, name, df) for name, df in parsed.items()]
            if tr.enabled:
                self.append_stats["rows_out"] += sum(out for out, _ in counts)
                self.append_stats["rows_dropped"] += sum(out - new for out, new in counts)
                self.append_stats["rejected"] += obs_in.get["rejected"]
        finally:
            batch.unpersist()

    def _append(self, batch_id: int, name: str, df) -> tuple[int, int]:
        """Append the rows of one parsed table whose PK silver lacks;
        returns (rows parsed, rows appended) when tracing, else zeros."""
        from extract_transform_load_spark.pipeline.ingest import idempotent_append
        from extract_transform_load_spark.pipeline.monitor import observe_counts

        tr = self.tracer
        t0 = time.perf_counter()
        if tr.enabled:
            df, obs_out = observe_counts(df, {}, name=f"out{batch_id}{name}")
        new = idempotent_append(self.read("silver", name), df, SILVER_PK[name])
        if tr.enabled:
            new, obs_new = observe_counts(new, {}, name=f"new{batch_id}{name}")
        new.write.mode("append").parquet(self.path("silver", name))
        tr.record("pipeline.ingest.idempotent_append", t0, time.perf_counter(), table=name)
        return (obs_out.get["rows"], obs_new.get["rows"]) if tr.enabled else (0, 0)

    def tables(self) -> dict:
        """Silver (priced) + enriched openings + closings + state + dims,
        as freshly bound parquet reads."""
        t = dict(self.dims)
        t.update(priced({name: self.read("silver", name) for name in SILVER_PK}))
        t["LS_Opening"] = self.read("serve", "LS_Opening")
        if self.rounds:
            t["LS_Loan_Closing"] = self.read("serve", "LS_Loan_Closing")
            t.update({name: self.read("state", name) for name in STATE_TABLES})
        return t

    def aggregate(self, k: int) -> None:
        """Aggregation round k at chain time T0 + k hours: enrich the
        openings, append the state snapshots, rewrite the closings."""
        from extract_transform_load_spark.pipeline.enrich import enrich_ls_opening

        state_before = self.bytes_under("state")
        t0 = time.perf_counter()
        with self.tracer.span("pipeline.enrich", group=True, round=k):
            opening = self.read("silver", "LS_Opening")
            self.write(enrich_ls_opening(opening, self.prices), "serve", "LS_Opening", "overwrite")
        t1 = time.perf_counter()
        tables = self.tables()
        with self.tracer.span("pipeline.snapshots.round", group=True, round=k):
            snaps = aggregation_round(tables, k)
            for name in STATE_TABLES:
                self.write(snaps[name], "state", name, "append")
        t2 = time.perf_counter()
        with self.tracer.span("pipeline.pnl.closings", group=True, round=k):
            self.write(loan_closings(tables), "serve", "LS_Loan_Closing", "overwrite")
        t3 = time.perf_counter()
        self.round = k
        written = self.bytes_under("serve") + self.bytes_under("state") - state_before
        self.rounds.append({"k": k, "s": t3 - t0, "enrich_s": t1 - t0, "round_s": t2 - t1,
                            "closings_s": t3 - t2, "bytes": written})

    def read_set(self, rng) -> float:
        """Collect the read set; returns the first response's completion
        time."""
        from extract_transform_load_spark.api.endpoints import ENDPOINTS

        tables = self.tables()
        first = None
        self.last_reads = []
        for name, params in READ_SET:
            kw = dict(params)
            if "address" in kw:
                kw["address"] = rng.choices(self.chain.addresses, gen.zipf_weights(len(self.chain.addresses)))[0]
            with self.tracer.span(f"api.{name}", group=True, round=self.round) as rec:
                t0 = time.perf_counter()
                df = ENDPOINTS[name](tables, **kw)
                t1 = time.perf_counter()
                rows = df.collect()
                t2 = time.perf_counter()
            first = first or t2
            self.last_reads.append((name, kw, rows))
            self.requests.append({"name": name, "plan_ms": (t1 - t0) * 1000, "exec_ms": (t2 - t1) * 1000,
                                  "rows": len(rows), **({k: rec[k] for k in ("jobs", "tasks")} if rec else {})})
        return first

    def cycle(self, rng) -> None:
        """Land one round's blocks, ingest them in one microbatch,
        aggregate, serve."""
        upto = self.height + BLOCKS_PER_ROUND
        self.land_to(upto)
        self.microbatch()
        self.aggregate(upto // BLOCKS_PER_ROUND)
        first = self.read_set(rng)
        for h in range(upto - BLOCKS_PER_ROUND + 1, upto + 1):
            self.freshness.append(first - self.landed_at[h])

    def bytes_under(self, layer: str) -> int:
        return sum(p.stat().st_size for p in (self.root / layer).rglob("*.parquet"))


def silver_schemas(spark) -> dict:
    """Each silver table's schema: its parser's output over an empty
    bronze frame."""
    from extract_transform_load_spark.pipeline.parsers import dispatch
    from extract_transform_load_spark.schemas import BRONZE_EVENT

    return {name: df.schema for name, df in dispatch(spark.createDataFrame([], BRONZE_EVENT)).items()}


def write_static(spark, chain: gen.Chain, out: Path) -> dict:
    """The price series and dimension tables, written once per run and
    read back with their known schemas."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    out.mkdir(parents=True)
    frames = {}
    for name, table in sorted(gen.static_tables(chain).items()):
        path = out / f"{name}.parquet"
        pq.write_table(table, path)
        frames[name] = spark.read.schema(from_arrow_schema(table.schema)).parquet(str(path))
    return frames


def priced(silver: dict) -> dict:
    """Silver tables plus the stable-unit columns the snapshots and
    endpoints read. Every payment, deposit, profit and reward in the
    generated chain is in the LPN (USDC, priced 1.0), so a stable amount
    is the amount itself; only the openings need the as-of price joins
    of ``enrich_ls_opening``."""
    t = dict(silver)
    for name in ("LS_Repayment", "LS_Close_Position", "LS_Liquidation"):
        df = t[name].withColumn("LS_payment_amnt_stable", F.col("LS_payment_amnt"))
        if "LS_amnt" in df.columns:
            df = df.withColumn("LS_amnt_stable", F.col("LS_amnt"))
        t[name] = df
    for name in ("LP_Deposit", "LP_Withdraw"):
        t[name] = t[name].withColumn("LP_amnt_stable", F.col("LP_amnt_asset"))
    t["TR_Profit"] = (
        t["TR_Profit"]
        .withColumn("TR_Profit_amnt_stable", F.col("TR_Profit_amnt"))
        .withColumn("TR_Profit_amnt_nls", F.col("TR_Profit_amnt"))
    )
    t["TR_Rewards_Distribution"] = (
        t["TR_Rewards_Distribution"]
        .withColumn("TR_Rewards_amnt_stable", F.col("TR_Rewards_amnt"))
        .withColumn("TR_Rewards_amnt_nls", F.col("TR_Rewards_amnt"))
    )
    return t


def aggregation_round(tables: dict, k: int) -> dict:
    """``run_aggregation_round`` at round k; TR_State carries the prior
    rounds only (the round's own TR_State row is one of its outputs)."""
    from extract_transform_load_spark.pipeline.snapshots import run_aggregation_round

    ts = gen.round_time(k)
    tables = dict(tables)
    if "TR_State" in tables:
        tables["TR_State"] = tables["TR_State"].filter(F.col("TR_timestamp") < F.lit(ts))
    return run_aggregation_round(
        tables, ts, prev_timestamp=gen.round_time(k - 1), prev_prev_timestamp=gen.round_time(k - 2)
    )


def loan_closings(tables: dict):
    from extract_transform_load_spark.pipeline.pnl import compute_loan_closings

    return compute_loan_closings(
        tables["LS_Opening"], tables["LS_Repayment"], tables["LS_Close_Position"],
        tables["LS_Liquidation"], tables["LS_Closing"],
    )


def table_digest(df, name: str):
    """One row (table, rows, order-insensitive hash) computed in Spark:
    the sum of a 64-bit hash of every row, in decimal so it cannot
    overflow."""
    cols = sorted(df.columns)
    return df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum(F.xxhash64(*cols).cast("decimal(38,0)")), F.lit(0)).alias("hash"),
    ).select(F.lit(name).alias("table"), "rows", "hash")


def open_leases(chain: gen.Chain, hi: int) -> set[str]:
    """Leases the generated chain holds open after block ``hi``: opened,
    and neither closed (``wasm-ls-close``) nor paid off by a surviving
    repay, close-position or liquidation row with ``loan-close``."""
    opened, closed = set(), set()
    for h in range(1, hi + 1):
        for _, _, _, et, _, attrs in chain.blocks[h]:
            if et == "wasm-ls-open":
                opened.add(attrs["id"])
            elif et == "wasm-ls-close":
                closed.add(attrs["id"])
            elif attrs.get("loan-close") == "true" and "height" in attrs:
                closed.add(attrs["to"])
    return opened - closed


def digests(frames: dict) -> dict:
    """{label: (rows, hash)} for every frame, in one Spark action."""
    from functools import reduce

    union = reduce(lambda a, b: a.unionByName(b), [table_digest(df, n) for n, df in frames.items()])
    return {r["table"]: (r["rows"], r["hash"]) for r in union.collect()}


def silver_rows(chain: gen.Chain, hi: int) -> dict[str, Counter]:
    """Per silver table, the transaction hash of every row blocks 1..hi
    must produce: one per event, rows on the skip path left out,
    replayed blocks counted once."""
    out: dict[str, Counter] = {name: Counter() for name in SILVER_PK}
    for h in range(1, hi + 1):
        for _, tx, _, et, _, attrs in chain.blocks[h]:
            if et not in gen.HEIGHT_REQUIRED or "height" in attrs:
                out[gen.SILVER_TABLE[et]][tx] += 1
    return out


def check_silver(spark, pipe: Pipeline) -> list[str]:
    """Each silver table holds exactly the rows the generated chain
    produces, by transaction hash: none missing, none twice."""
    from functools import reduce

    union = reduce(
        lambda a, b: a.unionByName(b),
        [pipe.read("silver", n).select(F.lit(n).alias("table"), "Tx_Hash") for n in SILVER_PK],
    )
    got: dict[str, Counter] = {name: Counter() for name in SILVER_PK}
    for table, tx in union.collect():
        got[table][tx] += 1
    errors = []
    for name, want in silver_rows(pipe.chain, pipe.consumed).items():
        if got[name] != want:
            errors.append(
                f"silver {name}: {sum(got[name].values())} rows, the chain gives {sum(want.values())} "
                f"({len(want - got[name])} missing, {len(got[name] - want)} extra or repeated)"
            )
    return errors


def check_round(spark, pipe: Pipeline) -> list[str]:
    """The state tables' rows of the last round, the enriched openings
    and the loan closings equal a batch recompute from a plain read of
    the landing zone (``spark.read.parquet``, the batch path's PK
    dedup, the parsers, then the same enrichment, round and closings;
    prior rounds' TR_State rows from the lake, as the round itself read
    them), compared as multisets of rows. LS_State also holds one row
    per lease the generated chain has open."""
    from extract_transform_load_spark.pipeline.enrich import enrich_ls_opening
    from extract_transform_load_spark.pipeline.ingest import dedup_batch
    from extract_transform_load_spark.pipeline.parsers import dispatch

    k, ts = pipe.round, gen.round_time(pipe.round)
    bronze = dedup_batch(spark.read.parquet(str(pipe.landing)), BRONZE_PK).localCheckpoint()
    silver = dispatch(bronze)
    t = dict(pipe.dims)
    t.update(priced(silver))
    t["LS_Opening"] = enrich_ls_opening(silver["LS_Opening"], pipe.prices)
    if len(pipe.rounds) > 1:
        t["TR_State"] = pipe.read("state", "TR_State")
    pairs = {
        "serve LS_Opening": (pipe.read("serve", "LS_Opening"), t["LS_Opening"]),
        "serve LS_Loan_Closing": (pipe.read("serve", "LS_Loan_Closing"), loan_closings(t)),
    }
    state = aggregation_round(t, k)
    for n, col in STATE_TS.items():
        pairs[f"{n} round {k}"] = (pipe.read("state", n).filter(F.col(col) == F.lit(ts)), state[n])
    got = digests({f"{label}|{side}": df for label, sides in pairs.items() for side, df in zip("ab", sides)})
    errors = [
        f"{label}: run {got[f'{label}|a']} != batch recompute {got[f'{label}|b']}"
        for label in pairs
        if got[f"{label}|a"] != got[f"{label}|b"]
    ]
    n_open = len(open_leases(pipe.chain, pipe.consumed))
    n_state = got[f"LS_State round {k}|a"][0]
    if n_state != n_open:
        errors.append(f"LS_State round {k}: {n_state} rows, the chain has {n_open} open leases")
    return errors


def check_reads(spark, pipe: Pipeline) -> list[str]:
    """Each response of the last read set equals the same request
    re-issued over the final tables (which :func:`check_round` holds to
    the batch recompute): no response was served from stale data."""
    from extract_transform_load_spark.api.endpoints import ENDPOINTS

    tables = pipe.tables()
    errors = []
    for name, kw, rows in pipe.last_reads:
        again = ENDPOINTS[name](tables, **kw).collect()
        if sorted(map(repr, again)) != sorted(map(repr, rows)):
            errors.append(f"api {name} {kw}: response differs from the same request over the final tables")
    return errors


def check(spark, pipe: Pipeline) -> list[str]:
    """All output checks, outside the timed region. They share no state,
    so they run side by side to keep a run short; one message per
    mismatch."""
    from concurrent.futures import ThreadPoolExecutor

    def timed(f):
        t0 = time.perf_counter()
        errors = f(spark, pipe)
        pipe.check_s[f.__name__] = time.perf_counter() - t0
        return errors

    # Outside the timed region the plans may run differently: without
    # adaptive execution and with one shuffle partition, the small check
    # plans run as few jobs and tasks. Results do not depend on it.
    conf = {"spark.sql.adaptive.enabled": "false", "spark.sql.shuffle.partitions": "1"}
    before = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        with ThreadPoolExecutor(3) as pool:
            parts = [pool.submit(timed, f) for f in (check_silver, check_round, check_reads)]
            return [e for part in parts for e in part.result()]
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


def run(spark, work: Path, seed: int, seconds: float, tracer: Tracer) -> dict:
    import random

    n_blocks = HISTORY_BLOCKS + MAX_ROUNDS * BLOCKS_PER_ROUND
    chain = gen.make_chain(seed, n_blocks)
    static = write_static(spark, chain, work / "static")

    # Set-up, repeated into fresh lakes: land the history, create the
    # silver tables with their parsers' schemas. The last lake is the one
    # driven.
    t0 = time.perf_counter()
    silver = silver_schemas(spark)
    warmup_s = time.perf_counter() - t0
    setup = []
    for rep in range(SETUP_REPS):
        root = work / f"lake{rep}"
        c0 = cpu_seconds()
        pipe = Pipeline(spark, root, chain, tracer, static)
        pipe.set_up(HISTORY_BLOCKS, silver)
        setup.append(cpu_seconds() - c0)
        if rep < SETUP_REPS - 1:
            shutil.rmtree(root)

    # The timed catch-up starts right after set-up, as a sync does after
    # a restart: its first microbatch takes the landed history with the
    # first round's blocks, and its first cycle also compiles the
    # stream, round and endpoint plans.
    rng = random.Random(seed)
    n_lands = len(pipe.lands)
    c_start, t_start = cpu_seconds(), time.perf_counter()
    while pipe.height + BLOCKS_PER_ROUND <= n_blocks and (
        not pipe.rounds or time.perf_counter() - t_start < seconds
    ):
        pipe.cycle(rng)
    wall = time.perf_counter() - t_start
    cycle_cpu = cpu_seconds() - c_start

    t0 = time.perf_counter()
    errors = check(spark, pipe)
    check_s = time.perf_counter() - t0
    landed_events = sum(len(chain.blocks[h]) for h in range(1, pipe.consumed + 1))
    attempted = len(pipe.lands) + len(pipe.stream_stats) + len(pipe.rounds) + len(pipe.requests)
    return {
        "attempted": attempted,
        "failed": len(errors),
        "errors": errors,
        "setup": setup,
        "warmup_s": warmup_s,
        "e2e": {"cpu_s": cycle_cpu / len(pipe.rounds)},
        "wall": {
            "latency_p50_ms": quantile(pipe.freshness, 0.5) * 1000,
            "throughput_per_s": pipe.committed_events / wall,
        },
        "pipe": pipe,
        "window": {"rounds": pipe.rounds, "requests": pipe.requests, "streams": pipe.stream_stats,
                   "lands": pipe.lands[n_lands:], "compactions": pipe.compactions,
                   "files": pipe.files_at_trigger},
        "silver_bytes_per_event": (pipe.bytes_under("silver") + pipe.bytes_under("state")) / landed_events,
        "phases": {"cycles_s": wall, "cycles_cpu_s": cycle_cpu, "check_s": check_s, "check_parts_s": pipe.check_s, "rounds": pipe.rounds,
                   "microbatch_s": [s["s"] for s in pipe.stream_stats]},
    }
