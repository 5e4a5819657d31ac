"""Seeded input generators for the benchmark. Pure Python + pyarrow: no
Spark here, so the generators and their tests run without a JVM.

Two families:

- :func:`make_chain` — a Cosmos-style bronze block feed in the landing
  schema ``sources.livefeed.land_block`` takes (``BronzeRow`` tuples),
  covering all 13 ``wasm-*`` event types with a consistent lease/lender
  lifecycle, plus the price series enrichment needs and the small
  dimension tables the endpoints read. It returns the ground-truth row
  count every silver table must hold per block.
- :func:`write_analytics_tables` — the TPC-H-ish star-schema tables the
  registry queries read (``customer``, ``orders``, ``lineitem``,
  ``events``, ``documents``), written as one parquet file each.

The same seed always yields the same rows.
"""

from __future__ import annotations

import random
from collections import Counter
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone
from decimal import Decimal
from pathlib import Path

# Chain time: block h is stamped T0 + h * BLOCK_SECONDS, so the blocks of
# aggregation round k (heights (k-1)*BLOCKS_PER_HOUR, k*BLOCKS_PER_HOUR])
# all sit at or before the hourly timestamp T0 + k hours.
T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
BLOCK_SECONDS = 180
BLOCKS_PER_HOUR = 3600 // BLOCK_SECONDS

ASSETS = ("ATOM", "OSMO", "NLS", "ALL_BTC", "ST_ATOM")
LPN = "USDC"
POOLS = ("pool0", "pool1", "pool2")
PROTOCOLS = ("osmosis-usdc", "neutron-usdc", "osmosis-short")

# Relative frequency of each event type in a block.
EVENT_MIX = {
    "wasm-ls-open": 18,
    "wasm-ls-repay": 22,
    "wasm-ls-close-position": 5,
    "wasm-ls-liquidation": 3,
    "wasm-ls-close": 4,
    "wasm-ls-liquidation-warning": 6,
    "wasm-ls-slippage-anomaly": 2,
    "wasm-ls-auto-close-position": 3,
    "wasm-reserve-cover-loss": 2,
    "wasm-lp-deposit": 14,
    "wasm-lp-withdraw": 6,
    "wasm-tr-profit": 10,
    "wasm-tr-rewards": 5,
}

# Event type -> silver table its parser fills (pipeline.parsers.dispatch).
SILVER_TABLE = {
    "wasm-ls-open": "LS_Opening",
    "wasm-ls-close": "LS_Closing",
    "wasm-ls-repay": "LS_Repayment",
    "wasm-ls-close-position": "LS_Close_Position",
    "wasm-ls-liquidation": "LS_Liquidation",
    "wasm-lp-deposit": "LP_Deposit",
    "wasm-lp-withdraw": "LP_Withdraw",
    "wasm-tr-profit": "TR_Profit",
    "wasm-tr-rewards": "TR_Rewards_Distribution",
    "wasm-ls-liquidation-warning": "LS_Liquidation_Warning",
    "wasm-ls-auto-close-position": "LS_Auto_Close_Position",
    "wasm-ls-slippage-anomaly": "LS_Slippage_Anomaly",
    "wasm-reserve-cover-loss": "Reserve_Cover_Loss",
}

# Parsers that drop rows without a `height` attribute (the skip path).
HEIGHT_REQUIRED = frozenset(
    {
        "wasm-ls-repay",
        "wasm-ls-close-position",
        "wasm-ls-liquidation",
        "wasm-lp-deposit",
        "wasm-lp-withdraw",
        "wasm-tr-profit",
        "wasm-tr-rewards",
        "wasm-reserve-cover-loss",
    }
)
NEEDS_OPEN_LEASE = frozenset(
    {
        "wasm-ls-repay",
        "wasm-ls-close-position",
        "wasm-ls-liquidation",
        "wasm-ls-close",
        "wasm-ls-liquidation-warning",
        "wasm-ls-slippage-anomaly",
        "wasm-ls-auto-close-position",
        "wasm-reserve-cover-loss",
    }
)

SKIP_SHARE = 0.05  # rows of HEIGHT_REQUIRED types that lose `height`
REPLAY_SHARE = 0.02  # blocks landed twice
ALIAS_SHARE = 0.5  # interest quartets in the overdue/due spelling


def micros(ts: datetime) -> int:
    return (ts - datetime(1970, 1, 1, tzinfo=timezone.utc)) // timedelta(microseconds=1)


def block_time(height: int) -> datetime:
    return T0 + timedelta(seconds=height * BLOCK_SECONDS)


def round_time(k: int) -> datetime:
    """Timestamp of aggregation round k (naive UTC, as Spark returns it)."""
    return (T0 + timedelta(hours=k)).replace(tzinfo=None)


def zipf_weights(n: int, s: float = 1.1) -> list[float]:
    return [1.0 / (i + 1) ** s for i in range(n)]


@dataclass
class Chain:
    """A generated feed: ``blocks[h]`` holds block h's bronze rows;
    ``replayed`` lists the heights landed twice; ``truth[h]`` counts the
    silver rows block h must produce, per table."""

    blocks: dict[int, list[tuple]]
    replayed: set[int]
    truth: dict[int, Counter]
    prices: list[tuple]  # (symbol, naive UTC datetime, price string, protocol)
    addresses: list[str]
    dims: dict[str, tuple[str, list[tuple]]] = field(default_factory=dict)

    def landing_order(self, lo: int, hi: int) -> list[int]:
        """Heights to land for (lo, hi], a replayed block landing again
        right after itself — inside the same microbatch, so the stream's
        dedup (not the offset filter) is what drops it."""
        out: list[int] = []
        for h in range(lo + 1, hi + 1):
            out.append(h)
            if h in self.replayed:
                out.append(h)
        return out

    def expected(self, lo: int, hi: int) -> Counter:
        total: Counter = Counter()
        for h in range(lo + 1, hi + 1):
            total.update(self.truth[h])
        return total


def _amount(rng: random.Random, lo: int, hi: int) -> str:
    return str(rng.randint(lo, hi))


def _quartet(rng: random.Random) -> dict[str, str]:
    names = (
        ("overdue-margin-interest", "overdue-loan-interest", "due-margin-interest", "due-loan-interest")
        if rng.random() < ALIAS_SHARE
        else ("prev-margin-interest", "prev-loan-interest", "curr-margin-interest", "curr-loan-interest")
    )
    return {n: _amount(rng, 0, 50_000) for n in names}


def make_chain(seed: int, n_blocks: int, events_per_block: int = 30, n_addresses: int = 400) -> Chain:
    """Generate ``n_blocks`` blocks (heights 1..n_blocks) from ``seed``."""
    rng = random.Random(seed)
    addresses = [f"nolus1{rng.getrandbits(120):030x}" for _ in range(n_addresses)]
    addr_w = zipf_weights(n_addresses)
    lenders = addresses[: max(8, n_addresses // 10)]
    lender_w = zipf_weights(len(lenders))
    types = list(EVENT_MIX)
    type_w = [EVENT_MIX[t] for t in types]

    open_leases: list[str] = []
    lease_meta: dict[str, tuple[str, str]] = {}  # id -> (customer, asset)
    positions: Counter = Counter()  # (lender, pool) -> receipts
    n_lease = 0
    blocks: dict[int, list[tuple]] = {}
    truth: dict[int, Counter] = {}
    replayed: set[int] = set()

    for h in range(1, n_blocks + 1):
        ts = micros(block_time(h))
        rows: list[tuple] = []
        counts: Counter = Counter()
        n_events = max(1, events_per_block + rng.randint(-events_per_block // 3, events_per_block // 3))
        for idx in range(n_events):
            et = rng.choices(types, type_w)[0]
            if et in NEEDS_OPEN_LEASE and not open_leases:
                et = "wasm-ls-open"
            if et == "wasm-lp-withdraw" and not +positions:
                et = "wasm-lp-deposit"
            attrs: dict[str, str] = {"height": str(h)}
            if et == "wasm-ls-open":
                n_lease += 1
                lid = f"nolus1lease{seed % 1000:03d}{n_lease:07d}"
                cust = rng.choices(addresses, addr_w)[0]
                asset = rng.choice(ASSETS)
                lease_meta[lid] = (cust, asset)
                open_leases.append(lid)
                attrs.update(
                    {
                        "id": lid,
                        "customer": cust,
                        "currency": asset,
                        "air": str(rng.randint(60, 250)),
                        "loan-pool-id": rng.choice(POOLS),
                        "loan-amount": _amount(rng, 10**6, 5 * 10**9),
                        "loan-symbol": LPN,
                        "downpayment-amount": _amount(rng, 10**5, 10**9),
                        "downpayment-symbol": rng.choice((LPN, asset)),
                    }
                )
            elif et in ("wasm-ls-repay", "wasm-ls-close-position", "wasm-ls-liquidation"):
                lid = rng.choice(open_leases)
                close = rng.random() < {"wasm-ls-repay": 0.12}.get(et, 0.5)
                attrs.update(
                    {
                        "to": lid,
                        "payment-symbol": LPN,
                        "payment-amount": _amount(rng, 10**5, 10**9),
                        "loan-close": "true" if close else "false",
                        "principal": _amount(rng, 10**4, 10**8),
                        **_quartet(rng),
                    }
                )
                if et == "wasm-ls-close-position":
                    attrs.update(
                        {
                            "change": _amount(rng, 0, 10**6),
                            "amount-amount": _amount(rng, 10**5, 10**8),
                            "amount-symbol": lease_meta[lid][1],
                        }
                    )
                elif et == "wasm-ls-liquidation":
                    attrs.update(
                        {
                            "amount-amount": _amount(rng, 10**5, 10**8),
                            "amount-symbol": lease_meta[lid][1],
                            "cause": rng.choice(("overdue interest", "high liability")),
                        }
                    )
                if close:
                    open_leases.remove(lid)
            elif et == "wasm-ls-close":
                lid = open_leases.pop(rng.randrange(len(open_leases)))
                attrs["id"] = lid
            elif et == "wasm-ls-liquidation-warning":
                lid = rng.choice(open_leases)
                attrs.update(
                    {
                        "lease": lid,
                        "customer": lease_meta[lid][0],
                        "lease-asset": lease_meta[lid][1],
                        "level": str(rng.randint(1, 3)),
                        "ltv": _amount(rng, 700, 900),
                    }
                )
            elif et == "wasm-ls-slippage-anomaly":
                lid = rng.choice(open_leases)
                attrs.update(
                    {
                        "customer": lease_meta[lid][0],
                        "lease": lid,
                        "lease-asset": lease_meta[lid][1],
                        "max-slippage": _amount(rng, 1, 300),
                    }
                )
            elif et == "wasm-ls-auto-close-position":
                lid = rng.choice(open_leases)
                attrs.update(
                    {
                        "to": lid,
                        "strategy": rng.choice(("take-profit", "stop-loss")),
                        "strategy-ltv": _amount(rng, 300, 900),
                    }
                )
            elif et == "wasm-reserve-cover-loss":
                attrs.update(
                    {
                        "to": rng.choice(open_leases),
                        "payment-amount": _amount(rng, 10**3, 10**7),
                        "payment-symbol": LPN,
                    }
                )
            elif et == "wasm-lp-deposit":
                lender = rng.choices(lenders, lender_w)[0]
                pool = rng.choice(POOLS)
                receipts = rng.randint(10**6, 10**9)
                positions[(lender, pool)] += receipts
                attrs.update(
                    {
                        "from": lender,
                        "to": pool,
                        "deposit-amount": str(receipts + rng.randint(0, 10**4)),
                        "deposit-symbol": LPN,
                        "receipts": str(receipts),
                    }
                )
            elif et == "wasm-lp-withdraw":
                lender, pool = rng.choice(sorted(+positions))
                held = positions[(lender, pool)]
                full = rng.random() < 0.3
                receipts = held if full else rng.randint(1, held)
                positions[(lender, pool)] -= receipts
                attrs.update(
                    {
                        "from": lender,
                        "to": pool,
                        "withdraw-amount": str(receipts),
                        "withdraw-symbol": LPN,
                        "receipts": str(receipts),
                        "close": "true" if full else "false",
                    }
                )
            elif et == "wasm-tr-profit":
                attrs.update(
                    {
                        "profit-amount-symbol": LPN,
                        "profit-amount-amount": _amount(rng, 10**3, 10**8),
                    }
                )
            else:  # wasm-tr-rewards
                attrs.update(
                    {
                        "to": rng.choice(POOLS),
                        "rewards-symbol": LPN,
                        "rewards-amount": _amount(rng, 10**3, 10**7),
                    }
                )
            if et in HEIGHT_REQUIRED and rng.random() < SKIP_SHARE:
                del attrs["height"]
            else:
                counts[SILVER_TABLE[et]] += 1
            rows.append((h, f"{rng.getrandbits(256):064X}", idx, et, ts, attrs))
        blocks[h] = rows
        truth[h] = counts
        if rng.random() < REPLAY_SHARE:
            replayed.add(h)

    chain = Chain(
        blocks=blocks,
        replayed=replayed,
        truth=truth,
        prices=_prices(rng, n_blocks),
        addresses=addresses,
    )
    chain.dims = _dims(rng, chain, n_blocks)
    return chain


def _prices(rng: random.Random, n_blocks: int) -> list[tuple]:
    """15-minute ticks per symbol from a day before the first block to
    past the last one (every as-of lookup finds a price)."""
    start = (T0 - timedelta(days=1)).replace(tzinfo=None)
    n_ticks = 96 + (n_blocks * BLOCK_SECONDS) // 900 + 2
    out = []
    for sym in ASSETS + (LPN,):
        p = 1.0 if sym == LPN else rng.uniform(0.5, 40.0)
        for i in range(n_ticks):
            if sym != LPN:
                p = max(0.01, p * (1.0 + rng.gauss(0.0, 0.01)))
            out.append((sym, start + timedelta(minutes=15 * i), f"{p:.6f}", "osmosis-usdc"))
    return out


def _dims(rng: random.Random, chain: Chain, n_blocks: int) -> dict[str, tuple[str, list[tuple]]]:
    """The dimension tables endpoints read besides silver/state."""
    msgs = []
    for h in range(1, n_blocks + 1):
        ts = block_time(h).replace(tzinfo=None)
        sender = rng.choices(chain.addresses, zipf_weights(len(chain.addresses)))[0]
        msgs.append(
            (
                0, sender, rng.choice(chain.addresses), f"{rng.getrandbits(128):032X}",
                rng.choice(("/cosmwasm.wasm.v1.MsgExecuteContract", "/cosmos.bank.v1beta1.MsgSend")),
                "{}", h, str(rng.randint(100, 9000)), "unls", "", ts, None,
                None if rng.random() < 0.9 else 5,
            )
        )
    return {
        "raw_message": (
            "index int, from string, to string, tx_hash string, type string, value string, "
            "block long, fee_amount string, fee_denom string, memo string, "
            "timestamp timestamp, rewards string, code int",
            msgs,
        ),
        "protocol_registry": (
            "protocol_name string, network string, dex string, lpp_contract string, "
            "lpn_symbol string, position_type string, is_active boolean",
            [
                (PROTOCOLS[0], "osmosis", "osmosis-dex", POOLS[0], LPN, "Long", True),
                (PROTOCOLS[1], "neutron", "astroport", POOLS[1], LPN, "Long", True),
                (PROTOCOLS[2], "osmosis", "osmosis-dex", POOLS[2], LPN, "Short", True),
                ("legacy", "osmosis", "osmosis-dex", "poolX", LPN, "Long", False),
            ],
        ),
        "currency_registry": (
            "ticker string, bank_symbol string, decimal_digits int, currency_group string, "
            "is_active boolean",
            [(s, f"ibc/{s.lower()}", 6, "native", True) for s in ASSETS]
            + [(LPN, "ibc/usdc", 6, "stable", True), ("OLD", "ibc/old", 8, "native", False)],
        ),
        "subscription": (
            "address string, endpoint string, p256dh string, auth string, active boolean",
            [
                (a, f"https://push.example/{i}", f"p{i}", f"s{i}", i % 4 != 3)
                for i, a in enumerate(chain.addresses[:12])
            ],
        ),
    }


_ARROW_TYPES = {
    "string": "string",
    "int": "int32",
    "long": "int64",
    "boolean": "bool_",
}


def static_tables(chain: Chain) -> dict:
    """The price series (``MP_Asset``) and the dimension tables as
    pyarrow tables; timestamps are UTC instants, prices decimal(38,18)."""
    import pyarrow as pa

    def utc(ts: datetime) -> datetime:
        return ts.replace(tzinfo=timezone.utc)

    out = {
        "MP_Asset": pa.table(
            {
                "MP_asset_symbol": [r[0] for r in chain.prices],
                "MP_asset_timestamp": pa.array([utc(r[1]) for r in chain.prices], pa.timestamp("us", tz="UTC")),
                "MP_price_in_stable": pa.array([Decimal(r[2]) for r in chain.prices], pa.decimal128(38, 18)),
                "Protocol": [r[3] for r in chain.prices],
            }
        )
    }
    for name, (ddl, rows) in chain.dims.items():
        fields = [f.split() for f in ddl.split(", ")]
        cols = list(zip(*rows))
        arrays = {}
        for i, (col, typ) in enumerate(fields):
            if typ == "timestamp":
                arrays[col] = pa.array([utc(v) for v in cols[i]], pa.timestamp("us", tz="UTC"))
            else:
                arrays[col] = pa.array(cols[i], getattr(pa, _ARROW_TYPES[typ])())
        out[name] = pa.table(arrays)
    return out


# -- analytics tables --------------------------------------------------------

WORDS = (
    "the a data spark table scan join merge sort hash key row column batch "
    "stream window filter group order line part customer value query vector "
    "fast slow big small agg dup index block ledger lease pool price"
).split()
LANGS = ("en", "en", "fr", "es", "de", "zh")


def write_analytics_tables(out_dir: str | Path, seed: int, scale: int = 150) -> dict[str, int]:
    """Write the registry queries' input tables under ``out_dir`` and
    return their row counts. ``scale`` is the customer count; the other
    tables grow in proportion (orders 10x, lineitem ~40x, events and
    documents ~3x)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    d0 = datetime(1995, 1, 1)
    n_cust, n_orders, n_supp, n_part = scale, scale * 10, 10, scale + 50
    segments = ("FURNITURE", "BUILDING", "MACHINERY", "HOUSEHOLD", "AUTOMOBILE")

    tables = {
        "customer": pa.table(
            {
                "c_custkey": pa.array(range(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array([rng.randrange(25) for _ in range(n_cust)], pa.int32()),
                "c_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(n_cust)],
                "c_mktsegment": [rng.choice(segments) for _ in range(n_cust)],
            }
        )
    }
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(n_orders), pa.int64()),
            "o_custkey": pa.array([rng.randrange(n_cust) for _ in range(n_orders)], pa.int64()),
            "o_orderstatus": [rng.choice("OFP") for _ in range(n_orders)],
            "o_totalprice": [round(rng.uniform(1000, 400000), 2) for _ in range(n_orders)],
            "o_orderdate": pa.array(
                [d0 + timedelta(days=rng.randrange(2405)) for _ in range(n_orders)], pa.timestamp("us")
            ),
            "o_orderpriority": [
                rng.choice(("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
                for _ in range(n_orders)
            ],
        }
    )
    li_types = {
        "l_orderkey": pa.int64(), "l_partkey": pa.int64(), "l_suppkey": pa.int64(),
        "l_linenumber": pa.int32(), "l_quantity": pa.float64(), "l_extendedprice": pa.float64(),
        "l_discount": pa.float64(), "l_tax": pa.float64(), "l_returnflag": pa.string(),
        "l_linestatus": pa.string(), "l_shipdate": pa.timestamp("us"),
    }
    li: dict[str, list] = {k: [] for k in li_types}
    for o in range(n_orders):
        for ln in range(1, rng.randint(1, 7) + 1):
            qty = float(rng.randint(1, 50))
            li["l_orderkey"].append(o)
            li["l_partkey"].append(rng.randrange(n_part))
            li["l_suppkey"].append(rng.randrange(n_supp))
            li["l_linenumber"].append(ln)
            li["l_quantity"].append(qty)
            li["l_extendedprice"].append(round(qty * rng.uniform(900, 2100), 2))
            li["l_discount"].append(rng.randint(0, 10) / 100)
            li["l_tax"].append(rng.randint(0, 8) / 100)
            li["l_returnflag"].append(rng.choice("NRA"))
            li["l_linestatus"].append(rng.choice("OF"))
            li["l_shipdate"].append(d0 + timedelta(days=rng.randrange(2405)))
    tables["lineitem"] = pa.table({k: pa.array(v, li_types[k]) for k, v in li.items()})

    n_events = scale * 7
    e0 = datetime(2024, 1, 1)
    ev_ts = sorted(e0 + timedelta(seconds=rng.uniform(0, 30 * 86400)) for _ in range(n_events))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(range(n_events), pa.int64()),
            "ts": pa.array(ev_ts, pa.timestamp("us")),
            "user_id": pa.array([rng.randrange(15) for _ in range(n_events)], pa.int64()),
            "event_type": [
                rng.choice(("click", "purchase", "error", "signup", "view")) for _ in range(n_events)
            ],
            "value": [round(rng.uniform(1, 500), 2) for _ in range(n_events)],
            "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n_events)],
        }
    )
    n_docs = scale * 3
    texts = [" ".join(rng.choice(WORDS) for _ in range(rng.randint(8, 90))) for _ in range(n_docs)]
    for i in range(0, n_docs, 17):  # exact duplicates for the dedup stages
        texts[i] = texts[(i * 7) % n_docs]
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": [rng.choice(LANGS) for _ in range(n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    for name, table in tables.items():
        pq.write_table(table, out / f"{name}.parquet")
    return {name: t.num_rows for name, t in tables.items()}
