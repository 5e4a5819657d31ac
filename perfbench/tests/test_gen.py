"""The generators are deterministic and their ground truth matches the
rows they emit. No Spark: run with ``python3 -m pytest perfbench/tests``."""

from __future__ import annotations

from collections import Counter

import pyarrow.parquet as pq
import pytest

from perfbench import gen


@pytest.fixture(scope="module")
def chain():
    return gen.make_chain(seed=7, n_blocks=300)


def test_same_seed_same_chain(chain):
    again = gen.make_chain(seed=7, n_blocks=300)
    assert again.blocks == chain.blocks
    assert again.replayed == chain.replayed
    assert again.truth == chain.truth
    assert again.prices == chain.prices
    assert again.dims == chain.dims


def test_other_seed_other_chain(chain):
    assert gen.make_chain(seed=8, n_blocks=300).blocks != chain.blocks


def _parse(rows) -> Counter:
    """What the parsers keep: one silver row per event, except the
    height-checked types when `height` is missing."""
    out: Counter = Counter()
    for _, _, _, et, _, attrs in rows:
        if et in gen.HEIGHT_REQUIRED and "height" not in attrs:
            continue
        out[gen.SILVER_TABLE[et]] += 1
    return out


def test_ground_truth_matches_rows(chain):
    landed = [row for h in chain.landing_order(0, 300) for row in chain.blocks[h]]
    unique = {(r[0], r[1], r[2]): r for r in landed}  # the bronze PK dedup
    assert len(landed) > len(unique)  # replays are present
    assert _parse(unique.values()) == chain.expected(0, 300)
    assert chain.expected(0, 150) + chain.expected(150, 300) == chain.expected(0, 300)


def test_bronze_pk_unique_per_block(chain):
    for h, rows in chain.blocks.items():
        assert all(r[0] == h for r in rows)
        assert len({(r[1], r[2]) for r in rows}) == len(rows)


def test_event_mix(chain):
    rows = [r for rows in chain.blocks.values() for r in rows]
    types = Counter(r[3] for r in rows)
    assert set(types) == set(gen.EVENT_MIX)  # all 13 wasm-* types

    checked = [r for r in rows if r[3] in gen.HEIGHT_REQUIRED]
    missing = sum("height" not in r[5] for r in checked) / len(checked)
    assert 0.03 < missing < 0.07  # the skip path

    quartets = [r[5] for r in rows if r[3] in ("wasm-ls-repay", "wasm-ls-close-position", "wasm-ls-liquidation")]
    alias = sum("due-loan-interest" in a for a in quartets) / len(quartets)
    assert 0.4 < alias < 0.6
    assert all(("due-loan-interest" in a) != ("curr-loan-interest" in a) for a in quartets)

    assert 0 < len(chain.replayed) < 0.06 * len(chain.blocks)


def test_addresses_are_zipf_skewed(chain):
    opens = Counter(r[5]["customer"] for rows in chain.blocks.values() for r in rows if r[3] == "wasm-ls-open")
    top = opens.most_common(1)[0][1]
    assert top > 10 * sum(opens.values()) / len(chain.addresses)


def test_lease_events_reference_open_leases(chain):
    opened, closed = set(), set()
    for h in sorted(chain.blocks):
        for _, _, _, et, _, a in chain.blocks[h]:
            if et == "wasm-ls-open":
                opened.add(a["id"])
                continue
            lease = a.get("to") or a.get("lease") or a.get("id")
            if et.startswith("wasm-ls") or et == "wasm-reserve-cover-loss":
                assert lease in opened and lease not in closed, (h, et)
            if et == "wasm-ls-close" or a.get("loan-close") == "true":
                closed.add(lease)


def test_prices_cover_every_block(chain):
    for sym in gen.ASSETS + (gen.LPN,):
        ticks = sorted(t for s, t, _, _ in chain.prices if s == sym)
        assert ticks[0] <= gen.block_time(1).replace(tzinfo=None)
        assert ticks[-1] >= gen.block_time(300).replace(tzinfo=None)


def test_static_tables_match_dims(chain):
    tables = gen.static_tables(chain)
    assert tables["MP_Asset"].num_rows == len(chain.prices)
    for name, (_, rows) in chain.dims.items():
        assert tables[name].num_rows == len(rows)


def test_analytics_tables_deterministic(tmp_path):
    a = gen.write_analytics_tables(tmp_path / "a", seed=3, scale=40)
    b = gen.write_analytics_tables(tmp_path / "b", seed=3, scale=40)
    assert a == b
    for name in a:
        assert pq.read_table(tmp_path / "a" / f"{name}.parquet").equals(
            pq.read_table(tmp_path / "b" / f"{name}.parquet")
        )
    c = gen.write_analytics_tables(tmp_path / "c", seed=4, scale=40)
    assert not pq.read_table(tmp_path / "c" / "orders.parquet").equals(
        pq.read_table(tmp_path / "a" / "orders.parquet")
    )
