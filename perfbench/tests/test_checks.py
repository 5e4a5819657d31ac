"""The generator-derived expectations the ingest output check holds the
lake to. No Spark: run with ``python3 -m pytest perfbench/tests``."""

from __future__ import annotations

import pytest

from perfbench import gen, ingest


@pytest.fixture(scope="module")
def chain():
    return gen.make_chain(seed=3, n_blocks=120)


def test_silver_rows_agree_with_ground_truth(chain):
    rows = ingest.silver_rows(chain, 100)
    truth = chain.expected(0, 100)
    assert {name: sum(c.values()) for name, c in rows.items() if c} == dict(truth)
    assert all(n == 1 for c in rows.values() for n in c.values())  # one row per event


def test_silver_rows_cover_every_table(chain):
    assert set(ingest.silver_rows(chain, 100)) == set(ingest.SILVER_PK) == set(gen.SILVER_TABLE.values())


def test_open_leases(chain):
    opened, closed_by_event = set(), set()
    for h in range(1, 101):
        for _, _, _, et, _, attrs in chain.blocks[h]:
            if et == "wasm-ls-open":
                opened.add(attrs["id"])
            elif et == "wasm-ls-close":
                closed_by_event.add(attrs["id"])
    still_open = ingest.open_leases(chain, 100)
    assert still_open <= opened
    assert not still_open & closed_by_event
    # repayments with loan-close also close leases, unless their row is skipped
    assert len(still_open) < len(opened - closed_by_event)


def test_open_leases_grow_with_the_chain(chain):
    early, late = ingest.open_leases(chain, 20), ingest.open_leases(chain, 100)
    opened_late = {
        attrs["id"] for h in range(21, 101) for _, _, _, et, _, attrs in chain.blocks[h] if et == "wasm-ls-open"
    }
    assert late - early <= opened_late
