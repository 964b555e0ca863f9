"""Fast tests of the benchmark's own parts.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt
import os
from decimal import Decimal

import pytest

import finance_gen as G
import tpch_gen
import wl_analytics
import wl_serving


def _row(tid, aid, name, amount, desc, day, imported, inst="Bank"):
    t = f"{day}T10:00:00"
    return (tid, aid, name, None, inst, Decimal(amount) if amount else None, 0, t, 0, t,
            desc, False, imported, imported[:10], None)


def test_staging_model_rules():
    rows = [
        _row("A", "ACT-1", "Savings", "-1.00", "FEE #1", "2024-01-02", "2024-01-03T06:00:00"),
        # same id, later import: one row
        _row("A", "ACT-1", "Savings", "-1.00", "FEE #1", "2024-01-02", "2024-01-04T06:00:00"),
        # reconnection twin under a new account id, imported later: wins
        _row("B", "ACT-1", "Savings", "-2.00", "FEE #2", "2024-01-02", "2024-01-03T06:00:00"),
        _row("C", "ACT-2", "Savings (1234)", "-2.00", "FEE #2", "2024-01-02",
             "2024-01-05T06:00:00"),
        # same-day twins inside one account: both kept
        _row("D", "ACT-1", "Savings", "-3.00", "COFFEE", "2024-01-02", "2024-01-03T06:00:00"),
        _row("E", "ACT-1", "Savings", "-3.00", "COFFEE", "2024-01-02", "2024-01-03T06:00:00"),
        # exclusion pattern, any case
        _row("F", "ACT-1", "Savings", "-9.00", "online TRANSFER out", "2024-01-02",
             "2024-01-03T06:00:00"),
        # NULL amount and institution still stage
        _row("G", "ACT-3", "Brokerage", None, "DIVIDEND", "2024-01-02",
             "2024-01-03T06:00:00", inst=None),
    ]
    assert sorted(G.staged_simplefin(rows)) == ["A", "C", "D", "E", "G"]


def test_generator_is_seeded():
    a, b, c = G.make_inputs(3, 0.005), G.make_inputs(3, 0.005), G.make_inputs(4, 0.005)
    assert a.batches == b.batches and a.user_categories == b.user_categories
    assert a.batches != c.batches
    win = (G.NOW - dt.timedelta(days=40), G.NOW)
    assert a.fetch_window(*win) == b.fetch_window(*win)
    assert G.expected_counts(a, True) == G.expected_counts(b, True)


def test_fetch_reserves_landed_ids():
    inputs = G.make_inputs(5, 0.01)
    landed = {r[0] for _, rows in inputs.batches for r in rows}
    fetched = [r[0] for r in G.fetched_rows(inputs)]
    assert len(fetched) == len(set(fetched))  # deduped in flight
    reserved = sum(1 for tid in fetched if tid in landed)
    assert 0.3 < reserved / len(fetched) < 0.7


def test_same_seed_same_requests_and_query_order():
    inputs = G.make_inputs(9, 0.005)
    reqs = wl_serving.make_requests(9, inputs, 200)
    assert reqs == wl_serving.make_requests(9, inputs, 200)
    assert reqs != wl_serving.make_requests(10, inputs, 200)
    writes = sum(1 for r in reqs if r["kind"] == "write")
    assert 0.08 < writes / len(reqs) < 0.25
    assert wl_analytics.query_order(9) == wl_analytics.query_order(9)
    assert sorted(wl_analytics.query_order(9)) == sorted(wl_analytics.QUERIES)


def test_tables_are_seeded():
    a, b = tpch_gen.make_tables(1, 0.0005), tpch_gen.make_tables(1, 0.0005)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["orders"].equals(tpch_gen.make_tables(2, 0.0005)["orders"])


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import common

    work = str(tmp_path_factory.mktemp("perfbench"))
    common.configure_env(work)
    spark = common.start_spark(work, trace=False)
    yield spark, work
    spark.stop()


def test_expected_counts_match_build(spark):
    from doin_fine_ance__spark.plans.build import Warehouse, build

    session, work = spark
    inputs = G.make_inputs(2, 0.005)
    root = os.path.join(work, "warehouse")
    G.write_inputs(session, inputs, root)
    expected = G.expected_counts(inputs, ingested=False)
    expected.pop("predicted")
    assert build(Warehouse(session, root)) == expected
