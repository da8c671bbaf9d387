"""Tests of the benchmark's own machinery (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import stats  # noqa: E402
from loop import run_open_loop  # noqa: E402
from spans import Span, Tracer, self_times  # noqa: E402


# -- generator ---------------------------------------------------------------

def test_generator_is_deterministic_under_a_seed():
    a = gen.make_stream(7, 50, 200, 12)
    b = gen.make_stream(7, 50, 200, 12)
    c = gen.make_stream(8, 50, 200, 12)
    assert a == b
    assert a != c


def test_generator_shape():
    s = gen.make_stream(3, 50, 200, 16)
    assert all(len(t.changes) == gen.ROWS_PER_TXN for t in s.txns)
    lsns = [c[2] for t in s.txns for c in t.changes]
    assert lsns == sorted(lsns) and len(set(lsns)) == len(lsns)
    facts = [c[3] for t in s.txns for c in t.changes if c[0] == "transactions"]
    assert all(1 <= f["quantity"] <= 7 for f in facts)
    purchases = sum(f["transaction_category"] == "Purchase" for f in facts)
    assert 0.7 < purchases / len(facts) < 0.9
    assert sum(f["customer_id"] >= 20000 for f in facts) == gen.ORPHANS_PER_TXN * 16
    dims = [(c[0], c[1]) for t in s.txns for c in t.changes if c[0] != "transactions"]
    assert ("products", "U") in dims and ("customers", "U") in dims
    assert ("merchants", "D") in dims and ("merchants", "I") in dims
    # two updates of one customer inside one transaction, in the churn
    # of the second half of the stream too (steady, not front-loaded)
    for txns in (s.txns[:8], s.txns[8:]):
        dup = [
            t for t in txns
            if len({c[3]["customer_id"] for c in t.changes if c[0] == "customers"})
            < sum(c[0] == "customers" for c in t.changes)
        ]
        assert dup


def test_final_state_applies_latest_lsn_and_deletes():
    s = gen.make_stream(5, 20, 50, 9)
    state = gen.final_state(s, 9)
    # tx 0 deletes a merchant that tx 3 re-inserts
    deleted = next(c[3]["merchant_id"] for c in s.txns[0].changes if c[1] == "D")
    assert deleted not in gen.final_state(s, 1)["merchants"]
    assert deleted in state["merchants"]
    ages = {}
    for t in s.txns:
        for table, _op, _lsn, row in t.changes:
            if table == "customers":
                ages[row["customer_id"]] = row["age"]
    assert all(state["customers"][c]["age"] == a for c, a in ages.items())


def test_slot_files_commit_each_transaction_once_and_cut_some():
    s = gen.make_stream(2, 20, 50, 6)
    due = gen.schedule(s, rate=20.0)
    slots = list(gen.slot_batches(s, due, slot_s=1.5))
    committed = [t for *_rest, done in slots for t in done]
    assert committed == list(range(6))
    assert sum(n for _d, _c, _o, n, _done in slots) == s.n_changes
    assert any(open_txs for _d, _c, open_txs, _n, _done in slots)


# -- open loop ---------------------------------------------------------------

class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t

    def sleep(self, s):
        self.t += s


def _drive(apply_s: float, min_ticks: int = 0):
    clock = FakeClock()
    due = [0.5 * i for i in range(40)]  # 2 files/s for 20 s

    def apply(first, stop):
        clock.t += apply_s

    ticks = run_open_loop(due, apply, seconds=12.0, min_ticks=min_ticks,
                          clock=clock, sleep=clock.sleep)
    offered = sum(d <= 12.0 for d in due)
    lags = [t.end - due[i] for t in ticks for i in range(t.first, t.stop)]
    return ticks, offered, lags


def test_open_loop_does_not_slow_when_apply_slows():
    fast_ticks, fast_offered, fast_lags = _drive(apply_s=0.2)
    slow_ticks, slow_offered, slow_lags = _drive(apply_s=3.0)
    assert slow_offered == fast_offered  # the schedule is fixed
    assert max(slow_lags) > 5 * max(fast_lags)  # lag grows instead
    assert len(slow_ticks) < len(fast_ticks)
    # a fast engine waits for each file; a slow one runs back to back
    # and picks up everything that fell due meanwhile
    assert all(t.stop - t.first == 1 for t in fast_ticks)
    assert [t.start for t in fast_ticks] == [0.5 * i for i in range(len(fast_ticks))]
    assert [t.start for t in slow_ticks[1:]] == [t.end for t in slow_ticks[:-1]]
    # every tick that starts inside the window runs
    assert [t.stop - t.first for t in slow_ticks] == [1, 6, 6, 6]


def test_open_loop_runs_on_until_its_minimum_ticks():
    ticks, _offered, _lags = _drive(apply_s=7.0, min_ticks=3)
    assert [t.start for t in ticks] == [0.0, 7.0, 14.0]


# -- percentile rule ---------------------------------------------------------

def test_percentile_rule_keeps_ten_samples_beyond():
    xs = list(range(100, 0, -1))
    s = stats.summarize(xs)
    assert s["n"] == 100 and s["p50"] == 50.5
    assert s["tail_q"] == 0.9 and s["tail"] == 90
    assert sum(x > s["tail"] for x in xs) == 10
    s = stats.summarize(list(range(1, 51)))
    assert s["tail_q"] == 0.8 and s["tail"] == 40
    assert stats.supported_tail(1000) == 0.99
    assert stats.supported_tail(20) == 0.5
    assert stats.supported_tail(11) == 0.0  # p9 is no tail
    small = stats.summarize([3.0, 1.0, 2.0])  # no quantile qualifies
    assert small["p50"] == 2.0 and small["tail"] is None
    assert "no tail (n=3)" in stats.describe("render", small)
    with pytest.raises(ValueError):
        stats.summarize([])


# -- spans -------------------------------------------------------------------

def test_self_time_subtracts_union_of_overlapping_children():
    spans = [
        Span(1, None, "changefeed.apply", 0.0, 10.0),
        Span(2, 1, "store.overwrite", 1.0, 4.0),  # concurrent dim merges
        Span(3, 1, "store.overwrite", 2.0, 5.0),
        Span(4, 1, "dynamic_table.refresh_dag", 6.0, 9.0),
        Span(5, 4, "store.merge", 7.0, 8.0),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 4.0 - 3.0)
    assert st[2] == pytest.approx(3.0) and st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(2.0)
    assert st[5] == pytest.approx(1.0)


def test_tracer_wraps_instances_and_restores_them():
    class Store:
        def merge(self):
            return "merged"

    clock = FakeClock()
    tracer = Tracer(clock=clock)
    store = Store()
    tracer.wrap(store, "merge", "store.merge")
    with tracer.span("tick"):
        clock.t += 1.0
        assert store.merge() == "merged"
    tracer.unwrap_all()
    assert "merge" not in vars(store)
    assert [s.name for s in tracer.spans] == ["tick", "store.merge"]
    assert tracer.spans[1].parent == tracer.spans[0].id
