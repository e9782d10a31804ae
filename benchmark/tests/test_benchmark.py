"""Tests of the benchmark's own logic; none of them starts Spark.

    python3 -m pytest benchmark/tests -q
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest  # noqa: E402

import gen  # noqa: E402
import stats  # noqa: E402


# --- tail percentile rule ---------------------------------------------------

def test_tail_leaves_ten_samples_beyond_and_reports_count():
    values = [float(i) for i in range(1, 101)]  # 1..100
    t = stats.tail(values)
    assert t["pct"] == 90 and t["n"] == 100
    assert sum(v > t["value"] for v in values) == 10
    assert t["value"] == stats.percentile(values, 0.90)


def test_tail_picks_highest_whole_percentile():
    # n=23: p56 leaves 23*0.44 = 10.1 samples beyond, p57 only 9.9
    t = stats.tail([float(i) for i in range(23)])
    assert (t["pct"], t["n"]) == (56, 23)
    assert sum(v > t["value"] for v in range(23)) == 10


def test_tail_undefined_without_enough_samples():
    assert stats.tail([1.0] * 10) is None
    assert stats.tail([1.0] * 11)["pct"] == 9


def test_percentile_interpolates_like_statistics_inclusive():
    import statistics

    values = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6]
    quartiles = statistics.quantiles(values, n=4, method="inclusive")
    got = [stats.percentile(values, q) for q in (0.25, 0.5, 0.75)]
    assert got == pytest.approx(quartiles, rel=1e-12)


# --- generator determinism ----------------------------------------------------

def _increment_bytes(seed: int, tmp_path, name: str) -> bytes:
    s = gen.TopicStream("orders", seed)
    s.snapshot(200)
    s.increment(100)
    path = tmp_path / name
    gen.write_jsonl(str(path), s.increment(1000))
    return path.read_bytes()


def test_same_seed_gives_byte_identical_increments(tmp_path):
    assert _increment_bytes(7, tmp_path, "a") == _increment_bytes(7, tmp_path, "b")


def test_other_seed_gives_other_increments(tmp_path):
    assert _increment_bytes(7, tmp_path, "a") != _increment_bytes(8, tmp_path, "b")


def test_increment_mix_and_offsets():
    s = gen.TopicStream("customers", 1)
    s.snapshot(500)
    events = s.increment(1000)
    kinds = [e["_kind"] for e in events]
    assert (kinds.count("update"), kinds.count("insert"), kinds.count("tombstone"),
            kinds.count("malformed")) == (600, 250, 100, 50)
    assert [e["offset"] for e in events] == list(range(500, 1500))
    assert gen.counts(events) == (950, 50)


# --- replay oracle -------------------------------------------------------------

def _ev(offset, key, value, kind):
    return {"key": json.dumps({"order_id": key}),
            "value": None if value is None else (
                value if isinstance(value, str) else json.dumps(value)),
            "topic": "dbserver1.ecommerce.orders", "partition": 0,
            "offset": offset, "timestamp": 0, "_kind": kind}


def test_replay_applies_insert_update_tombstone_and_skips_malformed():
    base = {"order_id": 1, "customer_id": 5, "order_date": 0, "status": "pending",
            "total_amount": "10.00", "shipping_address": "1 Elm St"}
    events = [
        _ev(0, 1, base, "insert"),
        _ev(1, 2, {**base, "order_id": 2}, "insert"),
        _ev(2, 1, {**base, "status": "shipped"}, "update"),
        _ev(3, 2, None, "tombstone"),
        _ev(4, 3, gen.MALFORMED_VALUE, "malformed"),
    ]
    # shuffled input: replay orders by offset
    live = gen.replay(list(reversed(events)), "order_id")
    assert live == {1: {**base, "status": "shipped"}}


def test_replay_matches_generator_model():
    s = gen.TopicStream("products", 11)
    events = s.snapshot(300)
    for _ in range(3):
        events += s.increment(400)
    assert gen.replay(events, "product_id") == s.live


# --- spans ---------------------------------------------------------------------

class _Counters:
    def __init__(self):
        self.job = 0

    def next_job_id(self):
        return self.job


def test_spans_nest_across_threads_and_self_time_excludes_children():
    import threading
    import time

    import spans

    counters = _Counters()
    tracer = spans.Tracer(counters, enabled=True)

    def stream_thread_call():
        with tracer.span("inner"):
            counters.job += 2
            time.sleep(0.02)

    with tracer.span("outer"):
        t = threading.Thread(target=stream_thread_call)
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    outer, inner = tracer.by_name("outer")[0], tracer.by_name("inner")[0]
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert (inner["job1"] - inner["job0"], outer["job1"] - outer["job0"]) == (2, 2)
    self_t = tracer.self_times()
    assert self_t["outer"] == pytest.approx(
        (outer["end"] - outer["start"]) - (inner["end"] - inner["start"]))
    tracer.enabled = False
    with tracer.span("ignored") as rec:
        assert rec is None
    assert len(tracer.spans) == 2


# --- end-of-run state compare --------------------------------------------------

class _Frame:
    """The two DataFrame methods ``same_state`` uses, over a pandas frame."""

    def __init__(self, pdf):
        self.pdf = pdf

    def drop(self, col):
        return _Frame(self.pdf.drop(columns=[col]))

    def toPandas(self):
        return self.pdf


def _orders_frame(status: str):
    import datetime
    from decimal import Decimal

    import pandas as pd

    return _Frame(pd.DataFrame({
        "order_id": pd.Series([7], dtype="int32"),
        "customer_id": pd.Series([5], dtype="int32"),
        "order_date": pd.Series([datetime.datetime(1970, 1, 1, 0, 0, 1)],
                                dtype="datetime64[us]"),
        "status": [status],
        "total_amount": [Decimal("10.50")],
        "shipping_address": ["7 Elm St"],
        "last_offset": [3],
    }))


def test_same_state_compares_recovered_types():
    import workloads

    model = {7: {"order_id": 7, "customer_id": 5, "order_date": 1_000_000,
                 "status": "shipped", "total_amount": "10.50",
                 "shipping_address": "7 Elm St"}}
    assert workloads.same_state(_orders_frame("shipped"), model, "orders")
    assert not workloads.same_state(_orders_frame("pending"), model, "orders")
    assert not workloads.same_state(_orders_frame("shipped"), {}, "orders")
