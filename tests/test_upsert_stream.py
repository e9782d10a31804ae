"""foreachBatch incremental latest-state maintenance: per-batch merge,
delete markers, checkpoint resume, replay-oracle equality."""

from __future__ import annotations

import json
import os

from cdc_local_data_pipeline_docker_spark.cdc import fixtures as FX
from cdc_local_data_pipeline_docker_spark.streaming.upsert import (
    _recover_state,
    read_state,
    start_upsert_stream,
    state_table_path,
)

from .test_tablelog_scan_jobs import _built_without_jobs


def _dump(path, evs):
    with open(path, "w") as f:
        for e in evs:
            f.write(json.dumps({k: v for k, v in e.items() if k != "_kind"}) + "\n")


def test_upsert_stream_incremental_state(spark, tmp_path):
    events = FX.generate_table_events("orders")
    in_dir = tmp_path / "in"
    out = str(tmp_path / "wh")
    in_dir.mkdir()

    # drain 1: first 50 events
    _dump(in_dir / "orders_a.jsonl", events[:50])
    start_upsert_stream(spark, str(in_dir), "orders", out)
    # the state table reads with the schema its merge writes: no job
    s1 = {
        r.order_id
        for r in _built_without_jobs(
            spark, lambda: read_state(spark, out, "orders")
        ).collect()
    }
    assert s1 == set(FX.expected_live_rows(events[:50], "orders"))

    # drain 2: the rest (incl. tombstones + malformed) — only the delta
    # merges; final state equals the full replay oracle
    _dump(in_dir / "orders_b.jsonl", events[50:])
    start_upsert_stream(spark, str(in_dir), "orders", out)
    expected = FX.expected_live_rows(events, "orders")
    state = {
        r.order_id: r for r in read_state(spark, out, "orders").collect()
    }
    assert set(state) == set(expected)
    for k, exp in expected.items():
        assert str(state[k].total_amount) == exp["total_amount"]
        assert state[k].status == exp["status"]

    # drain 3: nothing new — state byte-identical (checkpoint no-op)
    start_upsert_stream(spark, str(in_dir), "orders", out)
    state3 = {r.order_id for r in read_state(spark, out, "orders").collect()}
    assert state3 == set(expected)

    # deleted keys stayed deleted across the incremental merges
    deleted = {
        json.loads(e["key"])["order_id"]
        for e in events
        if e["_kind"] == "tombstone"
    }
    assert not (deleted & state3 - set(expected))
    assert all(k not in state3 for k in deleted - set(expected))


def test_upsert_state_swap_crash_recovery(spark, tmp_path):
    """A crash between the two renames of the state swap leaves only an
    __old_<n> snapshot; recovery must restore it instead of letting the
    next merge rebuild state from a single replayed batch (which would
    silently discard every previously merged key)."""
    events = FX.generate_table_events("orders")
    in_dir = tmp_path / "in"
    out = str(tmp_path / "wh")
    in_dir.mkdir()

    _dump(in_dir / "orders_a.jsonl", events[:50])
    start_upsert_stream(spark, str(in_dir), "orders", out)
    before = {r.order_id for r in read_state(spark, out, "orders").collect()}
    assert before

    # simulate the crash window: state renamed away, replacement never landed
    path = state_table_path(out, "orders")
    os.rename(path, f"{path}__old_99")
    assert not os.path.exists(path)

    _recover_state(path)
    assert os.path.exists(path)
    assert not os.path.exists(f"{path}__old_99")
    after = {r.order_id for r in read_state(spark, out, "orders").collect()}
    assert after == before

    # end-to-end: crash again, then let the NEXT drain recover implicitly
    os.rename(path, f"{path}__old_100")
    os.makedirs(f"{path}__tmp_100")  # stale incomplete write must be swept
    _dump(in_dir / "orders_b.jsonl", events[50:])
    start_upsert_stream(spark, str(in_dir), "orders", out)
    expected = FX.expected_live_rows(events, "orders")
    state = {r.order_id for r in read_state(spark, out, "orders").collect()}
    assert state == set(expected)
    assert not os.path.exists(f"{path}__tmp_100")
