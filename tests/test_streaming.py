"""Structured Streaming tests: batch-equivalence of the drained streaming
queries, watermark late-data drop, and checkpointed CDC ingest resume."""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

from cdc_local_data_pipeline_docker_spark.cdc import fixtures as FX
from cdc_local_data_pipeline_docker_spark.operators import events_analytics as EV
from cdc_local_data_pipeline_docker_spark.streaming import jobs as SJ
from cdc_local_data_pipeline_docker_spark.streaming.ingest_stream import (
    start_ingest_stream,
    start_multi_topic_ingest,
)


def test_stream_tumbling_equals_batch(spark, sf_dir):
    streamed = SJ.stream_tumbling_agg(spark, sf_dir).collect()
    batch = EV.events_tumbling_agg(spark, sf_dir).collect()
    s = {(r.hour_start, r.event_type): (r.n_events, r.total_value) for r in streamed}
    b = {(r.hour_start, r.event_type): (r.n_events, r.total_value) for r in batch}
    assert s == b


def test_stream_dedup_restores_original(spark, sf_dir):
    deduped = SJ.stream_dedup_events(spark, sf_dir)
    n = deduped.count()
    orig = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert n == orig
    assert deduped.select("event_id").distinct().count() == n


def test_watermark_drops_late_rows(spark, tmp_path):
    """Three micro-batches (maxFilesPerTrigger=1, lexicographic file order):
    b2 advances the watermark far past b0's window; b3 carries a too-late
    event for that window. Append-mode output must finalize b0's window
    WITHOUT the late row."""
    d = tmp_path / "stream_in"
    d.mkdir()

    import os as _os

    def write(name, rows, mtime):
        p = d / name
        with open(p, "w") as f:
            for ts, uid in rows:
                f.write(json.dumps({"ts": ts, "user_id": uid}) + "\n")
        # FileStreamSource orders by modification time — pin it explicitly
        _os.utime(p, (mtime, mtime))

    # Spark's watermark is a soft bound: a late row merging into STILL-LIVE
    # state is accepted; the hard drop applies once the window's state was
    # evicted. So: b1 advances the watermark, b2 triggers the eviction
    # (finalizing the 10:00 window), and only then is b3's straggler
    # guaranteed-dropped (verified via numRowsDroppedByWatermark).
    # window [10:00,11:00): two on-time events
    write("b0.json", [("2024-01-01T10:10:00", 1), ("2024-01-01T10:20:00", 2)], 1_000)
    # advances max event time to 20:00 → watermark 19:00 (1h delay)
    write("b1.json", [("2024-01-01T20:00:00", 3)], 2_000)
    # spacer batch: watermark 19:00 now in force → evicts + emits [10:00)
    write("b2.json", [("2024-01-01T20:30:00", 4)], 3_000)
    # straggler for the evicted 10:00 window → dropped
    write("b3.json", [("2024-01-01T10:30:00", 5), ("2024-01-01T21:00:00", 6)], 4_000)

    src = (
        spark.readStream.schema("ts TIMESTAMP, user_id LONG")
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    agg = (
        src.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("late_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("late_test").collect()
    out = {r["window"]["start"].isoformat(): r["n"] for r in rows}
    # the 10:00 window finalized with exactly its 2 on-time events...
    assert out.get("2024-01-01T10:00:00") == 2
    # ...emitted exactly once (no straggler resurrection)
    assert len(rows) == len(out)
    # and the straggler registered as a watermark drop
    total_dropped = sum(
        (p["stateOperators"][0]["numRowsDroppedByWatermark"])
        for p in q.recentProgress
        if p["stateOperators"]
    )
    assert total_dropped == 1


def test_stream_cdc_ingest_checkpoint_resume(spark, tmp_path):
    """Checkpointed ingest: run → add file → run → run again. Each drain
    processes only new files; replays add nothing; final changelog equals
    the full event list."""
    events = FX.generate_table_events("orders")
    in_dir = tmp_path / "in"
    out_dir = str(tmp_path / "wh")
    in_dir.mkdir()

    def dump(name, evs):
        with open(in_dir / name, "w") as f:
            for e in evs:
                f.write(json.dumps({k: v for k, v in e.items() if k != "_kind"}) + "\n")

    dump("orders_a.jsonl", events[:40])
    start_ingest_stream(spark, str(in_dir), "orders", out_dir)
    n1 = spark.read.parquet(f"{out_dir}/orders_parquet").count()
    assert n1 == 40

    dump("orders_b.jsonl", events[40:])
    start_ingest_stream(spark, str(in_dir), "orders", out_dir)
    n2 = spark.read.parquet(f"{out_dir}/orders_parquet").count()
    assert n2 == len(events)

    # third drain: nothing new → no growth (exactly-once via checkpoint)
    start_ingest_stream(spark, str(in_dir), "orders", out_dir)
    n3 = spark.read.parquet(f"{out_dir}/orders_parquet").count()
    assert n3 == len(events)

    # the changelog feeds the same latest-state materialization, and its
    # flagged malformed rows are the dead-letter view (the file sink
    # writes no separate quarantine directory)
    from cdc_local_data_pipeline_docker_spark.cdc.ingest import (
        materialize_latest,
        quarantine_view,
    )

    expected = FX.expected_live_rows(events, "orders")
    state = {r.order_id for r in materialize_latest(spark, out_dir, "orders").collect()}
    assert state == set(expected)
    qv = quarantine_view(spark, out_dir, "orders").collect()
    assert [(r.kafka_offset, r.n_attempts) for r in qv] == [
        (e["offset"], 1) for e in events if e["_kind"] == "malformed"
    ]


def test_multi_topic_single_query_fan_out(spark, tmp_path):
    """U7: ONE streaming query drains all 4 table-topics — one checkpoint
    directory tracks every topic's progress, each table's changelog and
    latest-state come out correct, and an incremental drain (new file for
    one topic) advances only that table without re-appending the rest."""
    import os

    from cdc_local_data_pipeline_docker_spark.cdc.ingest import materialize_latest

    in_dir = tmp_path / "in"
    out_dir = str(tmp_path / "wh")
    tables = ("orders", "customers", "products", "order_items")
    all_events = {t: FX.generate_table_events(t) for t in tables}

    def dump(name, evs):
        with open(in_dir / name, "w") as f:
            for e in evs:
                f.write(json.dumps({k: v for k, v in e.items() if k != "_kind"}) + "\n")

    in_dir.mkdir()
    for t in tables:
        dump(f"{t}.jsonl", all_events[t][:40])
    start_multi_topic_ingest(spark, str(in_dir), out_dir)

    # exactly ONE checkpoint for the whole fan-out
    cps = os.listdir(os.path.join(out_dir, "_checkpoints"))
    assert cps == ["_all_topics"], cps
    counts1 = {
        t: spark.read.parquet(f"{out_dir}/{t}_parquet").count() for t in tables
    }
    assert counts1 == {t: 40 for t in tables}, counts1

    # incremental drain: new events for ORDERS only
    dump("orders_b.jsonl", all_events["orders"][40:])
    start_multi_topic_ingest(spark, str(in_dir), out_dir)
    counts2 = {
        t: spark.read.parquet(f"{out_dir}/{t}_parquet").count() for t in tables
    }
    assert counts2["orders"] == len(all_events["orders"])
    assert all(counts2[t] == 40 for t in tables if t != "orders"), counts2

    # every table's latest-state equals the hand-replay oracle
    for t in tables:
        seen = all_events[t] if t == "orders" else all_events[t][:40]
        pk_col = FX.CDC_PRIMARY_KEYS[t]
        expected = set(FX.expected_live_rows(seen, t))
        state = {
            getattr(r, pk_col)
            for r in materialize_latest(spark, out_dir, t).collect()
        }
        assert state == expected, t


@pytest.mark.parametrize(
    "fn,sql_name",
    [
        ("stream_tumbling_agg", "STREAM_TUMBLING_AGG_SQL"),
        ("stream_session_agg", "STREAM_SESSION_AGG_SQL"),
        ("stream_dedup_events", "STREAM_DEDUP_EVENTS_SQL"),
    ],
)
def test_stream_oracle_parity(spark, sf_dir, fn, sql_name):
    from .oracle import compare, duckdb_connection

    con = duckdb_connection(sf_dir)
    try:
        df = getattr(SJ, fn)(spark, sf_dir)
        ok, msg = compare(df, con, getattr(SJ, sql_name))
        assert ok, f"{fn}: {msg}"
    finally:
        con.close()


def test_state_store_providers_agree(spark, sf_dir):
    """The stream-stream join (4 state stores/partition — the heaviest
    state path) must produce IDENTICAL rows under the HDFS-backed and
    RocksDB state store providers. RocksDB is the 100 TB-state backend
    (off-heap, bounded memory, changelog checkpoints); correctness must
    not depend on the provider choice."""
    from cdc_local_data_pipeline_docker_spark.streaming import jobs as SJ

    baseline = sorted(map(tuple, SJ.stream_stream_join(spark, sf_dir).collect()))
    assert SJ.STATE_STORE is None
    SJ.STATE_STORE = "rocksdb"
    try:
        rocks = sorted(map(tuple, SJ.stream_stream_join(spark, sf_dir).collect()))
    finally:
        SJ.STATE_STORE = None
    assert rocks == baseline and len(baseline) > 0
    # the provider override must not leak into the session
    assert (
        spark.conf.get("spark.sql.streaming.stateStore.providerClass", None) is None
    )


def test_statestore_reader_matches_batch_recompute(spark, sf_dir, tmp_path):
    """Spark 4 state-store observability (streaming/state_inspect): after
    draining a keyed streaming aggregation, reading the checkpoint's
    state files directly must reproduce the exact per-key totals a batch
    recompute gives — no query running, no input replay. Also pins
    batchId time travel (the retained snapshot of the same single-batch
    run) and that the reader is key-complete."""
    from cdc_local_data_pipeline_docker_spark.catalog import load_table
    from cdc_local_data_pipeline_docker_spark.streaming.jobs import (
        _events_stream,
    )
    from cdc_local_data_pipeline_docker_spark.streaming.state_inspect import (
        read_query_state,
    )

    ckpt = str(tmp_path / "ckpt")
    s = _events_stream(spark, sf_dir)
    agg = s.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("total"),
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("state_inspect_probe")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    state = {
        r["key"]["user_id"]: (r["value"]["count"], r["value"]["sum"])
        for r in read_query_state(spark, ckpt).collect()
    }
    want = {
        r["user_id"]: (r["n"], r["total"])
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("total"),
        )
        .collect()
    }
    assert state == want and len(state) > 0

    # batchId time travel: the single drained batch is snapshot 0
    state0 = {
        r["key"]["user_id"]: (r["value"]["count"], r["value"]["sum"])
        for r in read_query_state(spark, ckpt, batch_id=0).collect()
    }
    assert state0 == want
