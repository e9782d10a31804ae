"""CDC ingest-path tests on the deterministic fixtures (FIXTURES.md §B.3):
snapshot+insert+update parse, type recovery, tombstone handling, quarantine,
latest-state correctness vs a hand-replayed oracle, offset resume, empty
increment, and replay idempotence."""

from __future__ import annotations

import decimal
import json

import pytest
from pyspark.sql import functions as F

from cdc_local_data_pipeline_docker_spark.catalog import (
    CDC_DECIMAL_COLUMNS,
    CDC_DECIMAL_TYPE,
    CDC_EPOCH_MICROS_COLUMNS,
    CDC_PRIMARY_KEYS,
    CDC_WIRE_SCHEMAS,
)
from cdc_local_data_pipeline_docker_spark.cdc import fixtures as FX
from cdc_local_data_pipeline_docker_spark.cdc import ingest as ING
from cdc_local_data_pipeline_docker_spark.cdc import latest_state as LS
from cdc_local_data_pipeline_docker_spark.cdc import parse as P


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("cdc_fixtures")
    FX.write_fixtures(str(d))
    return str(d)


@pytest.fixture(scope="module")
def parsed_orders(spark, fixture_dir):
    env = P.read_event_file(spark, f"{fixture_dir}/orders.jsonl")
    return P.parse_events(env, "orders")


def _ref_parse_events(df, table):
    """Reference parse: the Column-API form ``parse.parse_events`` had
    before it became two SQL projections with one ``from_json``."""
    wire = CDC_WIRE_SCHEMAS[table]
    pk = CDC_PRIMARY_KEYS[table]
    malformed = F.col("value").isNotNull() & F.from_json("value", wire).getField(
        pk
    ).isNull()
    parsed = df.select(
        F.get_json_object("key", f"$.{pk}").cast("int").alias("pk"),
        F.from_json("value", wire).alias("data"),
        F.col("value").isNull().alias("is_tombstone"),
        malformed.alias("is_malformed"),
        F.when(malformed, F.col("value")).alias("raw_value"),
        F.col("topic"),
        F.col("partition"),
        F.col("offset").alias("kafka_offset"),
        F.timestamp_millis(F.col("timestamp")).alias("kafka_timestamp"),
    )
    fields = []
    for f in wire.fields:
        src = F.col(f"data.{f.name}")
        if f.name in CDC_DECIMAL_COLUMNS[table]:
            fields.append(src.cast(CDC_DECIMAL_TYPE).alias(f.name))
        elif f.name in CDC_EPOCH_MICROS_COLUMNS[table]:
            fields.append(
                F.expr(
                    f"cast(timestamp_micros(data.{f.name}) as timestamp_ntz)"
                ).alias(f.name)
            )
        else:
            fields.append(src.alias(f.name))
    return parsed.select(
        "pk", F.struct(*fields).alias("row"), "is_tombstone", "is_malformed",
        "raw_value", "topic", "partition", "kafka_offset", "kafka_timestamp",
    )


def _ref_project_changelog(parsed, table):
    wire = CDC_WIRE_SCHEMAS[table]
    return parsed.select(
        "pk", *[F.col(f"row.{f.name}").alias(f.name) for f in wire.fields],
        "is_tombstone", "is_malformed", "raw_value", "kafka_timestamp",
        "topic", "partition", "kafka_offset",
    )


def _assert_parse_parity(env, table):
    """``parse_events`` and ``project_changelog`` give the reference's
    schemas (nullability included) and rows, with one ``from_json``."""
    parsed = P.parse_events(env, table)
    analyzed = parsed._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("from_json(") == 1, analyzed
    ref = _ref_parse_events(env, table)
    for got, want in (
        (parsed, ref),
        (P.project_changelog(parsed, table), _ref_project_changelog(ref, table)),
    ):
        assert got.schema == want.schema
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0


def test_fixture_generator_deterministic(tmp_path):
    a = FX.generate_table_events("orders")
    b = FX.generate_table_events("orders")
    assert a == b
    assert [e["offset"] for e in a] == list(range(len(a)))


def test_parse_counts_and_flags(spark, fixture_dir, parsed_orders):
    events = FX.generate_table_events("orders")
    rows = parsed_orders.collect()
    assert len(rows) == len(events)
    by_kind: dict[str, int] = {}
    for e in events:
        by_kind[e["_kind"]] = by_kind.get(e["_kind"], 0) + 1
    assert sum(r.is_tombstone for r in rows) == by_kind["tombstone"]
    assert sum(r.is_malformed for r in rows) == by_kind["malformed"]


def test_type_recovery_exact_decimal_and_timestamp(parsed_orders):
    """DECIMAL(10,2)-as-string and epoch-µs recovery (SURVEY.md §1.3)."""
    row = parsed_orders.filter("pk = 1 AND NOT is_tombstone").orderBy(
        "kafka_offset"
    ).first()
    assert isinstance(row.row.total_amount, decimal.Decimal)
    assert row.row.total_amount == decimal.Decimal("1299.99")
    assert row.row.order_date.isoformat() == "2023-11-14T22:13:20"  # BASE_DATE_US


def test_unknown_json_fields_ignored(spark, tmp_path):
    """B.1 note: from_json must ignore extra keys (created_at/updated_at)."""
    path = tmp_path / "extra.jsonl"
    value = json.dumps(
        {"customer_id": 7, "email": "x@y.z", "first_name": "X",
         "last_name": "Y", "phone": "1", "created_at": "2024-01-01T00:00:00Z"}
    )
    path.write_text(
        json.dumps({"key": json.dumps({"customer_id": 7}), "value": value,
                    "topic": "t", "partition": 0, "offset": 0,
                    "timestamp": 0}) + "\n"
    )
    env = P.read_event_file(spark, str(path))
    _assert_parse_parity(env, "customers")
    r = P.parse_events(env, "customers").first()
    assert not r.is_malformed
    assert r.row.email == "x@y.z"


def test_quarantine_split(spark, parsed_orders):
    good, bad = P.split_quarantine(parsed_orders)
    assert bad.count() == 3  # n_malformed default
    assert good.filter("is_malformed").count() == 0
    # quarantined rows keep their envelope for replay
    assert bad.filter("kafka_offset IS NOT NULL").count() == 3


@pytest.mark.parametrize("table", list(CDC_PRIMARY_KEYS))
def test_latest_state_matches_replay_oracle(spark, fixture_dir, table):
    """Latest-wins + delete application vs the hand-replayed event list;
    the parse matches the Column-API reference on every topic."""
    events = FX.generate_table_events(table)
    expected = FX.expected_live_rows(events, table)
    env = P.read_event_file(spark, f"{fixture_dir}/{table}.jsonl")
    _assert_parse_parity(env, table)
    state = LS.latest_state(P.parse_events(env, table), table)
    rows = {getattr(r, CDC_PRIMARY_KEYS[table]): r for r in state.collect()}
    assert set(rows) == set(expected)
    # spot-check a few scalar fields against the replay
    for k, exp in list(expected.items())[:10]:
        got = rows[k]
        for field, v in exp.items():
            g = getattr(got, field)
            if isinstance(g, decimal.Decimal):
                assert g == decimal.Decimal(v)
            elif hasattr(g, "isoformat"):
                continue  # timestamps checked in test_type_recovery
            else:
                assert g == v, f"{table}.{field} for pk={k}"


def test_state_counts(parsed_orders):
    s = LS.state_counts(parsed_orders).collect()[0]
    events = FX.generate_table_events("orders")
    assert s.n_events == len(events)
    assert s.high_watermark == len(events) - 1
    assert s.n_tombstones == 5
    assert s.n_malformed == 3


def test_ingest_resume_and_noop(spark, tmp_path, parsed_orders):
    """B.3.6/B.3.7: second run processes only new offsets; third run with
    nothing new is a clean no-op; latest state survives replays."""
    fdir = tmp_path / "events"
    odir = str(tmp_path / "warehouse")
    # run 1: first 30 events only
    all_events = FX.generate_table_events("orders")
    p1 = fdir / "orders_run1.jsonl"
    fdir.mkdir()
    with open(p1, "w") as f:
        for e in all_events[:30]:
            f.write(json.dumps({k: v for k, v in e.items() if k != "_kind"}) + "\n")
    m1 = ING.ingest_table(spark, str(p1), "orders", odir)
    assert m1["high_watermark"] == 29

    # run 2: full file — must only process offsets > 29
    p2 = fdir / "orders_full.jsonl"
    with open(p2, "w") as f:
        for e in all_events:
            f.write(json.dumps({k: v for k, v in e.items() if k != "_kind"}) + "\n")
    m2 = ING.ingest_table(spark, str(p2), "orders", odir)
    assert m2["high_watermark"] == len(all_events) - 1
    total_written = m1["n_rows"] + m2["n_rows"]

    # run 3: same file again — no offsets beyond the watermark → no-op
    m3 = ING.ingest_table(spark, str(p2), "orders", odir)
    assert m3["n_rows"] == 0
    assert m3["high_watermark"] == m2["high_watermark"]

    # no duplicates across the two real runs (changelog = data + flagged DLQ)
    import os

    total_quarantined = m1["n_quarantined"] + m2["n_quarantined"]
    raw = spark.read.parquet(os.path.join(odir, "orders_parquet"))
    assert raw.count() == total_written + total_quarantined
    assert (
        raw.select("kafka_offset").distinct().count()
        == total_written + total_quarantined
    )
    assert raw.filter("is_malformed AND raw_value IS NULL").count() == 0

    # the changelog reads with the schema its writers produce (the one
    # inference finds in the files): building the latest-state frame
    # starts no Spark job
    from .test_tablelog_scan_jobs import _built_without_jobs

    assert raw.dtypes == P.project_changelog(parsed_orders, "orders").dtypes
    latest = _built_without_jobs(
        spark, lambda: ING.materialize_latest(spark, odir, "orders")
    )

    # latest state over the sink equals the replay oracle
    expected = FX.expected_live_rows(all_events, "orders")
    state = {r.order_id: r for r in latest.collect()}
    assert set(state) == set(expected)
    for k in expected:
        assert str(state[k].total_amount) == expected[k]["total_amount"]


def test_reference_parity_projection(spark, fixture_dir):
    """project_flat reproduces the reference's sink columns
    (enhanced.py:167-190): row fields + kafka_timestamp/topic/kafka_offset,
    tombstones absent."""
    env = P.read_event_file(spark, f"{fixture_dir}/orders.jsonl")
    flat = P.project_flat(P.parse_events(env, "orders"), "orders")
    assert flat.columns == [
        "order_id", "customer_id", "order_date", "status", "total_amount",
        "shipping_address", "kafka_timestamp", "topic", "kafka_offset",
    ]
    assert flat.filter("order_id IS NULL").count() == 0


def _dump_events(path, events):
    with open(path, "w") as f:
        for e in events:
            f.write(json.dumps({k: v for k, v in e.items() if k != "_kind"}) + "\n")


def test_ingest_is_one_job_and_changelog_keeps_dead_letters(spark, tmp_path):
    """An increment carrying malformed events is one changelog write:
    one Spark job, no separate quarantine directory. quarantine_view
    reads the dead letters from the changelog, and a table that never
    received a malformed event has none."""
    import os

    from .test_tablelog_scan_jobs import _jobs_of

    events = FX.generate_table_events("orders")
    assert all(e["_kind"] != "malformed" for e in events[:30])
    odir = str(tmp_path / "wh")
    _dump_events(tmp_path / "run1.jsonl", events[:30])
    ING.ingest_table(spark, str(tmp_path / "run1.jsonl"), "orders", odir)
    assert ING.quarantine_view(spark, odir, "orders").collect() == []

    _dump_events(tmp_path / "full.jsonl", events)
    m, jobs = _jobs_of(
        spark,
        lambda: ING.ingest_table(spark, str(tmp_path / "full.jsonl"), "orders", odir),
    )
    n_bad = sum(1 for e in events if e["_kind"] == "malformed")
    assert m["n_quarantined"] == n_bad > 0
    assert len(jobs) == 1
    assert not os.path.exists(os.path.join(odir, "orders_quarantine"))
    qv = ING.quarantine_view(spark, odir, "orders").collect()
    assert [r.kafka_offset for r in qv] == [
        e["offset"] for e in events if e["_kind"] == "malformed"
    ]
    assert all(r.n_attempts == 1 for r in qv)


def test_ingest_no_history_scan_and_quarantine_sink(spark, tmp_path):
    """Round-2 fixes: (a) run metrics ride the write action via observe()
    — proven by DELETING the written history between runs: if bookkeeping
    re-scanned the output dir the second run would crash or miscount;
    (b) malformed rows stay in the changelog, flagged with their raw
    payload (DLQ parity, U5): quarantine_view finds exactly them, and
    they are excluded from latest-state."""
    import os
    import shutil

    events = FX.generate_table_events("orders")
    fdir = tmp_path / "events"
    odir = str(tmp_path / "wh")
    fdir.mkdir()

    p1 = fdir / "run1.jsonl"
    _dump_events(p1, events[:30])
    m1 = ING.ingest_table(spark, str(p1), "orders", odir)
    assert m1["high_watermark"] == 29

    # nuke the changelog history (keep only _cdc_state): metrics for the
    # next increment must not depend on reading what was written before
    shutil.rmtree(os.path.join(odir, "orders_parquet"))

    p2 = fdir / "full.jsonl"
    _dump_events(p2, events)
    m2 = ING.ingest_table(spark, str(p2), "orders", odir)
    inc = events[30:]
    bad_offsets = {e["offset"] for e in inc if e["_kind"] == "malformed"}
    n_bad = len(bad_offsets)
    assert n_bad  # the fixture's malformed events sit past offset 30
    assert m2["high_watermark"] == len(events) - 1
    assert m2["n_rows"] == len(inc) - n_bad
    assert m2["n_quarantined"] == n_bad

    # dead letters: exactly the malformed increment rows, payload kept
    qv = ING.quarantine_view(spark, odir, "orders").collect()
    assert {r.kafka_offset for r in qv} == bad_offsets
    bad = (
        spark.read.schema(ING._changelog_schema("orders"))
        .parquet(os.path.join(odir, "orders_parquet"))
        .filter("is_malformed")
    )
    assert bad.count() == n_bad
    assert bad.filter("raw_value IS NULL").count() == 0
    # quarantined rows never surface in latest-state
    state = ING.materialize_latest(spark, odir, "orders").collect()
    assert not {r.last_offset for r in state} & bad_offsets


def test_quarantine_replay_accumulates_attempts(spark, tmp_path):
    """U5 retry parity: replaying the same malformed events 3x (offset
    state reset between runs, as a source resend would) appends 3 stamped
    copies per event; quarantine_view folds them to n_attempts=3 with
    first_seen <= last_seen, and the poisoned rows stay out of
    latest-state."""
    import os

    events = FX.generate_table_events("orders")
    n_bad = sum(1 for e in events if e["_kind"] == "malformed")
    assert n_bad > 0
    p = tmp_path / "events.jsonl"
    with open(p, "w") as f:
        for e in events:
            f.write(json.dumps({k: v for k, v in e.items() if k != "_kind"}) + "\n")
    odir = str(tmp_path / "wh")

    for _ in range(3):
        ING.ingest_table(spark, str(p), "orders", odir)
        # reset the watermark: the next run re-consumes from earliest,
        # replaying every event (including the malformed ones)
        os.remove(os.path.join(odir, "_cdc_state", "orders.json"))

    qv = ING.quarantine_view(spark, odir, "orders").collect()
    assert len(qv) == n_bad
    for r in qv:
        assert r.n_attempts == 3, r
        assert r.first_seen <= r.last_seen
    # replayed malformed rows never surface in latest-state
    state_ids = {
        r.order_id for r in ING.materialize_latest(spark, odir, "orders").collect()
    }
    assert None not in state_ids


def test_state_asof_offset_is_point_in_time(spark, fixture_dir):
    """state_as_of(offset) must equal replaying only the prefix — and must
    DIFFER from the final state (the probe offset sits before later
    updates/tombstones), proving the time-travel query is not a no-op."""
    from cdc_local_data_pipeline_docker_spark.cdc.latest_state import state_as_of
    from cdc_local_data_pipeline_docker_spark.cdc.queries import ASOF_PROBE_OFFSET

    env = P.read_event_file(spark, f"{fixture_dir}/orders.jsonl")
    parsed = P.parse_events(env, "orders")
    asof = {
        r.order_id: (r.status, str(r.total_amount), r.last_offset)
        for r in state_as_of(parsed, "orders", ASOF_PROBE_OFFSET).collect()
    }
    final = {
        r.order_id: (r.status, str(r.total_amount), r.last_offset)
        for r in LS.latest_state(parsed, "orders").collect()
    }
    # prefix replay oracle
    events = FX.generate_table_events("orders")
    expected = FX.expected_live_rows(
        [e for e in events if e["offset"] <= ASOF_PROBE_OFFSET], "orders"
    )
    assert set(asof) == set(expected)
    for k in expected:
        assert asof[k][1] == expected[k]["total_amount"]
    assert asof != final, "probe offset must predate later changes"
    assert all(off <= ASOF_PROBE_OFFSET for (_, _, off) in asof.values())


def test_changelog_files_sorted_by_offset(spark, tmp_path):
    """Each written changelog file is offset-sorted so parquet row-group
    min/max stats on kafka_offset prune as-of / resume scans instead of
    reading all history."""
    fdir = tmp_path / "events"
    fdir.mkdir()
    odir = str(tmp_path / "warehouse")
    all_events = FX.generate_table_events("orders")
    p = fdir / "orders.jsonl"
    with open(p, "w") as f:
        for e in all_events:
            f.write(json.dumps({k: v for k, v in e.items() if k != "_kind"}) + "\n")
    ING.ingest_table(spark, str(p), "orders", odir)

    import pyspark.sql.functions as F

    per_file = (
        spark.read.parquet(f"{odir}/orders_parquet")
        .select("kafka_offset", F.input_file_name().alias("fname"))
        .withColumn(
            "prev",
            F.lag("kafka_offset").over(
                __import__(
                    "pyspark.sql.window", fromlist=["Window"]
                ).Window.partitionBy("fname").orderBy(F.monotonically_increasing_id())
            ),
        )
    )
    # within every file, offsets must be non-decreasing in stored order
    bad = per_file.filter(F.col("prev").isNotNull() & (F.col("kafka_offset") < F.col("prev")))
    assert bad.count() == 0


def test_scd2_current_equals_latest_state(spark, fixture_dir):
    """The SCD2 history's current versions must agree exactly with
    latest_state (same keys, same attribute values), and intervals must
    tile each key's offset timeline without overlap."""
    from cdc_local_data_pipeline_docker_spark.cdc.scd import scd2_history

    env = P.read_event_file(spark, f"{fixture_dir}/orders.jsonl")
    parsed = P.parse_events(env, "orders")
    hist = scd2_history(parsed).collect()
    live = {
        r.order_id: (r.status, str(r.total_amount))
        for r in LS.latest_state(parsed, "orders").collect()
    }
    current = {
        r.pk: (r.row.status, str(r.row.total_amount))
        for r in hist
        if r.is_current
    }
    assert current == live

    by_pk: dict = {}
    for r in hist:
        by_pk.setdefault(r.pk, []).append(r)
    for pk, versions in by_pk.items():
        versions.sort(key=lambda r: r.valid_from_offset)
        for a, b in zip(versions, versions[1:]):
            assert a.valid_to_offset is not None
            assert a.valid_to_offset < b.valid_from_offset
        assert sum(1 for r in versions if r.is_current) <= 1


def test_consistent_cut_excludes_tail_events_and_uses_min_watermark(spark):
    """The watermark is min over topics of max(broker ts), and at least
    one topic has events AFTER it (otherwise the cut is vacuous and the
    test data proves nothing)."""
    import json

    from cdc_local_data_pipeline_docker_spark.cdc import queries as Q

    d = Q.ensure_fixtures()
    totals, maxes = {}, {}
    for t in ("customers", "order_items", "orders", "products"):
        ts = [
            json.loads(line)["timestamp"]
            for line in open(f"{d}/{t}.jsonl", encoding="utf-8")
        ]
        totals[t], maxes[t] = len(ts), max(ts)
    expected_cut = min(maxes.values())

    rows = {r.table_topic: r for r in Q.cdc_consistent_cut_state(spark, "").collect()}
    assert set(rows) == set(totals)
    for t, r in rows.items():
        assert r.cut_ts_ms == expected_cut
        assert r.n_live <= r.n_events_applied <= totals[t]
    # non-vacuous: some topic really is truncated by the cut
    truncating = [
        t for t, r in rows.items()
        # applied counts non-malformed only; strictly-after events exist
        if maxes[t] > expected_cut
    ]
    assert truncating, "no topic extends past the watermark"


def test_changelog_compact_replays_to_latest_state(spark):
    """The compaction contract: applying the compacted changelog to an
    empty state (upserts become rows, delete markers remove keys) must
    reproduce latest_state exactly — and the markers are non-vacuous
    (the fixture contains real deletes). Fold provenance must cover the
    whole log: sum(n_events_folded) = non-malformed event count."""
    from cdc_local_data_pipeline_docker_spark.cdc import queries as Q

    compacted = Q.cdc_changelog_compact(spark, "").collect()
    live = {
        r.pk: r for r in compacted if r.net_op == "upsert"
    }
    deletes = [r for r in compacted if r.net_op == "delete"]
    assert deletes, "fixture should produce delete markers"
    for r in deletes:
        assert r.customer_id is None and r.status is None

    state = {
        r.order_id: r for r in Q.cdc_latest_state_orders(spark, "").collect()
    }
    assert set(live) == set(state)
    for pk, r in live.items():
        s = state[pk]
        assert (r.customer_id, r.status) == (s.customer_id, s.status)
        assert r.total_amount == s.total_amount
        assert r.last_offset == s.last_offset

    import json as _json

    n_good = 0
    d = Q.ensure_fixtures()
    for line in open(f"{d}/orders.jsonl", encoding="utf-8"):
        rec = _json.loads(line)
        v = rec["value"]
        if v is None:  # tombstone: a real event, not malformed
            n_good += 1
        else:
            try:
                if "order_id" in _json.loads(v):
                    n_good += 1
            except ValueError:
                pass  # malformed JSON — quarantined by the parser
    assert sum(r.n_events_folded for r in compacted) == n_good


def test_temporal_join_matches_at_most_one_version_and_is_nonvacuous(spark):
    """Disjoint validity intervals => every item event matches at most
    one order version (row count == item-event count), and the fixture
    exercises BOTH join sides: enriched rows and temporal orphans
    (items preceding their order's first version or referencing a
    deleted order)."""
    from cdc_local_data_pipeline_docker_spark.cdc import scd as SCD

    rows = SCD.cdc_temporal_join_items_orders(spark, "").collect()
    assert len(rows) == len({r.item_offset for r in rows}), (
        "an item event matched more than one order version"
    )
    enriched = [r for r in rows if r.order_status is not None]
    orphans = [r for r in rows if r.order_status is None]
    assert enriched and orphans, (
        f"join not exercised on both sides: {len(enriched)} enriched, "
        f"{len(orphans)} orphans"
    )
    for r in enriched:
        assert r.order_valid_from_ms <= r.item_ts_ms


def test_snapshot_chunk_merge_equals_latest_state_with_live_provenance(spark):
    """The DBLog theorem on the fixture log: chunked-snapshot + changelog
    merge reproduces latest_state exactly on the shared columns, and the
    provenance is non-vacuous — both 'snapshot' and 'log' winners occur,
    and src='log' holds exactly when the key's last change is past its
    chunk's watermark."""
    from cdc_local_data_pipeline_docker_spark.cdc import queries as Q

    merged = Q.cdc_snapshot_chunk_merge(spark, "").collect()
    state = {
        r.order_id: r for r in Q.cdc_latest_state_orders(spark, "").collect()
    }
    assert {r.order_id for r in merged} == set(state)
    for r in merged:
        s = state[r.order_id]
        assert (r.customer_id, r.status) == (s.customer_id, s.status)
        assert r.total_amount == s.total_amount
        assert r.last_offset == s.last_offset
        assert r.src == ("log" if r.last_offset > r.watermark_offset
                         else "snapshot")
    srcs = {r.src for r in merged}
    assert srcs == {"log", "snapshot"}, f"degenerate chunk spec: {srcs}"
    # the chunk spec really partitions the key space into multiple chunks
    assert len({r.chunk_id for r in merged}) >= 3


def test_checksum_ranges_name_exactly_the_changed_ranges(spark):
    """The range-checksum report and a row-level state diff must agree:
    a range appears iff some key in it changed image, appeared, or
    disappeared between the two snapshots."""
    import os

    from pyspark.sql import functions as F

    from cdc_local_data_pipeline_docker_spark.cdc import parse as P
    from cdc_local_data_pipeline_docker_spark.cdc.latest_state import (
        latest_state,
        state_as_of,
    )
    from cdc_local_data_pipeline_docker_spark.cdc.queries import (
        ASOF_PROBE_OFFSET,
        RECON_RANGE_SIZE,
        cdc_state_checksum_ranges,
        ensure_fixtures,
    )

    d = ensure_fixtures()
    env = P.read_event_file(spark, os.path.join(d, "orders.jsonl"))
    parsed = P.parse_events(env, "orders")
    cols = ["order_id", "customer_id", "status", "shipping_address",
            "last_offset"]
    a = {r["order_id"]: tuple(r[c] for c in cols)
         for r in state_as_of(parsed, "orders", ASOF_PROBE_OFFSET).collect()}
    b = {r["order_id"]: tuple(r[c] for c in cols)
         for r in latest_state(parsed, "orders").collect()}
    changed_keys = {k for k in set(a) | set(b) if a.get(k) != b.get(k)}
    want_ranges = {k - k % RECON_RANGE_SIZE for k in changed_keys}
    got = cdc_state_checksum_ranges(spark, "unused").collect()
    assert {r["range_start"] for r in got} == want_ranges and want_ranges
    # counts per side are exact range cardinalities
    for r in got:
        lo = r["range_start"]
        assert r["n_a"] == sum(1 for k in a if k - k % RECON_RANGE_SIZE == lo)
        assert r["n_b"] == sum(1 for k in b if k - k % RECON_RANGE_SIZE == lo)
