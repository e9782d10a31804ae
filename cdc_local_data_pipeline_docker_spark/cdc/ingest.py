"""Batch CDC ingest job: the functional twin of kafka_to_s3_enhanced.py,
restructured as ONE lazy plan with ONE action per run.

Reference behavior being subsumed (SURVEY.md §3.3):
    read offset file → bounded Kafka scan → count (scan 1) → parse/project
    → count (scan 2) → agg(max offset) (scan 3) → coalesce(1) write (scan 4)
    → offset JSON write → show (scan 5)
Five source scans, a forced single output file, offset commit after the
write (duplicates on crash). Here:

  * offset-bounded resume (S2/S3): high-watermark filter pushed into the
    scan predicate; state JSON per table under <out>/_cdc_state/.
  * single action: the parquet write; counts/watermark come from the
    written metrics (observe API-style accumulator via count on the
    written rows would re-scan — instead the watermark aggregate rides the
    same plan via a post-write read of the tiny state candidates... no:
    it's computed driver-side from the one collected summary row).
  * natural partitioning: no coalesce(1) — writers emit one file per task,
    AQE-coalesced for small batches (vs enhanced.py:203).

Exactly-once remains impossible with a file-state batch job (documented,
SURVEY.md §4 item 3) — the streaming twin (streaming/ingest_stream.py)
gets it from the checkpoint; this batch form is idempotent-rerunnable
because the latest-state view dedups replays by (pk, offset).
"""

from __future__ import annotations

import functools
import json
import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from . import parse as P


def _state_path(out_dir: str, table: str) -> str:
    return os.path.join(out_dir, "_cdc_state", f"{table}.json")


def read_offset_state(out_dir: str, table: str) -> int | None:
    """Saved high-watermark, or None for a first run (→ earliest), mirroring
    enhanced.py:70-80."""
    try:
        with open(_state_path(out_dir, table)) as f:
            return int(json.load(f)["offset"])
    except (OSError, ValueError, KeyError):
        return None


def write_offset_state(out_dir: str, table: str, offset: int, n_rows: int) -> None:
    os.makedirs(os.path.dirname(_state_path(out_dir, table)), exist_ok=True)
    with open(_state_path(out_dir, table), "w") as f:
        json.dump({"offset": offset, "records_processed": n_rows}, f)


def ingest_table(
    spark: SparkSession,
    event_file: str,
    table: str,
    out_dir: str,
) -> dict:
    """One incremental sync run for one table-topic.

    Returns run metrics {table, n_rows, n_quarantined, high_watermark}.
    Re-running with no new events is a clean no-op (B.3.7).

    Metrics ride the write action via ``observe()`` (accumulator-backed):
    counts and the offset watermark cost ZERO extra scans — the previous
    round re-read the full output history per run, a per-run cost that
    grows with total history (the same flaw class as the reference's
    5-scans-per-run). The quarantine side-write reuses the cached
    increment and is skipped entirely when nothing is malformed, so the
    source is still scanned exactly once per run."""
    last = read_offset_state(out_dir, table)
    env = P.read_event_file(spark, event_file)
    if last is not None:
        # Offset-bounded scan (S2): with a Kafka source this is
        # startingOffsets; on the file fixture the filter prunes at scan.
        env = env.filter(F.col("offset") > last)

    parsed = P.parse_events(env, table)
    # offset-sorted within each output file: parquet row-group min/max
    # stats on kafka_offset then prune as-of / resume scans
    # (materialize_latest's `kafka_offset <= N` filter skips whole row
    # groups instead of reading all history)
    flat = P.project_changelog(parsed, table).sortWithinPartitions("kafka_offset")

    obs = Observation(f"ingest_{table}")
    flat = flat.observe(
        obs,
        F.sum((~F.col("is_malformed")).cast("long")).alias("n"),
        F.sum(F.col("is_malformed").cast("long")).alias("n_bad"),
        F.max("kafka_offset").alias("hw"),
    )
    # cache the increment: the quarantine side-write (if any) must not
    # trigger a second source scan
    flat = flat.persist()
    try:
        out_path = os.path.join(out_dir, f"{table}_parquet")
        flat.write.mode("append").parquet(out_path)  # the ONE source scan
        summary = obs.get  # filled by the write action; no extra job

        n_bad = summary["n_bad"] or 0
        if n_bad:
            # DLQ parity (U5): malformed rows ALSO land in a segregated
            # quarantine dir a monitoring system can watch (the reference
            # gives dead letters their own topic, kafka-topics.json:31-38).
            # Reads the cached increment — no source re-scan.
            _, bad = P.split_quarantine(flat)
            # Each replay of a malformed event appends another stamped
            # copy; quarantine_view folds copies into a per-event attempt
            # counter (the batch analogue of Debezium's retry-then-DLQ,
            # debezium-config.json:25-27 — replay IS the retry here).
            bad.withColumn(
                "quarantined_at", F.current_timestamp()
            ).write.mode("append").parquet(
                os.path.join(out_dir, f"{table}_quarantine")
            )
    finally:
        flat.unpersist()

    hw = summary["hw"] if summary["hw"] is not None else (last if last is not None else -1)
    n_rows = summary["n"] or 0
    write_offset_state(out_dir, table, hw, n_rows)
    return {
        "table": table,
        "n_rows": n_rows,
        "n_quarantined": n_bad,
        "high_watermark": hw,
    }


def quarantine_view(spark: SparkSession, out_dir: str, table: str) -> DataFrame:
    """Per-event DLQ state over the append-only quarantine log.

    Identity is (partition, kafka_offset) — the event's coordinates in
    the source topic. ``n_attempts`` counts how many ingest replays have
    re-quarantined the event; ``first_seen``/``last_seen`` bracket them.
    This completes U5 parity with the reference's retry-then-dead-letter
    flow (debezium-config.json:25-27; kafka-topics.json:31-38): an
    operator watches rows whose n_attempts keeps growing — those need a
    schema fix or manual redaction, exactly like a poisoned DLQ topic.
    One aggregation over a (tiny) malformed-only log; no state file."""
    q = spark.read.parquet(os.path.join(out_dir, f"{table}_quarantine"))
    return (
        q.groupBy("partition", "kafka_offset")
        .agg(
            F.count(F.lit(1)).alias("n_attempts"),
            F.min("quarantined_at").alias("first_seen"),
            F.max("quarantined_at").alias("last_seen"),
        )
        .orderBy("partition", "kafka_offset")
    )


@functools.cache
def _changelog_schema(table: str) -> StructType:
    """The schema the changelog writers produce for ``table``, so a read
    runs no footer-inference job. It depends only on the table's wire
    schema, and analyzing the parse plan costs about what the inference
    job did, so it is analyzed once per process (no job)."""
    empty = SparkSession.active().createDataFrame([], P.ENVELOPE_DDL)
    return P.project_changelog(P.parse_events(empty, table), table).schema


def materialize_latest(
    spark: SparkSession,
    out_dir: str,
    table: str,
    asof_offset: int | None = None,
) -> DataFrame:
    """Latest-state view over everything ingested so far for `table` —
    replay-safe: duplicate appends collapse because (pk, kafka_offset)
    ranks identically. With ``asof_offset`` the view is the point-in-time
    state after consuming offsets <= that watermark (time travel over the
    retained changelog; the offset filter prunes before the per-key
    window)."""
    from ..catalog import CDC_WIRE_SCHEMAS
    from .latest_state import latest_state  # local import, avoids cycle

    raw = spark.read.schema(_changelog_schema(table)).parquet(
        os.path.join(out_dir, f"{table}_parquet")
    )
    if asof_offset is not None:
        raw = raw.filter(F.col("kafka_offset") <= asof_offset)
    # Reconstruct the parsed shape from the changelog sink columns.
    wire = CDC_WIRE_SCHEMAS[table]
    parsed_like = raw.select(
        "pk",
        F.struct(*[F.col(f.name) for f in wire.fields]).alias("row"),
        "is_tombstone",
        "is_malformed",
        "partition",
        "kafka_offset",
    )
    return latest_state(parsed_like, table)
