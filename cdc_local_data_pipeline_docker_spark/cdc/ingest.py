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
  * single action: one changelog write, one Spark job. Row counts and
    the offset watermark come from an ``Observation`` on that write, and
    malformed events stay in the changelog (flagged, raw payload kept) as
    the dead-letter record, so nothing is cached or written a second time.
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

    The run is one changelog append and nothing else: one source scan,
    one Spark job. Counts and the offset watermark ride that write via
    ``observe()`` (accumulator-backed), so they cost no extra scan and
    never re-read the output history (the flaw class of the reference's
    5-scans-per-run). Malformed events are written with the rest,
    flagged ``is_malformed`` with their raw payload; ``quarantine_view``
    is the dead-letter view over them."""
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
    flat.observe(
        obs,
        F.sum((~F.col("is_malformed")).cast("long")).alias("n"),
        F.sum(F.col("is_malformed").cast("long")).alias("n_bad"),
        F.max("kafka_offset").alias("hw"),
    ).write.mode("append").parquet(os.path.join(out_dir, f"{table}_parquet"))
    summary = obs.get  # filled by the write action; no extra job

    hw = summary["hw"] if summary["hw"] is not None else (last if last is not None else -1)
    n_rows = summary["n"] or 0
    write_offset_state(out_dir, table, hw, n_rows)
    return {
        "table": table,
        "n_rows": n_rows,
        "n_quarantined": summary["n_bad"] or 0,
        "high_watermark": hw,
    }


def quarantine_view(spark: SparkSession, out_dir: str, table: str) -> DataFrame:
    """Per-event dead-letter state over the changelog's malformed rows.

    Identity is (partition, kafka_offset) — the event's coordinates in
    the source topic. ``n_attempts`` counts how many ingest replays have
    written the event again; ``first_seen``/``last_seen`` are the
    earliest and latest modification times of the changelog files that
    hold a copy, i.e. when each copy landed. This completes U5 parity
    with the reference's retry-then-dead-letter flow
    (debezium-config.json:25-27; kafka-topics.json:31-38): an operator
    watches rows whose n_attempts keeps growing — those need a schema
    fix or manual redaction, exactly like a poisoned DLQ topic.

    Works on the changelog of either ingest path (batch ``ingest_table``
    or the streaming file sink) and yields no rows when nothing was
    malformed. Caveat: ``cdc.compact.compact_changelog`` rewrites the
    files, so after a compaction both times read the compaction time;
    ``n_attempts`` and the kept payloads are unchanged by it."""
    landed = F.col("_metadata.file_modification_time")
    return (
        spark.read.schema(_changelog_schema(table))
        .parquet(os.path.join(out_dir, f"{table}_parquet"))
        .filter(F.col("is_malformed"))
        .select("partition", "kafka_offset", landed.alias("landed_at"))
        .groupBy("partition", "kafka_offset")
        .agg(
            F.count(F.lit(1)).alias("n_attempts"),
            F.min("landed_at").alias("first_seen"),
            F.max("landed_at").alias("last_seen"),
        )
        .orderBy("partition", "kafka_offset")
    )


@functools.cache
def _changelog_schema(table: str) -> StructType:
    """The schema the changelog writers produce for ``table``, so a read
    runs no footer-inference job. It depends only on the table's wire
    schema, so the parse plan is analyzed once per process (no job)."""
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
