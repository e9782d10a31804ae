"""Incrementally-maintained latest-state table via foreachBatch MERGE —
the streaming upsert apply (SURVEY.md §1.6 / §2.C "stateful dedup /
upsert apply" row).

`materialize_latest` recomputes current state from the FULL changelog —
correct, but O(history) per refresh. This maintainer keeps a compact
state table instead: each micro-batch merges only its delta

    new_state = latest-wins( current_state ∪ batch_changes )

so refresh cost tracks batch size, not history size. On plain parquet the
merge is union + window + atomic directory swap (write-new, rename); on a
table format with ACID MERGE (Delta/Iceberg) the same foreachBatch body
becomes a single MERGE INTO — the orchestration here is format-agnostic.

Exactly-once: the checkpoint defers source-offset commit until after the
batch function returns, and the swap is the last step inside it; a crash
mid-batch replays the batch against the previous state, and latest-wins
is idempotent under replay.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..catalog import CDC_WIRE_SCHEMAS
from ..cdc import parse as P
from ..cdc.ingest import _changelog_schema


def _state_columns(table: str) -> list[str]:
    wire = CDC_WIRE_SCHEMAS[table]
    return ["pk", *[f.name for f in wire.fields], "is_tombstone",
            "partition", "kafka_offset"]


def _state_schema(table: str) -> StructType:
    """The schema ``_merge_latest`` writes: the changelog delta's state
    columns. Reading the state table with it runs no footer-inference
    job."""
    changelog = _changelog_schema(table)
    return StructType([changelog[c] for c in _state_columns(table)])


def _merge_latest(state: DataFrame, delta: DataFrame, table: str) -> DataFrame:
    """latest-wins over (existing state ∪ new changes); state rows carry
    their original (partition, kafka_offset) so replayed deltas lose ties
    deterministically."""
    cols = _state_columns(table)
    both = state.select(cols).unionByName(delta.select(cols))
    w = Window.partitionBy("pk").orderBy(
        F.col("partition").desc(), F.col("kafka_offset").desc()
    )
    return (
        both.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        # tombstone winners stay in the state table as deletion markers so
        # later replays of older events still lose; readers filter them
    )


def state_table_path(out_dir: str, table: str) -> str:
    return os.path.join(out_dir, f"{table}_state")


def _swap(df: DataFrame, path: str, batch_id: int) -> None:
    """Write-new → rename swap; the ONE implementation of the
    crash-recovery naming contract ``_recover_state`` understands
    (``__tmp_<id>`` / ``__old_<id>``). Shared by the upsert, sketch, and
    incremental-view maintainers — a drifted copy here would silently
    break crash recovery for the others."""
    tmp, old = f"{path}__tmp_{batch_id}", f"{path}__old_{batch_id}"
    df.write.mode("overwrite").parquet(tmp)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def _recover_state(path: str) -> None:
    """Crash recovery for the two-rename swap in ``merge_batch``.

    A crash between ``os.rename(path, old)`` and ``os.rename(tmp, path)``
    leaves no live state dir — without recovery the next run would rebuild
    state from ONLY the replayed batch, silently discarding every
    previously merged key. On entry: if the state dir is missing but an
    ``__old_<n>`` snapshot exists, restore the newest snapshot; stale
    ``__tmp_*`` dirs (incomplete writes) and superseded ``__old_*`` dirs
    (crash after swap, before cleanup) are removed."""
    parent, name = os.path.split(path)
    if not os.path.isdir(parent):
        return
    olds = sorted(
        (e for e in os.listdir(parent) if e.startswith(f"{name}__old_")),
        key=lambda e: int(e.rsplit("_", 1)[-1]),
    )
    if not os.path.exists(path) and olds:
        os.rename(os.path.join(parent, olds[-1]), path)
        olds = olds[:-1]
    if os.path.exists(path):
        for e in olds:
            shutil.rmtree(os.path.join(parent, e), ignore_errors=True)
    for e in os.listdir(parent):
        if e.startswith(f"{name}__tmp_"):
            shutil.rmtree(os.path.join(parent, e), ignore_errors=True)


def read_state(spark: SparkSession, out_dir: str, table: str) -> DataFrame:
    """Live rows of the maintained state table (tombstone markers hidden)."""
    wire = CDC_WIRE_SCHEMAS[table]
    return (
        spark.read.schema(_state_schema(table))
        .parquet(state_table_path(out_dir, table))
        .filter(~F.col("is_tombstone"))
        .select("pk", *[f.name for f in wire.fields], "kafka_offset")
    )


def start_upsert_stream(
    spark: SparkSession,
    event_dir: str,
    table: str,
    out_dir: str,
):
    """Drain available change events, maintaining <out>/<table>_state
    incrementally (one merge per micro-batch, atomic swap)."""
    path = state_table_path(out_dir, table)
    _recover_state(path)  # a crashed previous run may have left no live dir

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        _recover_state(path)  # restore the snapshot if a swap was cut short
        sess = batch_df.sparkSession
        delta = P.project_changelog(
            P.parse_events(batch_df, table), table
        ).filter(~F.col("is_malformed"))
        if os.path.exists(path):
            state = sess.read.schema(_state_schema(table)).parquet(path)
        else:
            state = sess.createDataFrame([], delta.schema)
        merged = _merge_latest(state, delta, table)
        # atomic-ish swap: the state dir is replaced wholesale; a crash
        # before the rename leaves the old state intact and the batch
        # replays (idempotent merge)
        _swap(merged, path, batch_id)

    env = (
        spark.readStream.schema(P.ENVELOPE_DDL)
        .json(os.path.join(event_dir, f"{table}*.jsonl"))
    )
    q = (
        env.writeStream.foreachBatch(merge_batch)
        .option(
            "checkpointLocation",
            os.path.join(out_dir, "_checkpoints_upsert", table),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
