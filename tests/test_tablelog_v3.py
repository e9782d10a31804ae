"""Round-9 third-wave tablelog features: the Change Data Feed read
path (batch + streaming, every commit class expressible), zero-copy
shallow CLONE, CHECK constraints on every write path, and REORG
APPLY (PURGE) deletion-vector materialization."""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from cdc_local_data_pipeline_docker_spark.sources import tablelog as TL
from cdc_local_data_pipeline_docker_spark.sources import tablelog_source as TS

SF = "/root/testdata/sf0.001"
COLS = ["o_orderkey", "o_orderstatus", "o_totalprice"]


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="tablelog_v3_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _orders(spark):
    return spark.read.parquet(os.path.join(SF, "orders.parquet")).select(
        *COLS
    )


def _cdf_batch(spark, root, **opts):
    r = (
        spark.read.format("tablelog")
        .option("path", root)
        .option("readChangeFeed", "true")
    )
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def _fold(cdf):
    """Signed-multiset fold of a change feed back to a snapshot."""
    return (
        cdf.groupBy(*COLS)
        .agg(
            F.sum(
                F.when(
                    F.col("_change_type").isin("insert", "update_postimage"),
                    1,
                ).otherwise(-1)
            ).alias("_net")
        )
        .filter("_net = 1")
        .select(*COLS)
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# ---------------------------------------------------------------------------
# Change Data Feed
# ---------------------------------------------------------------------------

def test_cdf_batch_fold_reconstructs_snapshot(spark, root):
    """Append + CoW delete + MoR delete + compact: the folded feed must
    equal the final snapshot row-for-row, and the compaction must
    stream nothing."""
    TS.register(spark)
    o = _orders(spark)
    TL.log_append(spark, root, o.filter("o_orderkey % 2 = 0"))
    TL.log_append(spark, root, o.filter("o_orderkey % 2 = 1"))
    TL.log_delete_where(spark, root, "o_orderstatus = 'F'")
    TL.log_delete_where_mor(spark, root, "o_orderkey % 5 = 0")
    TL.log_compact(spark, root, target_files=2)
    cdf = _cdf_batch(spark, root)
    assert _rows(_fold(cdf)) == _rows(TL.log_read(spark, root).select(*COLS))
    # the compaction (v4) emits nothing
    assert cdf.filter("_commit_version = 4").count() == 0
    # MoR commit emits ONLY the newly-dead rows as deletes
    v3 = cdf.filter("_commit_version = 3")
    assert v3.filter("_change_type = 'insert'").count() == 0
    expect_dead = o.filter(
        "o_orderstatus <> 'F' AND o_orderkey % 5 = 0"
    ).count()
    assert v3.count() == expect_dead
    # commit timestamps are present and non-decreasing across versions
    ts = [
        r["t"]
        for r in cdf.groupBy("_commit_version")
        .agg(F.min("_commit_timestamp").alias("t"))
        .orderBy("_commit_version")
        .collect()
    ]
    assert all(t is not None for t in ts)
    assert ts == sorted(ts)


def test_cdf_version_window_and_net_counts(spark, root):
    """startingVersion/endingVersion bound the feed; per-version NET
    row change matches the log_changes accounting."""
    TS.register(spark)
    o = _orders(spark)
    TL.log_append(spark, root, o.filter("o_orderkey % 3 = 0"))
    TL.log_append(spark, root, o.filter("o_orderkey % 3 = 1"))
    TL.log_delete_where(spark, root, "o_orderstatus = 'F'")
    TL.log_append(spark, root, o.filter("o_orderkey % 3 = 2"))
    w = _cdf_batch(spark, root, startingVersion="2", endingVersion="2")
    assert {r[0] for r in w.select("_commit_version").distinct().collect()} == {2}
    net = (
        w.select(
            F.when(F.col("_change_type") == "insert", 1)
            .otherwise(-1)
            .alias("s")
        )
        .agg(F.sum("s"))
        .first()[0]
    )
    expect = -o.filter(
        "o_orderkey % 3 IN (0, 1) AND o_orderstatus = 'F'"
    ).count()
    assert net == expect
    # full feed folds to the final snapshot
    assert _rows(_fold(_cdf_batch(spark, root))) == _rows(
        TL.log_read(spark, root).select(*COLS)
    )


def test_cdf_restore_emits_resurrections(spark, root):
    """RESTORE to before a MoR delete: the feed must emit the
    resurrected rows as inserts (DV diff in reverse), and the fold must
    equal the restored snapshot."""
    TS.register(spark)
    o = _orders(spark)
    TL.log_append(spark, root, o)  # v0
    TL.log_delete_where_mor(spark, root, "o_orderstatus = 'F'")  # v1
    TL.log_restore(spark, root, 0)  # v2: rows come back
    cdf = _cdf_batch(spark, root)
    v2 = cdf.filter("_commit_version = 2")
    nf = o.filter("o_orderstatus = 'F'").count()
    assert v2.filter("_change_type = 'insert'").count() == nf
    assert v2.filter("_change_type = 'delete'").count() == 0
    assert _rows(_fold(cdf)) == _rows(o)


def test_cdf_streaming_matches_batch_and_resumes(spark, root):
    """The streaming CDF drains to the same multiset as the batch feed,
    and a checkpointed resume streams only the NEW commits (exactly
    once end-to-end through a file sink)."""
    TS.register(spark)
    o = _orders(spark)
    TL.log_append(spark, root, o.filter("o_orderkey % 2 = 0"))
    TL.log_delete_where(spark, root, "o_orderstatus = 'F'")
    base = tempfile.mkdtemp(prefix="cdf_resume_")
    out_dir, ckpt = f"{base}/out", f"{base}/ckpt"
    try:
        def drain():
            q = (
                spark.readStream.format("tablelog")
                .option("path", root)
                .option("readChangeFeed", "true")
                .load()
                .writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return spark.read.parquet(out_dir)

        got = drain()
        batch_rows = sorted(map(tuple, _cdf_batch(spark, root).collect()))
        assert sorted(map(tuple, got.collect())) == batch_rows
        # resume: one more append streams ONLY its inserts, exactly once
        TL.log_append(spark, root, o.filter("o_orderkey % 2 = 1"))
        got2 = drain()
        added = o.filter("o_orderkey % 2 = 1").count()
        assert got2.count() == len(batch_rows) + added
        v2 = got2.filter("_commit_version = 2")
        assert v2.count() == added
        assert (
            v2.filter("_change_type = 'insert'").count() == added
        )
        assert _rows(_fold(got2)) == _rows(
            TL.log_read(spark, root).select(*COLS)
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_cdf_skips_redead_rows_on_cow_over_mor(spark, root):
    """A CoW delete over a file that already carries a DV emits exactly
    the LIVE rows it deleted (the commit-time change file) — rows dead
    before the commit were emitted by THEIR commit and must not
    re-emit, and the rewritten files' carried rows emit nothing."""
    TS.register(spark)
    o = _orders(spark)
    TL.log_append(spark, root, o)  # v0
    TL.log_delete_where_mor(spark, root, "o_orderkey % 5 = 0")  # v1
    TL.log_delete_where(spark, root, "o_orderstatus = 'F'")  # v2 CoW
    cdf = _cdf_batch(spark, root)
    v2 = cdf.filter("_commit_version = 2")
    # exactly the rows the delete killed: live 'F' rows (not the %5
    # dead, not the carried survivors) — and no insert churn at all
    assert v2.filter("_change_type = 'delete'").count() == o.filter(
        "o_orderstatus = 'F' AND o_orderkey % 5 <> 0"
    ).count()
    assert v2.filter("_change_type <> 'delete'").count() == 0
    assert _rows(_fold(cdf)) == _rows(TL.log_read(spark, root).select(*COLS))


# ---------------------------------------------------------------------------
# Shallow clone
# ---------------------------------------------------------------------------

def test_clone_is_zero_copy_and_isolated(spark, root):
    o = _orders(spark)
    src, dst = os.path.join(root, "src"), os.path.join(root, "dst")
    TL.log_append(spark, src, o.filter("o_orderkey % 2 = 0"))
    TL.log_append(spark, src, o.filter("o_orderkey % 2 = 1"))
    TL.log_clone(src, dst)
    # zero-copy: no data files under the clone root
    assert not any(
        fs for _, _, fs in os.walk(os.path.join(dst, TL._DATA_DIR))
    )
    assert _rows(TL.log_read(spark, dst).select(*COLS)) == _rows(
        TL.log_read(spark, src).select(*COLS)
    )
    # writes on the clone never touch the source
    TL.log_delete_where(spark, dst, "o_orderstatus = 'F'")
    assert TL.log_read(spark, src).count() == o.count()
    assert TL.log_read(spark, dst).count() == o.filter(
        "o_orderstatus <> 'F'"
    ).count()
    # cloning onto an existing table refuses
    with pytest.raises(ValueError, match="already exists"):
        TL.log_clone(src, dst)


def test_clone_at_version_and_dv_carry(spark, root):
    """A time-travel clone of a MoR snapshot carries the source's
    deletion vectors by reference; a further MoR delete on the clone
    layers a LOCAL vector over the EXTERNAL file."""
    o = _orders(spark)
    src, dst = os.path.join(root, "src"), os.path.join(root, "dst")
    TL.log_append(spark, src, o)  # v0
    TL.log_delete_where_mor(spark, src, "o_orderstatus = 'F'")  # v1
    TL.log_clone(src, dst, version=1)
    assert TL.log_read(spark, dst).count() == o.filter(
        "o_orderstatus <> 'F'"
    ).count()
    TL.log_delete_where_mor(spark, dst, "o_orderkey % 5 = 0")
    assert TL.log_read(spark, dst).count() == o.filter(
        "o_orderstatus <> 'F' AND o_orderkey % 5 <> 0"
    ).count()
    # source unaffected by the clone's vector
    assert TL.log_read(spark, src).count() == o.filter(
        "o_orderstatus <> 'F'"
    ).count()
    # vacuum on the clone never deletes source files
    deleted = TL.log_vacuum(dst)
    assert deleted == []
    assert TL.log_read(spark, src).count() == o.filter(
        "o_orderstatus <> 'F'"
    ).count()


def test_clone_materialize_and_datasource_read(spark, root):
    """log_compact materializes the clone (no external refs remain);
    the format("tablelog") DataSource reads the clone before and
    after."""
    TS.register(spark)
    o = _orders(spark)
    src, dst = os.path.join(root, "src"), os.path.join(root, "dst")
    TL.log_append(spark, src, o)
    TL.log_delete_where_mor(spark, src, "o_orderstatus = 'F'")
    TL.log_clone(src, dst)
    via_ds = (
        spark.read.format("tablelog").option("path", dst).load().count()
    )
    assert via_ds == o.filter("o_orderstatus <> 'F'").count()
    TL.log_compact(spark, dst, target_files=2)
    state = TL._snapshot(dst)
    assert all(not os.path.isabs(f) for f in state["live"])
    assert TL.log_read(spark, dst).count() == o.filter(
        "o_orderstatus <> 'F'"
    ).count()


def test_clone_streams_initial_content(spark, root):
    """The snapshot stream source treats the clone's full-form v0 as
    the table's initial (all-new) content."""
    TS.register(spark)
    o = _orders(spark)
    src, dst = os.path.join(root, "src"), os.path.join(root, "dst")
    TL.log_append(spark, src, o.filter("o_orderkey % 2 = 0"))
    TL.log_clone(src, dst)
    TL.log_append(spark, dst, o.filter("o_orderkey % 2 = 1"))
    qname = f"clone_stream_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("tablelog")
        .option("path", dst)
        .load()
        .writeStream.format("memory")
        .queryName(qname)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert spark.table(qname).count() == o.count()
    spark.catalog.dropTempView(qname)


# ---------------------------------------------------------------------------
# CHECK constraints
# ---------------------------------------------------------------------------

def test_constraint_gates_every_write_path(spark, root):
    TS.register(spark)
    o = _orders(spark)
    TL.log_append(spark, root, o.filter("o_orderkey % 2 = 0"))
    TL.log_add_constraint(spark, root, "price_pos", "o_totalprice > 0")
    # violating log_append raises, no version committed
    v = TL._latest_version(root)
    with pytest.raises(TL.ConstraintViolation, match="price_pos"):
        TL.log_append(
            spark,
            root,
            o.filter("o_orderkey % 2 = 1").withColumn(
                "o_totalprice", -F.col("o_totalprice")
            ),
        )
    assert TL._latest_version(root) == v
    # violating CoW UPDATE raises
    with pytest.raises(TL.ConstraintViolation, match="price_pos"):
        TL.log_update_where(
            spark,
            root,
            "o_orderstatus = 'O'",
            {"o_totalprice": "-o_totalprice"},
        )
    # violating MERGE raises
    bad = o.limit(5).withColumn("o_totalprice", F.lit(-1.0))
    with pytest.raises(TL.ConstraintViolation, match="price_pos"):
        TL.log_merge(spark, root, bad, "o_orderkey")
    # violating DSv2 write raises AND leaves no orphan commit
    with pytest.raises(Exception, match="price_pos"):
        (
            o.filter("o_orderkey % 2 = 1")
            .withColumn("o_totalprice", -F.col("o_totalprice"))
            .write.format("tablelog")
            .mode("append")
            .option("path", root)
            .save()
        )
    assert TL._latest_version(root) == v
    assert TL.log_vacuum(root) == []  # DSv2 abort removed its orphans
    # valid writes pass on both paths
    TL.log_append(spark, root, o.filter("o_orderkey % 4 = 1"))
    (
        o.filter("o_orderkey % 4 = 3")
        .write.format("tablelog")
        .mode("append")
        .option("path", root)
        .save()
    )
    assert TL.log_read(spark, root).count() == o.count()
    # NULL passes (SQL CHECK semantics)
    withnull = (
        o.limit(3)
        .withColumn("o_orderkey", F.col("o_orderkey") + 10_000_000)
        .withColumn(
            "o_totalprice", F.lit(None).cast("double")
        )
    )
    TL.log_append(spark, root, withnull)
    assert TL.log_read(spark, root).count() == o.count() + 3


def test_constraint_add_validates_existing_and_drop(spark, root):
    o = _orders(spark)
    TL.log_append(spark, root, o)
    with pytest.raises(TL.ConstraintViolation, match="existing"):
        TL.log_add_constraint(
            spark, root, "only_open", "o_orderstatus = 'O'"
        )
    TL.log_add_constraint(spark, root, "price_pos", "o_totalprice > 0")
    TL.log_drop_constraint(root, "price_pos")
    # after DROP the formerly-violating write passes
    TL.log_append(
        spark, root, o.limit(2).withColumn("o_totalprice", F.lit(-5.0))
    )
    with pytest.raises(ValueError, match="no constraint"):
        TL.log_drop_constraint(root, "price_pos")


def test_constraint_survives_checkpoint_restore_clone(spark, root):
    """The constraint set rides checkpoints, RESTORE (target version's
    set), and CLONE (source's set)."""
    o = _orders(spark)
    src = os.path.join(root, "src")
    TL.log_append(spark, src, o.filter("o_orderkey % 2 = 0"))  # v0
    TL.log_add_constraint(spark, src, "price_pos", "o_totalprice > 0")
    for _ in range(TL.CHECKPOINT_INTERVAL):
        TL.log_append(spark, src, o.limit(1))
    assert TL._checkpoint_versions(src)  # cadence checkpoint happened
    assert TL._snapshot(src)["constraints"] == {
        "price_pos": "o_totalprice > 0"
    }
    # restore to BEFORE the constraint existed drops it
    TL.log_restore(spark, src, 0)
    assert TL._snapshot(src)["constraints"] == {}
    # re-add, then clone: the fork inherits and enforces it
    TL.log_add_constraint(spark, src, "price_pos", "o_totalprice > 0")
    dst = os.path.join(root, "dst")
    TL.log_clone(src, dst)
    with pytest.raises(TL.ConstraintViolation, match="price_pos"):
        TL.log_append(
            spark, dst, o.limit(1).withColumn("o_totalprice", F.lit(-1.0))
        )


def test_constraint_streaming_sink_enforces(spark, root):
    """The tablelog streaming sink (DSv2 commit path) rejects a
    micro-batch that violates a constraint; the stream fails rather
    than committing bad rows."""
    TS.register(spark)
    o = _orders(spark)
    TL.log_append(spark, root, o.filter("o_orderkey % 2 = 0"))
    TL.log_add_constraint(spark, root, "price_pos", "o_totalprice > 0")
    base = tempfile.mkdtemp(prefix="cstr_sink_")
    src_dir, ckpt = f"{base}/src", f"{base}/ckpt"
    try:
        o.filter("o_orderkey % 2 = 1").withColumn(
            "o_totalprice", -F.col("o_totalprice")
        ).coalesce(1).write.parquet(src_dir)
        v = TL._latest_version(root)
        q = (
            spark.readStream.schema(o.schema)
            .parquet(src_dir)
            .writeStream.format("tablelog")
            .option("path", root)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        with pytest.raises(Exception, match="price_pos"):
            q.awaitTermination()
        assert TL._latest_version(root) == v
    finally:
        shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# REORG APPLY (PURGE)
# ---------------------------------------------------------------------------

def test_purge_targets_only_dv_debt(spark, root):
    """Purge rewrites ONLY the files carrying vectors past the
    threshold; clean files carry by reference; pre-purge versions still
    apply their vectors; the stream treats purge as data-unchanged."""
    TS.register(spark)
    o = _orders(spark)
    # two files: evens (will carry a DV), odds (clean)
    TL.log_append(spark, root, o.filter("o_orderkey % 2 = 0").coalesce(1))
    TL.log_append(spark, root, o.filter("o_orderkey % 2 = 1").coalesce(1))
    TL.log_delete_where_mor(
        spark, root, "o_orderkey % 2 = 0 AND o_orderstatus = 'F'"
    )
    live_before = set(TL._snapshot(root)["live"])
    dv_files = set(TL._snapshot(root)["dv"])
    assert len(dv_files) == 1
    v_purge = TL.log_reorg_purge(spark, root)
    m = TL._read_manifest(root, v_purge)
    assert set(m["remove"]) == dv_files  # only the debt-carrying file
    state = TL._snapshot(root)
    assert not state["dv"]
    # the clean file is carried by reference (same path still live)
    assert (live_before - dv_files) <= set(state["live"])
    # content identity across the purge
    n = o.filter(
        "NOT (o_orderkey % 2 = 0 AND o_orderstatus = 'F')"
    ).count()
    assert TL.log_read(spark, root).count() == n
    assert TL.log_read(spark, root, version=v_purge - 1).count() == n
    # threshold: a fresh LIGHT vector stays below a high debt floor
    TL.log_delete_where_mor(
        spark, root, "o_orderkey % 97 = 0 AND o_orderstatus = 'O'"
    )
    assert TL._snapshot(root)["dv"]
    v2 = TL.log_reorg_purge(spark, root, min_dead_fraction=0.99)
    assert TL._read_manifest(root, v2)["remove"] == []
    assert TL._snapshot(root)["dv"]  # the light vector survives
    # the snapshot stream crosses the purge without raising
    qname = f"purge_stream_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("tablelog")
        .option("path", root)
        .option("skipChangeCommits", "true")
        .load()
        .writeStream.format("memory")
        .queryName(qname)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark.catalog.dropTempView(qname)


def test_cdf_sql_view(spark, root):
    """The SQL surface serves the change feed (Delta's table_changes):
    a temp view with readChangeFeed + version bounds answers plain
    SELECTs over _change_type/_commit_version."""
    TS.register(spark)
    o = _orders(spark)
    TL.log_append(spark, root, o.filter("o_orderkey % 2 = 0"))
    TL.log_append(spark, root, o.filter("o_orderkey % 2 = 1"))
    TL.log_delete_where(spark, root, "o_orderstatus = 'F'")
    vname = f"changes_{uuid.uuid4().hex[:8]}"
    TS.register_sql_view(
        spark, vname, root, change_feed=True, starting_version=2
    )
    got = spark.sql(
        f"SELECT _change_type, COUNT(*) AS n FROM {vname} "
        "GROUP BY _change_type ORDER BY _change_type"
    ).collect()
    by_type = {r["_change_type"]: r["n"] for r in got}
    # the CoW delete's commit-time change file: exactly the deleted
    # rows, no carried-row churn
    assert by_type == {"delete": o.filter("o_orderstatus = 'F'").count()}
    spark.catalog.dropTempView(vname)


def test_timestamp_as_of(spark, root):
    """TIMESTAMP AS OF resolves the latest version committed at or
    before the given instant, on log_read, the DataSource option, and
    the SQL view; before-the-first-commit raises."""
    TS.register(spark)
    o = _orders(spark)
    TL.log_append(spark, root, o.filter("o_orderkey % 3 = 0"))  # v0
    TL.log_append(spark, root, o.filter("o_orderkey % 3 = 1"))  # v1
    TL.log_append(spark, root, o.filter("o_orderkey % 3 = 2"))  # v2
    ts1 = TL._read_manifest(root, 1)["ts"]
    n01 = o.filter("o_orderkey % 3 IN (0, 1)").count()
    # exactly v1's commit instant -> v1; epoch float, ISO string, and
    # datetime forms all resolve identically
    assert TL.version_at_timestamp(root, ts1) == 1
    import datetime

    # the ISO form truncates to microseconds, which can round BELOW the
    # raw float ts — probe 1 ms after the commit (still far before v2,
    # appends are ~1 s apart) so the resolution is unambiguous
    iso = datetime.datetime.fromtimestamp(
        ts1 + 0.001, datetime.timezone.utc
    ).isoformat()
    assert TL.version_at_timestamp(root, iso) == 1
    assert TL.log_read(spark, root, timestamp_as_of=ts1).count() == n01
    # between v1 and v2 -> still v1; at/after v2 -> v2 (the latest)
    ts2 = TL._read_manifest(root, 2)["ts"]
    assert TL.version_at_timestamp(root, (ts1 + ts2) / 2) == 1
    assert TL.version_at_timestamp(root, ts2 + 3600) == 2
    # DataSource option (string epoch form)
    got = (
        spark.read.format("tablelog")
        .option("path", root)
        .option("timestampAsOf", str(ts1))
        .load()
        .count()
    )
    assert got == n01
    # SQL view form
    vname = f"asof_{uuid.uuid4().hex[:8]}"
    TS.register_sql_view(spark, vname, root, timestamp_as_of=ts1)
    assert spark.sql(f"SELECT COUNT(*) FROM {vname}").first()[0] == n01
    spark.catalog.dropTempView(vname)
    # before the first retained commit raises
    with pytest.raises(ValueError, match="predates"):
        TL.version_at_timestamp(
            root, TL._read_manifest(root, 0)["ts"] - 1.0
        )
    # version and timestamp together is an error
    with pytest.raises(ValueError, match="not both"):
        TL.log_read(spark, root, version=1, timestamp_as_of=ts1)


def test_cdf_stream_admission_control(spark, root):
    """maxFilesPerTrigger paces the CDF stream by version cost
    (adds + removes + changed vectors), >=1 version per batch."""
    o = _orders(spark)
    for i in range(3):
        TL.log_append(
            spark, root, o.filter(f"o_orderkey % 3 = {i}").coalesce(1)
        )
    TL.log_delete_where_mor(spark, root, "o_orderstatus = 'F'")
    r = TS.TablelogCDFStreamReader(root, {"maxfilespertrigger": "1"})
    start = r.initialOffset()
    ends = []
    for _ in range(4):
        end = r.latestOffset()
        r.partitions(start, end)
        ends.append(end["version"])
        start = end
        if end["version"] >= 3:
            break
    # one 1-file version admitted per batch, the DV commit last
    assert ends == [0, 1, 2, 3]
    # uncapped reader reaches the head in one batch
    r2 = TS.TablelogCDFStreamReader(root, {})
    r2.initialOffset()
    assert r2.latestOffset()["version"] == 3


def test_cdf_stream_starting_version(spark, root):
    """startingVersion on the streaming CDF begins the feed at that
    version inclusive (Delta semantics) instead of the full history."""
    TS.register(spark)
    o = _orders(spark)
    TL.log_append(spark, root, o.filter("o_orderkey % 3 = 0"))  # v0
    TL.log_append(spark, root, o.filter("o_orderkey % 3 = 1"))  # v1
    TL.log_append(spark, root, o.filter("o_orderkey % 3 = 2"))  # v2
    qname = f"cdfsv_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("tablelog")
        .option("path", root)
        .option("readChangeFeed", "true")
        .option("startingVersion", "1")
        .load()
        .writeStream.format("memory")
        .queryName(qname)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table(qname)
    assert {
        r[0] for r in got.select("_commit_version").distinct().collect()
    } == {1, 2}
    assert got.count() == o.filter("o_orderkey % 3 IN (1, 2)").count()
    spark.catalog.dropTempView(qname)


def test_cdf_over_clone_initial_content(spark, root):
    """The change feed of a CLONE emits the clone's v0 content (the
    source snapshot, vectors applied) as inserts, then clone-local
    commits as usual."""
    TS.register(spark)
    o = _orders(spark)
    src, dst = os.path.join(root, "src"), os.path.join(root, "dst")
    TL.log_append(spark, src, o)
    TL.log_delete_where_mor(spark, src, "o_orderstatus = 'F'")
    TL.log_clone(src, dst)
    TL.log_delete_where(spark, dst, "o_orderkey % 5 = 0")
    cdf = _cdf_batch(spark, dst)
    v0 = cdf.filter("_commit_version = 0")
    assert v0.filter("_change_type = 'delete'").count() == 0
    assert v0.count() == o.filter("o_orderstatus <> 'F'").count()
    assert _rows(_fold(cdf)) == _rows(TL.log_read(spark, dst).select(*COLS))


def test_constrained_column_ddl_fails_closed(spark, root):
    """Renaming or dropping a column a CHECK constraint references is
    refused (enforcement would silently break otherwise); after DROP
    CONSTRAINT the DDL passes."""
    o = _orders(spark)
    TL.log_append(spark, root, o)
    TL.log_add_constraint(spark, root, "price_pos", "o_totalprice > 0")
    with pytest.raises(ValueError, match="price_pos"):
        TL.log_rename_column(root, "o_totalprice", "total")
    with pytest.raises(ValueError, match="price_pos"):
        TL.log_drop_column(root, "o_totalprice")
    # an unreferenced column still renames freely
    TL.log_rename_column(root, "o_orderstatus", "status")
    TL.log_drop_constraint(root, "price_pos")
    TL.log_rename_column(root, "o_totalprice", "total")
    assert "total" in TL.log_read(spark, root).columns


def test_partition_spec_evolution(spark, root):
    """PARTITION EVOLUTION (the Iceberg capability): each commit may
    use a different partition spec — per-FILE partition values in the
    manifest mean old files prune under their own spec and new files
    under theirs; a reader probing the source column skips correctly
    across the mixed layout, and unpartitioned files are simply never
    partition-pruned (safe-only)."""
    o = _orders(spark).withColumn(
        "o_orderdate",
        F.expr("date_add(DATE '1995-01-01', CAST(o_orderkey % 700 AS INT))"),
    )
    # v0: unpartitioned; v1: month layout; v2: bucket layout
    TL.log_append(spark, root, o.filter("o_orderkey % 3 = 0").coalesce(2))
    TL.log_append(
        spark,
        root,
        o.filter("o_orderkey % 3 = 1").coalesce(2),
        partition_by=["month(o_orderdate)"],
    )
    TL.log_append(
        spark,
        root,
        o.filter("o_orderkey % 3 = 2").coalesce(2),
        partition_by=["bucket(8, o_orderkey)"],
    )
    import datetime

    lo, hi = datetime.date(1995, 3, 1), datetime.date(1995, 4, 30)
    pruned = TL.log_read(spark, root, prune=("o_orderdate", lo, hi)).filter(
        (F.col("o_orderdate") >= F.lit(lo)) & (F.col("o_orderdate") <= F.lit(hi))
    )
    full = TL.log_read(spark, root).filter(
        (F.col("o_orderdate") >= F.lit(lo)) & (F.col("o_orderdate") <= F.lit(hi))
    )
    assert _rows(pruned.select(*COLS)) == _rows(full.select(*COLS))
    # the month-layout files outside the window are actually skipped,
    # while v0/v2 files (no month values) are all kept — safe-only
    state = TL._snapshot(root)
    kept = TL._prune_by_partitions(
        spark, state["live"], state["parts"], "o_orderdate", lo=lo, hi=hi
    )
    month_files = [
        f
        for f in state["live"]
        if "month(o_orderdate)" in (state["parts"].get(f) or {})
    ]
    assert len(month_files) > 2  # the month layout split into months
    kept_months = [f for f in kept if f in set(month_files)]
    assert len(kept_months) < len(month_files)  # real skipping happened
    other = set(state["live"]) - set(month_files)
    assert other <= set(kept)  # differently-specced files never skipped
    # a key point-probe prunes the BUCKET-layout files under their spec
    key = o.filter("o_orderkey % 3 = 2").first()["o_orderkey"]
    kept_pt = TL._prune_by_partitions(
        spark, state["live"], state["parts"], "o_orderkey", value=key
    )
    bucket_files = [
        f
        for f in state["live"]
        if any(k.startswith("bucket(") for k in (state["parts"].get(f) or {}))
    ]
    assert len([f for f in kept_pt if f in set(bucket_files)]) < len(
        bucket_files
    )


def test_medallion_cdf_gold_view(spark):
    """Bronze changelog -> silver MERGE table -> gold from the silver
    CDF stream: the maintained aggregate equals the full-changelog
    recompute (the registry oracle), proving merge commits are
    CDF-expressible end-to-end."""
    import duckdb

    from cdc_local_data_pipeline_docker_spark.streaming import (
        tablelog_upsert as TLU,
    )
    from cdc_local_data_pipeline_docker_spark.streaming.incremental_view import (
        CDC_INCREMENTAL_AGG_VIEW_SQL,
    )

    out = TLU.stream_cdf_gold_view(spark, SF)
    got = sorted(tuple(r) for r in out.collect())
    exp = sorted(
        map(
            tuple,
            duckdb.connect().execute(CDC_INCREMENTAL_AGG_VIEW_SQL).fetchall(),
        )
    )
    assert got == exp


def test_commit_timestamp_monotonic_under_clock_skew(spark, root):
    """A wall-clock step backwards must not break TIMESTAMP AS OF's
    binary search: _commit clamps a regressing ts to prev + 1 µs."""
    o = _orders(spark)
    TL.log_append(spark, root, o.filter("o_orderkey % 2 = 0"))  # v0
    # simulate skew: hand-commit a manifest whose ts is in the past
    base = TL._latest_version(root)
    skewed = {
        "version": base + 1,
        "action": "append",
        "add": [],
        "remove": [],
        "schemas": TL._snapshot(root)["schemas"],
        "ts": TL._read_manifest(root, base)["ts"] - 3600.0,
    }
    TL._commit(root, base + 1, skewed)
    TL.log_append(spark, root, o.filter("o_orderkey % 2 = 1"))  # v2
    ts = [TL._read_manifest(root, v)["ts"] for v in TL._versions(root)]
    assert ts == sorted(ts)
    assert ts[1] > ts[0]
    # the search stays correct at every recorded instant
    for v, t in enumerate(ts):
        assert TL.version_at_timestamp(root, t) == v


def test_append_revalidates_on_concurrent_constraint(spark, root):
    """An append racing an ADD CONSTRAINT must re-validate against the
    new set when it rebases — a violating write can never slip in
    behind a constraint commit (Delta's metadata conflict check)."""
    o = _orders(spark)
    TL.log_append(spark, root, o.filter("o_orderkey % 2 = 0"))
    bad = o.filter("o_orderkey % 2 = 1").withColumn(
        "o_totalprice", -F.col("o_totalprice")
    )
    # interleave: the constraint lands between the append's pre-write
    # validation (against the old set) and its commit — simulated by
    # adding the constraint inside the append's version race via a
    # monkeypatched _latest_version that fires once
    real_latest = TL._latest_version
    fired = {"done": False}

    def racy_latest(r):
        if r == root and not fired["done"]:
            fired["done"] = True
            v = real_latest(r)
            TL.log_add_constraint(
                spark, r, "price_pos", "o_totalprice > 0"
            )
            return v  # stale answer -> the append hits CommitConflict
        return real_latest(r)

    TL._latest_version = racy_latest
    try:
        with pytest.raises(TL.ConstraintViolation, match="price_pos"):
            TL.log_append(spark, root, bad)
    finally:
        TL._latest_version = real_latest
    # the rejected write left no version beyond the constraint commit
    assert TL._read_manifest(
        root, TL._latest_version(root)
    )["action"] == "add_constraint"
    # a valid append under the same race goes through (re-validated ok)
    fired["done"] = False

    def racy_latest2(r):
        if r == root and not fired["done"]:
            fired["done"] = True
            v = real_latest(r)
            TL.log_drop_constraint(r, "price_pos")
            return v
        return real_latest(r)

    TL._latest_version = racy_latest2
    try:
        TL.log_append(spark, root, o.filter("o_orderkey % 2 = 1"))
    finally:
        TL._latest_version = real_latest
    assert TL.log_read(spark, root).count() == o.count()


def test_cdf_under_column_mapping(spark, root):
    """The change feed surfaces LOGICAL column names through renames:
    files written before a RENAME COLUMN carry the old physical name,
    but the feed (schema fixed at read time) maps them — and the fold
    still reconstructs the final snapshot."""
    TS.register(spark)
    o = _orders(spark)
    TL.log_append(spark, root, o.filter("o_orderkey % 2 = 0"))  # v0
    TL.log_rename_column(root, "o_totalprice", "price")  # v1 (metadata)
    TL.log_append(
        spark,
        root,
        o.filter("o_orderkey % 2 = 1").withColumnRenamed(
            "o_totalprice", "price"
        ),
    )  # v2
    TL.log_delete_where(spark, root, "o_orderstatus = 'F'")  # v3
    cdf = _cdf_batch(spark, root)
    assert "price" in cdf.columns and "o_totalprice" not in cdf.columns
    cols = ["o_orderkey", "o_orderstatus", "price"]
    folded = (
        cdf.groupBy(*cols)
        .agg(
            F.sum(
                F.when(
                    F.col("_change_type").isin("insert", "update_postimage"),
                    1,
                ).otherwise(-1)
            ).alias("_net")
        )
        .filter("_net = 1")
        .select(*cols)
    )
    assert _rows(folded) == _rows(TL.log_read(spark, root).select(*cols))
    # the rename itself (v1) streams nothing
    assert cdf.filter("_commit_version = 1").count() == 0


def test_describe_detail_and_vacuum_dry_run(spark, root):
    o = _orders(spark)
    TL.log_append(
        spark,
        root,
        o.filter("o_orderkey % 2 = 0"),
        partition_by=["bucket(4, o_orderkey)"],
    )
    TL.log_append(spark, root, o.filter("o_orderkey % 2 = 1"))
    TL.log_delete_where_mor(spark, root, "o_orderstatus = 'F'")
    TL.log_add_constraint(spark, root, "price_pos", "o_totalprice > 0")
    d = TL.log_detail(root)
    assert d["version"] == 3
    assert d["num_files"] == len(TL._snapshot(root)["live"])
    assert d["size_bytes"] > 0
    assert d["num_deletion_vectors"] >= 1
    assert d["deletion_vector_bytes"] > 0
    assert d["partition_specs"] == ["bucket(4,o_orderkey)"]
    assert d["constraints"] == {"price_pos": "o_totalprice > 0"}
    assert d["num_external_files"] == 0
    # orphan a file, then: dry run lists it but deletes nothing
    orphan = os.path.join(root, TL._DATA_DIR, "zzz", "orphan.parquet")
    os.makedirs(os.path.dirname(orphan))
    o.limit(1).toPandas().to_parquet(orphan)
    would = TL.log_vacuum(root, dry_run=True)
    assert would == [os.path.relpath(orphan, root)]
    assert os.path.exists(orphan)
    assert TL.log_read(spark, root).count() == o.filter(
        "o_orderstatus <> 'F'"
    ).count()
    # the real vacuum then deletes exactly the dry run's list
    assert TL.log_vacuum(root) == would
    assert not os.path.exists(orphan)
    # a CoW delete over the partitioned files, then a trimming vacuum:
    # every directory left under data/ holds a file the log references
    v = TL.log_delete_where(spark, root, "o_orderkey % 4 = 0")
    TL.log_vacuum(root, retain_versions=1)
    snap, m = TL._snapshot(root), TL._read_manifest(root, v)
    ref = {*snap["live"], *snap["dv"].values(), *m["cdf_pre"]}
    for dirpath, dirs, _files in os.walk(os.path.join(root, TL._DATA_DIR)):
        for d in dirs:
            rel = os.path.relpath(os.path.join(dirpath, d), root) + os.sep
            assert any(f.startswith(rel) for f in ref), rel


def test_update_cdf_sidecars_exact_labels(spark, root):
    """UPDATE commits write commit-time change files: the feed serves
    EXACT update_preimage/update_postimage rows for the matched slice
    only (carried rows emit nothing), values reflect the assignment,
    the fold stays snapshot-exact, and vacuum keeps the sidecars while
    their version is retained."""
    TS.register(spark)
    o = _orders(spark)
    TL.log_append(spark, root, o.coalesce(2))  # v0: two files
    TL.log_update_where(
        spark,
        root,
        "o_orderstatus = 'P'",
        {"o_totalprice": "o_totalprice * 2"},
    )  # v1
    n_p = o.filter("o_orderstatus = 'P'").count()
    cdf = _cdf_batch(spark, root)
    v1 = cdf.filter("_commit_version = 1")
    by = {
        r["_change_type"]: r["n"]
        for r in v1.groupBy("_change_type").agg(F.count("*").alias("n")).collect()
    }
    # ONLY the matched rows, labeled — no delete/insert churn for the
    # carried rows of the rewritten files
    assert by == {"update_preimage": n_p, "update_postimage": n_p}
    pre_sum = (
        v1.filter("_change_type = 'update_preimage'")
        .agg(F.sum("o_totalprice"))
        .first()[0]
    )
    post_sum = (
        v1.filter("_change_type = 'update_postimage'")
        .agg(F.sum("o_totalprice"))
        .first()[0]
    )
    assert abs(post_sum - 2 * pre_sum) < 1e-6 * abs(pre_sum)
    assert _rows(_fold(cdf)) == _rows(TL.log_read(spark, root).select(*COLS))
    # an update that REWRITES ITS OWN PREDICATE COLUMN still labels the
    # matched slice (the match bit binds the pre-image) and still
    # enforces constraints on it
    TL.log_add_constraint(spark, root, "price_pos", "o_totalprice > 0")
    with pytest.raises(TL.ConstraintViolation, match="price_pos"):
        TL.log_update_where(
            spark,
            root,
            "o_orderstatus = 'O'",
            {"o_orderstatus": "'X'", "o_totalprice": "-o_totalprice"},
        )
    TL.log_drop_constraint(root, "price_pos")
    TL.log_update_where(
        spark, root, "o_orderstatus = 'O'", {"o_orderstatus": "'X'"}
    )  # v4
    cdf2 = _cdf_batch(spark, root, startingVersion="4")
    n_o = o.filter("o_orderstatus = 'O'").count()
    assert cdf2.filter("_change_type = 'update_postimage'").count() == n_o
    assert (
        cdf2.filter(
            "_change_type = 'update_postimage' AND o_orderstatus = 'X'"
        ).count()
        == n_o
    )
    assert _rows(_fold(_cdf_batch(spark, root))) == _rows(
        TL.log_read(spark, root).select(*COLS)
    )
    # vacuum keeps retained versions' sidecars (the feed still reads)...
    assert TL.log_vacuum(root) == []
    assert _cdf_batch(spark, root).filter(
        "_change_type = 'update_preimage'"
    ).count() > 0
    # ...and drops them when history is trimmed below their version
    deleted = TL.log_vacuum(root, retain_versions=1)
    assert any("_cdf_" in f for f in deleted)


def test_merge_cdf_sidecars_exact_labels(spark, root):
    """MERGE commits write labeled change files: matched keys' old/new
    images as update_preimage/update_postimage, unmatched change rows
    as inserts — and nothing for the rewritten files' carried rows."""
    TS.register(spark)
    o = _orders(spark)
    TL.log_append(spark, root, o.coalesce(2))
    upd = (
        o.filter("o_orderkey % 10 = 0")
        .withColumn("o_totalprice", F.lit(1.0))
    )
    fresh = (
        o.limit(7)
        .withColumn("o_orderkey", F.col("o_orderkey") + 10_000_000)
    )
    changes = upd.unionByName(fresh)
    TL.log_merge(spark, root, changes, "o_orderkey")  # v1
    n_upd = upd.count()
    v1 = _cdf_batch(spark, root, startingVersion="1")
    by = {
        r["_change_type"]: r["n"]
        for r in v1.groupBy("_change_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert by == {
        "update_preimage": n_upd,
        "update_postimage": n_upd,
        "insert": 7,
    }
    # post-images carry the merged values; pre-images the old ones
    assert (
        v1.filter("_change_type = 'update_postimage'")
        .agg(F.max("o_totalprice"))
        .first()[0]
        == 1.0
    )
    assert (
        v1.filter("_change_type = 'update_preimage'")
        .agg(F.min("o_totalprice"))
        .first()[0]
        > 1.0
    )
    assert _rows(_fold(_cdf_batch(spark, root))) == _rows(
        TL.log_read(spark, root).select(*COLS)
    )
    # an insert-only merge labels everything insert and still streams
    # additively through the SNAPSHOT stream source
    fresh2 = (
        o.limit(3)
        .withColumn("o_orderkey", F.col("o_orderkey") + 20_000_000)
    )
    TL.log_merge(spark, root, fresh2, "o_orderkey")  # v2
    v2 = _cdf_batch(spark, root, startingVersion="2")
    assert {
        r[0] for r in v2.select("_change_type").distinct().collect()
    } == {"insert"}
    assert v2.count() == 3
    # type drift: an int change key merged into the bigint table key —
    # the feed keeps the table's types and exact labeled images
    drift = (
        o.filter("o_orderkey % 20 = 0")
        .withColumn("o_totalprice", F.lit(2.0))
        .unionByName(
            o.limit(3).withColumn(
                "o_orderkey", F.col("o_orderkey") + 30_000_000
            )
        )
        .withColumn("o_orderkey", F.col("o_orderkey").cast("int"))
    )
    TL.log_merge(spark, root, drift, "o_orderkey")  # v3
    v3 = _cdf_batch(spark, root, startingVersion="3")
    assert dict(v3.dtypes)["o_orderkey"] == "bigint"
    n_drift = o.filter("o_orderkey % 20 = 0").count()
    assert {
        r["_change_type"]: r["n"]
        for r in v3.groupBy("_change_type")
        .agg(F.count("*").alias("n"))
        .collect()
    } == {
        "update_preimage": n_drift,
        "update_postimage": n_drift,
        "insert": 3,
    }
    assert _rows(
        v3.filter("_change_type <> 'update_preimage'").select(*COLS)
    ) == _rows(drift)
    assert _rows(
        v3.filter("_change_type = 'update_preimage'").select(*COLS)
    ) == _rows(
        o.filter("o_orderkey % 20 = 0").withColumn("o_totalprice", F.lit(1.0))
    )
    add3, rem3 = TL.log_changes(spark, root, 3)
    assert _rows(add3.select(*COLS)) == _rows(drift)
    assert rem3.count() == n_drift
    assert _rows(_fold(_cdf_batch(spark, root))) == _rows(
        TL.log_read(spark, root).select(*COLS)
    )


def test_update_cdf_sidecars_under_column_mapping(spark, root):
    """Sidecar change files compose with column mapping: the images are
    written under PHYSICAL names and the feed surfaces them under the
    LOGICAL names of the read-time mapping."""
    TS.register(spark)
    o = _orders(spark)
    TL.log_append(spark, root, o)
    TL.log_rename_column(root, "o_totalprice", "price")
    TL.log_update_where(
        spark, root, "o_orderstatus = 'P'", {"price": "price + 1"}
    )
    cdf = _cdf_batch(spark, root)
    assert "price" in cdf.columns
    n_p = o.filter("o_orderstatus = 'P'").count()
    v2 = cdf.filter("_commit_version = 2")
    assert v2.filter("_change_type = 'update_postimage'").count() == n_p
    cols = ["o_orderkey", "o_orderstatus", "price"]
    folded = (
        v2.groupBy(*cols)
        .agg(
            F.sum(
                F.when(
                    F.col("_change_type") == "update_postimage", 1
                ).otherwise(-1)
            ).alias("_net")
        )
        .filter("_net = 1")
    )
    # post minus pre nets exactly the +1-adjusted P rows
    got = {(r[0], r[2]) for r in folded.collect()}
    want = {
        (r["o_orderkey"], r["o_totalprice"] + 1)
        for r in o.filter("o_orderstatus = 'P'").collect()
    }
    assert got == want
