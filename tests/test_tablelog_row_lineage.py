"""ROW LINEAGE (r11, VERDICT r10 #4): once `log_enable_row_lineage` is
set, every rewrite materializes the carried/updated rows' current ids
into the hidden `_tl_row_id` column, so `_row_id` survives copy-on-write
exactly like Delta's row-lineage upgrade to base row IDs. Fresh rows
keep drawing base+position ids from their new file's range; dead files'
ranges stay reserved, so materialized and fresh ids never collide.

Also pins the hiding contract: no plain read surface (log_read, DSv2
batch/stream, CDF batch/stream, change sidecars) ever shows the column.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from cdc_local_data_pipeline_docker_spark.sources import tablelog as TL
from cdc_local_data_pipeline_docker_spark.sources import tablelog_source as TS


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="tablelog_lineage_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _tbl(spark, root, n=20, partitioned=False):
    df = (
        spark.createDataFrame(
            [(k, k * 10) for k in range(n)], "k LONG, val LONG"
        )
        .orderBy("k")
        .coalesce(1)
    )
    TL.log_append(
        spark, root, df,
        partition_by=["bucket(3, k)"] if partitioned else None,
    )
    return {r.k: r._row_id for r in
            TL.log_read_with_row_ids(spark, root).collect()}


def _ids(spark, root, version=None):
    return {
        r.k: r._row_id
        for r in TL.log_read_with_row_ids(spark, root, version).collect()
    }


def test_cow_rewrites_keep_ids_after_enable(spark, root):
    ids0 = _tbl(spark, root)
    TL.log_enable_row_lineage(root)
    TL.log_update_where(spark, root, "k % 2 = 0", {"val": "val + 1"})
    assert _ids(spark, root) == ids0
    TL.log_delete_where(spark, root, "k % 5 = 0")
    ids2 = _ids(spark, root)
    assert all(ids2[k] == ids0[k] for k in ids2)
    assert set(ids2) == {k for k in ids0 if k % 5 != 0}
    TL.log_compact(spark, root, target_files=1)
    assert _ids(spark, root) == ids2


def test_without_enable_cow_rebases(spark, root):
    """The base-row-ID contract is unchanged when lineage is OFF: a CoW
    rewrite re-bases the moved rows (pinning that enablement is what
    changes behavior, not the r11 code path itself)."""
    ids0 = _tbl(spark, root)
    TL.log_update_where(spark, root, "k >= 0", {"val": "val + 1"})
    ids1 = _ids(spark, root)
    assert set(ids1) == set(ids0)
    assert ids1 != ids0  # every row moved into a fresh-based file


def test_merge_matched_inherits_insert_draws_fresh(spark, root):
    ids0 = _tbl(spark, root)
    TL.log_enable_row_lineage(root)
    ch = spark.createDataFrame(
        [(1, 999), (100, 1), (101, 2)], "k LONG, val LONG"
    )
    TL.log_merge(spark, root, ch, "k")
    ids = _ids(spark, root)
    assert ids[1] == ids0[1]  # matched row keeps its id
    assert len(set(ids.values())) == len(ids)  # global uniqueness
    assert ids[100] not in ids0.values()  # inserts draw fresh ids
    # MoR merge twin: same contract without rewriting files
    TL.log_merge_mor(
        spark, root,
        spark.createDataFrame([(2, 5), (200, 9)], "k LONG, val LONG"),
        "k",
    )
    ids2 = _ids(spark, root)
    assert ids2[2] == ids0[2]
    assert len(set(ids2.values())) == len(ids2)


def test_mor_update_and_purge_keep_ids(spark, root):
    ids0 = _tbl(spark, root)
    TL.log_enable_row_lineage(root)
    TL.log_update_where_mor(spark, root, "k % 4 = 1", {"val": "777"})
    assert _ids(spark, root) == ids0
    TL.log_delete_where_mor(spark, root, "k % 4 = 2")
    TL.log_reorg_purge(spark, root, min_dead_fraction=0.0)
    ids = _ids(spark, root)
    assert all(ids[k] == ids0[k] for k in ids)
    assert set(ids) == {k for k in ids0 if k % 4 != 2}
    TL.log_compact_small_files(spark, root, 10**9, target_files=1)
    assert _ids(spark, root) == ids


def test_lineage_on_hidden_partitioned_table(spark, root):
    ids0 = _tbl(spark, root, partitioned=True)
    TL.log_enable_row_lineage(root)
    TL.log_update_where(spark, root, "k % 2 = 1", {"val": "val * 2"})
    assert _ids(spark, root) == ids0
    TL.log_delete_where(spark, root, "k < 5")
    ids = _ids(spark, root)
    assert all(ids[k] == ids0[k] for k in ids)


def test_hidden_column_never_surfaces(spark, root):
    _tbl(spark, root)
    TL.log_enable_row_lineage(root)
    TL.log_update_where(spark, root, "k % 2 = 0", {"val": "val + 1"})
    assert "_tl_row_id" not in TL.log_read(spark, root).columns
    out = TL.log_read_with_row_ids(spark, root)
    assert "_tl_row_id" not in out.columns and "_row_id" in out.columns
    # CDF batch: neither side of any commit shows it
    for v in TL._versions(root):
        add, rem = TL.log_changes(spark, root, v)
        for side in (add, rem):
            assert side is None or "_tl_row_id" not in side.columns
    # DSv2 batch + CDF schemas
    TS.register(spark)
    r = spark.read.format("tablelog").option("path", root)
    assert "_tl_row_id" not in r.load().columns
    assert (
        "_tl_row_id"
        not in r.option("readChangeFeed", "true").load().columns
    )
    # DSv2 snapshot stream
    name = "lineage_hidden_stream"
    q = (
        spark.readStream.format("tablelog")
        .option("path", root)
        .option("skipChangeCommits", "true")
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert "_tl_row_id" not in spark.table(name).columns


def test_props_survive_checkpoint_restore_clone(spark, root):
    ids0 = _tbl(spark, root)
    TL.log_enable_row_lineage(root)
    TL.log_checkpoint(root)
    # resolution through the checkpoint still sees the property
    assert TL._snapshot(root)["props"] == {"row_lineage": True}
    TL.log_update_where(spark, root, "k % 2 = 0", {"val": "val + 1"})
    assert _ids(spark, root) == ids0
    # RESTORE to a pre-enablement version carries the property FORWARD
    # (enablement never silently rolls back)
    TL.log_restore(spark, root, 0)
    assert TL._snapshot(root)["props"] == {"row_lineage": True}
    TL.log_update_where(spark, root, "k % 3 = 0", {"val": "val + 5"})
    assert _ids(spark, root) == ids0
    # a clone inherits the property
    TL.log_clone(root, root + "_c")
    try:
        assert TL._snapshot(root + "_c")["props"] == {
            "row_lineage": True
        }
    finally:
        shutil.rmtree(root + "_c", ignore_errors=True)


def test_time_travel_across_lineage_commits(spark, root):
    """Every historical version stays readable and content-correct
    through enablement and lineage rewrites (the model sweep's invariant
    on this new commit class)."""
    _tbl(spark, root, n=10)
    TL.log_enable_row_lineage(root)
    TL.log_update_where(spark, root, "k % 2 = 0", {"val": "val + 1"})
    TL.log_delete_where(spark, root, "k = 3")
    want = {
        0: {k: k * 10 for k in range(10)},
        1: {k: k * 10 for k in range(10)},
        2: {k: k * 10 + (1 - k % 2) for k in range(10)},
        3: {k: k * 10 + (1 - k % 2) for k in range(10) if k != 3},
    }
    for v, snap in want.items():
        got = {r.k: r.val for r in TL.log_read(spark, root, v).collect()}
        assert got == snap, f"version {v}"


def test_rowid_bases_recorded_at_commit_and_survive_trim(spark, root):
    """r11: commits record each added live file's base row id + the
    table watermark in the manifest (Delta's AddFile.baseRowId shape) —
    resolution needs no history replay, agrees exactly with a replay of
    the history, and row ids survive a VACUUM retention trim."""
    import pyarrow.parquet as pq

    ids0 = _tbl(spark, root)
    TL.log_append(
        spark, root,
        spark.createDataFrame([(100 + i, 1) for i in range(5)],
                              "k LONG, val LONG").coalesce(1),
    )
    st = TL._snapshot(root)
    assert st["rowid_watermark"] == 25
    assert set(st["rowid_bases"]) == set(st["live"])
    TL.log_enable_row_lineage(root)
    TL.log_update_where(spark, root, "k % 2 = 0", {"val": "val + 1"})
    TL.log_delete_where_mor(spark, root, "k = 7")
    rec = TL._row_id_bases(root)
    # oracle: bases are prefix sums of footer row counts, each file
    # based at its first appearance in the history
    rep, wm = {}, 0
    for v in TL._versions(root):
        m = TL._read_manifest(root, v)
        for f in m.get("live_add", m["add"]):
            if f not in rep:
                rep[f] = wm
                wm += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
    st = TL._snapshot(root)
    assert rec == {f: rep[f] for f in st["live"]}
    assert st["rowid_watermark"] == wm
    before = _ids(spark, root)
    TL.log_checkpoint(root)
    TL.log_vacuum(root, retain_versions=2)
    assert TL._versions(root)[0] > 0  # history actually trimmed
    assert _ids(spark, root) == before


def test_rowid_accounting_through_checkpoint_and_clone(spark, root):
    _tbl(spark, root)
    TL.log_checkpoint(root)
    st = TL._snapshot(root)  # resolves THROUGH the checkpoint
    assert st["rowid_watermark"] == 20
    assert set(st["rowid_bases"]) == set(st["live"])
    TL.log_clone(root, root + "_c")
    try:
        cst = TL._snapshot(root + "_c")
        assert cst["rowid_watermark"] == 20
        assert set(cst["rowid_bases"]) == set(cst["live"])
    finally:
        shutil.rmtree(root + "_c", ignore_errors=True)


def test_table_without_rowid_accounting_refuses(spark, root):
    """Every commit records row-id accounting, so a log without it (here
    simulated by stripping the keys) was not written by this module:
    row-id reads and the next commit both refuse instead of guessing
    bases. A commit whose new file's footer cannot be read fails too,
    rather than publishing without accounting."""
    import glob
    import json

    _tbl(spark, root)
    TL.log_append(
        spark, root, spark.createDataFrame([(50, 5)], "k LONG, val LONG")
    )
    with pytest.raises(OSError):
        TL._rowid_fields(root, TL._snapshot(root), ["data/missing.parquet"])
    for mf in glob.glob(os.path.join(root, TL._LOG_DIR, "v*.json")):
        m = json.load(open(mf))
        m.pop("rowid_bases_add", None)
        m.pop("rowid_watermark", None)
        json.dump(m, open(mf, "w"))
    with pytest.raises(ValueError, match="no row-id accounting"):
        TL.log_read_with_row_ids(spark, root)
    with pytest.raises(ValueError, match="no row-id accounting"):
        TL.log_append(
            spark, root, spark.createDataFrame([(60, 6)], "k LONG, val LONG")
        )
    assert TL._latest_version(root) == 1  # nothing published


def test_dsv2_with_row_ids_matches_python_api(spark, root):
    """r11: option("withRowIds","true") surfaces _row_id through the
    DataSource (and SQL views) — identical to log_read_with_row_ids,
    including materialized lineage ids and time travel."""
    _tbl(spark, root)
    TL.log_enable_row_lineage(root)
    TL.log_delete_where_mor(spark, root, "k % 5 = 0")
    TL.log_update_where(spark, root, "k % 2 = 1", {"val": "val + 1"})
    TS.register(spark)
    api = _ids(spark, root)
    r = (
        spark.read.format("tablelog")
        .option("path", root)
        .option("withRowIds", "true")
    )
    dsv = {x.k: x._row_id for x in r.load().collect()}
    assert dsv == api
    # time travel composes; plain reads stay id-free
    v0 = {
        x.k: x._row_id
        for x in r.option("version", "0").load().collect()
    }
    assert v0 == {k: k for k in range(20)}
    assert "_row_id" not in (
        spark.read.format("tablelog").option("path", root).load().columns
    )
    # the SQL-view surface
    TS.register_sql_view(spark, "rowid_view", root, with_row_ids=True)
    got = {
        x.k: x._row_id
        for x in spark.sql("SELECT _row_id, k FROM rowid_view").collect()
    }
    assert got == api


def test_lineage_with_relative_table_root(spark, root):
    """ADVICE r11: the lineage base map must key on ABSOLUTE paths like
    _rel_index — with a relative table root the join used to miss every
    row and silently re-base ids on the next read. Python's cwd and the
    JVM's user.dir agree under pytest, so a cwd-relative root resolves
    identically on both sides."""
    rel = os.path.relpath(root, os.getcwd())
    before = _tbl(spark, rel)
    TL.log_enable_row_lineage(rel)
    TL.log_update_where(spark, rel, "k % 3 = 0", {"val": "val + 1"})
    after = _ids(spark, rel)
    assert after == before
    assert None not in after.values()


def test_rename_on_lineage_table_never_exposes_hidden_column(spark, root):
    """ADVICE r11: _scan_schema must skip _tl_row_id — otherwise a
    rename on a lineage table whose files carry the materialized column
    seeds it into the colmap, making it user-visible and renamable."""
    _tbl(spark, root)
    TL.log_enable_row_lineage(root)
    # CoW rewrite materializes _tl_row_id into the live files
    TL.log_update_where(spark, root, "k % 2 = 0", {"val": "val + 1"})
    TL.log_rename_column(root, "val", "value")
    colmap = TL._snapshot(root)["colmap"]
    assert TL._ROWID_COL not in colmap
    assert set(TL.log_read(spark, root).columns) == {"k", "value"}
    # the hidden column is not renamable either
    with pytest.raises(ValueError, match="no such column"):
        TL.log_rename_column(root, TL._ROWID_COL, "oops")
    # and ids still read back stable through the rename
    ids = _ids(spark, root)
    assert sorted(ids) == list(range(20))
    assert len(set(ids.values())) == 20
