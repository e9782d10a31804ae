"""Transaction-log table format: commit atomicity, snapshot isolation,
time travel, file-level copy-on-write delete, conflict detection, crash
invisibility, vacuum, and compaction content identity."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from cdc_local_data_pipeline_docker_spark.sources import tablelog as TL

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="tablelog_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _orders(spark):
    return spark.read.parquet(os.path.join(SF, "orders.parquet")).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


def test_append_read_time_travel(spark, root):
    o = _orders(spark)
    a = o.filter(F.col("o_orderkey") % 3 == 0)
    b = o.filter(F.col("o_orderkey") % 3 == 1)
    assert TL.log_append(spark, root, a) == 0
    assert TL.log_append(spark, root, b) == 1
    # latest sees both, version 0 sees only the first
    assert TL.log_read(spark, root).count() == a.count() + b.count()
    assert TL.log_read(spark, root, version=0).count() == a.count()
    # snapshot content is exact, not just counted
    got = {r[0] for r in TL.log_read(spark, root, version=0).select("o_orderkey").collect()}
    want = {r[0] for r in a.select("o_orderkey").collect()}
    assert got == want


def test_delete_rewrites_only_affected_files(spark, root):
    o = _orders(spark)
    # two commits -> two disjoint file sets; delete a predicate that only
    # matches rows in the second commit's files
    TL.log_append(spark, root, o.filter(F.col("o_orderkey") % 2 == 0))
    TL.log_append(spark, root, o.filter(F.col("o_orderkey") % 2 == 1))
    live_before = set(TL._snapshot(root, 1)["live"])
    files_of_v0 = set(TL._snapshot(root, 0)["live"])
    v = TL.log_delete_where(
        spark, root, "o_orderkey % 2 = 1 AND o_orderstatus = 'F'"
    )
    m = TL._read_manifest(root, v)
    live_after = set(TL._snapshot(root, v)["live"])
    # every file added by commit 0 is carried BY REFERENCE (file-level CoW)
    assert files_of_v0 <= live_after
    assert not (files_of_v0 & set(m["remove"]))
    # the affected files are exactly commit 1's (odd keys live only there)
    assert set(m["remove"]) == live_before - files_of_v0
    # content: deleted rows gone, everything else intact
    snap = TL.log_read(spark, root)
    assert snap.filter("o_orderkey % 2 = 1 AND o_orderstatus = 'F'").count() == 0
    expect = o.filter("NOT (o_orderkey % 2 = 1 AND o_orderstatus = 'F')").count()
    assert snap.count() == expect


def test_delete_noop_commits_empty_delta(spark, root):
    o = _orders(spark)
    TL.log_append(spark, root, o.limit(50))
    v = TL.log_delete_where(spark, root, "o_orderkey < 0")
    m = TL._read_manifest(root, v)
    assert m["add"] == [] and m["remove"] == []
    assert TL.log_read(spark, root).count() == 50


def test_commit_conflict_and_append_rebase(spark, root):
    o = _orders(spark)
    TL.log_append(spark, root, o.limit(10))
    # a direct put-if-absent on an existing version must fail atomically
    with pytest.raises(TL.CommitConflict):
        TL._commit(root, 0, {"version": 0, "action": "append", "add": [],
                             "remove": [], "live": [], "ts": 0})
    # append auto-rebases: simulate a racing writer by pre-publishing v1,
    # then appending — the append must land at v2 with BOTH live sets
    live0 = TL._live_files(root, 0)
    TL._commit(root, 1, {"version": 1, "action": "append", "add": [],
                         "remove": [], "ts": 0})
    v = TL.log_append(spark, root, o.limit(5))
    assert v == 2
    assert set(live0) <= set(TL._live_files(root, 2))


def test_crash_window_and_vacuum(spark, root):
    o = _orders(spark)
    TL.log_append(spark, root, o.limit(20))
    n = TL.log_read(spark, root).count()
    # crashed writer: data files exist, no manifest ever published
    orphans, _, _, _ = TL._write_data_files(o.limit(7), root, "crashed-commit")
    assert orphans
    # readers are unaffected — the manifest is the source of truth
    assert TL.log_read(spark, root).count() == n
    deleted = TL.log_vacuum(root)
    assert set(deleted) == set(orphans)
    assert TL.log_read(spark, root).count() == n
    # vacuum with retention drops old versions' exclusive files + manifests
    TL.log_compact(spark, root, target_files=1)
    TL.log_vacuum(root, retain_versions=1)
    assert TL._versions(root) == [1]
    assert TL.log_read(spark, root).count() == n


def test_compact_is_content_identical(spark, root):
    o = _orders(spark)
    TL.log_append(spark, root, o.filter(F.col("o_orderkey") % 3 == 0))
    TL.log_append(spark, root, o.filter(F.col("o_orderkey") % 3 == 1))
    before = sorted(TL.log_read(spark, root).collect())
    v = TL.log_compact(spark, root, target_files=1)
    after = sorted(TL.log_read(spark, root).collect())
    assert before == after
    assert len(TL._live_files(root, v)) == 1
    # time travel across the OPTIMIZE still resolves the old files
    assert sorted(TL.log_read(spark, root, version=1).collect()) == before
    hist = TL.log_history(root)
    assert [h["action"] for h in hist] == ["append", "append", "compact"]


def test_manifest_stats_prune_files(spark, root):
    o = _orders(spark)
    # three appends with DISJOINT key ranges -> disjoint per-file stats
    for lo, hi in [(0, 500), (500, 1000), (1000, 1500)]:
        TL.log_append(
            spark, root,
            o.filter(f"o_orderkey >= {lo} AND o_orderkey < {hi}"),
            stats_cols=["o_orderkey"],
        )
    snap2 = TL._snapshot(root, 2)
    assert set(snap2["stats"]) == set(snap2["live"])  # every live file has stats
    all_files = snap2["live"]
    pruned = TL.log_read(spark, root, prune=("o_orderkey", 600, 700))
    kept = {f for f in all_files
            if any(pruned.inputFiles() and inp.endswith(f)
                   for inp in pruned.inputFiles())}
    # only the middle commit's files survive the prune
    mid = set(TL._read_manifest(root, 1)["add"])
    assert kept == mid and len(kept) < len(all_files)
    # pruning never changes results once the real filter applies
    a = (TL.log_read(spark, root, prune=("o_orderkey", 600, 700))
         .filter("o_orderkey BETWEEN 600 AND 700").count())
    b = (TL.log_read(spark, root)
         .filter("o_orderkey BETWEEN 600 AND 700").count())
    assert a == b > 0
    # a fully-pruned range returns an EMPTY frame with the right schema
    none = TL.log_read(spark, root, prune=("o_orderkey", 10**9, 2 * 10**9))
    assert none.count() == 0
    assert none.columns == TL.log_read(spark, root).columns


def test_merge_upsert_file_level_cow(spark, root):
    o = _orders(spark)
    TL.log_append(spark, root, o.filter("o_orderkey < 500"),
                  stats_cols=["o_orderkey"])
    TL.log_append(spark, root, o.filter("o_orderkey >= 500"),
                  stats_cols=["o_orderkey"])
    files_v0 = set(TL._read_manifest(root, 0)["add"])
    # changes: update 3 existing low keys + insert 2 brand-new keys —
    # all change keys sit in commit 0's range, so commit 1's files must
    # be carried by reference
    updates = (o.filter("o_orderkey IN (1, 2, 3)")
               .withColumn("o_orderstatus", F.lit("Z")))
    inserts = spark.createDataFrame(
        [(10**9, "N", 1.0), (10**9 + 1, "N", 2.0)],
        "o_orderkey LONG, o_orderstatus STRING, o_totalprice DOUBLE",
    )
    v = TL.log_merge(spark, root, updates.unionByName(inserts), "o_orderkey")
    m = TL._read_manifest(root, v)
    assert m["action"] == "merge"
    # every rewritten file held a matched key -> all from commit 0
    assert set(m["remove"]) <= files_v0 and m["remove"]
    # files from commit 1 (no matched keys) are untouched
    files_v1 = set(TL._read_manifest(root, 1)["add"])
    live_v = set(TL._snapshot(root, v)["live"])
    assert files_v1 <= live_v and not (files_v1 & set(m["remove"]))
    snap = TL.log_read(spark, root)
    # MERGE semantics: updated images, inserts present, count = old + 2
    assert snap.filter("o_orderkey IN (1, 2, 3)").count() == \
        o.filter("o_orderkey IN (1, 2, 3)").count()
    assert (snap.filter("o_orderkey IN (1, 2, 3) AND o_orderstatus = 'Z'")
            .count() == o.filter("o_orderkey IN (1, 2, 3)").count())
    assert snap.filter("o_orderkey >= 1000000000").count() == 2
    assert snap.count() == o.count() + 2
    # key-uniqueness preserved
    assert (snap.groupBy("o_orderkey").count().filter("count > 1").count()
            == 0)
    # stats carried + refreshed: every live file still has stats
    snap_v = TL._snapshot(root, v)
    assert set(snap_v["stats"]) == set(snap_v["live"])
    # a decimal(12,2) table key merged with bigint change keys: the
    # matched-key frame carries the table's key type, not the change's
    root2 = tempfile.mkdtemp(prefix="tablelog_test_dec_")
    try:
        TL.log_append(spark, root2, o.filter("o_orderkey < 100").select(
            F.col("o_orderkey").cast("decimal(12,2)").alias("k"),
            "o_orderstatus",
        ).coalesce(1))
        changes = spark.createDataFrame(
            [(1, "Z"), (2, "Z"), (10**9, "N")],
            "k BIGINT, o_orderstatus STRING",
        )
        TL.log_merge(spark, root2, changes, "k")
        want = {
            r[0]: ("Z" if r[0] in (1, 2) else r[1])
            for r in o.filter("o_orderkey < 100").collect()
        }
        want[10**9] = "N"
        got = TL.log_read(spark, root2).collect()
        assert sorted((int(r["k"]), r["o_orderstatus"]) for r in got) == (
            sorted(want.items())
        )
    finally:
        shutil.rmtree(root2, ignore_errors=True)


def test_schema_recorded_in_manifest(spark, root):
    o = _orders(spark)
    TL.log_append(spark, root, o.limit(5))
    m = TL._read_manifest(root, 0)
    assert "o_orderkey" in m["schema"] and "o_totalprice" in m["schema"]


def test_optimize_zorder_makes_stats_prune(spark, root):
    """OPTIMIZE ZORDER BY: after a clustered compaction, a key-range
    probe keeps strictly fewer files than after a plain compaction of
    the same data into the same file count — and content is identical."""
    o = _orders(spark)
    # hash-scatter the append into 8 files: every file spans the full
    # key range, so the range probe below can prune NOTHING
    TL.log_append(spark, root, o.repartition(8, "o_orderkey"),
                  stats_cols=["o_orderkey"])
    before = sorted(TL.log_read(spark, root).collect())

    stats_plain = TL._snapshot(root, 0)["stats"]
    lo, hi = 100, 200
    keep_plain = [
        f for f, s in stats_plain.items()
        if not (s["o_orderkey"][0] > hi or s["o_orderkey"][1] < lo)
    ]
    assert len(keep_plain) == 8  # scattered layout: stats are useless

    v_z = TL.log_compact(
        spark, root, target_files=8,
        zorder_cols=["o_orderkey", "o_totalprice"],
    )
    snap_z = TL._snapshot(root, v_z)
    assert len(snap_z["live"]) == 8
    keep_z = [
        f for f, s in snap_z["stats"].items()
        if not (s["o_orderkey"][0] > hi or s["o_orderkey"][1] < lo)
    ]
    assert len(keep_z) < len(keep_plain)  # clustering made stats selective
    # pruned read + real filter is row-exact vs the unpruned read
    a = (TL.log_read(spark, root, prune=("o_orderkey", lo, hi))
         .filter(f"o_orderkey BETWEEN {lo} AND {hi}").count())
    b = (TL.log_read(spark, root)
         .filter(f"o_orderkey BETWEEN {lo} AND {hi}").count())
    assert a == b > 0
    assert sorted(TL.log_read(spark, root).collect()) == before


def test_change_feed_snapshot_invariant(spark, root):
    """Every commit's (added − removed) row counts must telescope to the
    snapshot count delta — the change-feed conservation law — and the
    merge commit's removed side carries the OLD images (row-level CDF)."""
    o = _orders(spark)
    TL.log_append(spark, root, o.filter("o_orderkey < 700"))
    TL.log_append(spark, root, o.filter("o_orderkey >= 700"))
    TL.log_delete_where(spark, root, "o_orderstatus = 'F'")
    # two keys guaranteed live post-delete (picked from the snapshot)
    live_keys = [r[0] for r in TL.log_read(spark, root)
                 .select("o_orderkey").orderBy("o_orderkey")
                 .limit(2).collect()]
    updates = (o.filter(F.col("o_orderkey").isin(live_keys))
               .withColumn("o_orderstatus", F.lit("Z")))
    TL.log_merge(spark, root, updates, "o_orderkey")
    counts = {v: TL.log_read(spark, root, version=v).count()
              for v in TL._versions(root)}
    for v in TL._versions(root):
        add, rem = TL.log_changes(spark, root, v)
        net = (add.count() if add is not None else 0) - (
            rem.count() if rem is not None else 0)
        prev = counts[v - 1] if v > 0 else 0
        assert counts[v] - prev == net
    # row-level before/after on the merge commit
    v = TL._latest_version(root)
    add, rem = TL.log_changes(spark, root, v)
    upd_keys = {r[0] for r in updates.select("o_orderkey").collect()}
    old = {r["o_orderstatus"] for r in rem.collect()
           if r["o_orderkey"] in upd_keys}
    new = {r["o_orderstatus"] for r in add.collect()
           if r["o_orderkey"] in upd_keys}
    if upd_keys:
        assert new == {"Z"} and "Z" not in old


def test_delete_mor_deletion_vectors(spark, root):
    """Merge-on-read delete: no data file rewrites (vectors only),
    reads apply the DVs, a second MoR delete unions positions, time
    travel before the delete still sees everything, CoW operations
    read through vectors (no resurrection), and compaction
    materializes them away."""
    o = _orders(spark)
    TL.log_append(spark, root, o.filter("o_orderkey < 800"))
    TL.log_append(spark, root, o.filter("o_orderkey >= 800"))
    n_all = TL.log_read(spark, root).count()
    data_files_before = set(TL._live_files(root, 1))

    v = TL.log_delete_where_mor(spark, root, "o_orderstatus = 'F'")
    m = TL._read_manifest(root, v)
    # live data files unchanged — only vectors were written
    assert set(TL._snapshot(root, v)["live"]) == data_files_before
    assert m["dv_set"]  # at least one vector
    n_f = o.filter("o_orderstatus = 'F'").count()
    snap = TL.log_read(spark, root)
    assert snap.count() == n_all - n_f
    assert snap.filter("o_orderstatus = 'F'").count() == 0
    # hidden identity columns do not leak into the read schema
    assert set(snap.columns) == {"o_orderkey", "o_orderstatus",
                                 "o_totalprice"}
    # time travel to the pre-delete version still sees every row
    assert TL.log_read(spark, root, version=1).count() == n_all

    # second MoR delete on the SAME files unions positions
    v2 = TL.log_delete_where_mor(spark, root, "o_orderstatus = 'O'")
    n_o = o.filter("o_orderstatus = 'O'").count()
    assert TL.log_read(spark, root).count() == n_all - n_f - n_o
    # a CoW delete now must NOT resurrect vectored rows
    TL.log_delete_where(spark, root, "o_orderkey % 10 = 3")
    expect = o.filter(
        "o_orderstatus NOT IN ('F','O') AND o_orderkey % 10 <> 3"
    ).count()
    assert TL.log_read(spark, root).count() == expect
    # compaction materializes: no dv map, same content
    before = sorted(TL.log_read(spark, root).collect())
    vc = TL.log_compact(spark, root, target_files=2)
    assert not TL._snapshot(root, vc)["dv"]
    assert sorted(TL.log_read(spark, root).collect()) == before
    # vacuum keeps DV files referenced by retained manifests
    TL.log_vacuum(root)
    assert TL.log_read(spark, root, version=v2).count() == \
        n_all - n_f - n_o


def test_cdf_agg_fold_matches_recompute_at_every_version(spark, root):
    """The CDF-driven aggregate state equals the GROUP BY recompute of
    the snapshot AFTER EVERY commit — not just the final one — on a
    history including CoW delete and merge."""
    o = _orders(spark)
    TL.log_append(spark, root, o.filter("o_orderkey % 2 = 0"))
    TL.log_append(spark, root, o.filter("o_orderkey % 2 = 1"))
    TL.log_delete_where(spark, root, "o_orderstatus = 'F'")
    live_keys = [r[0] for r in TL.log_read(spark, root)
                 .select("o_orderkey").orderBy("o_orderkey")
                 .limit(3).collect()]
    TL.log_merge(
        spark, root,
        o.filter(F.col("o_orderkey").isin(live_keys))
         .withColumn("o_orderstatus", F.lit("Z")),
        "o_orderkey",
    )
    TL.log_compact(spark, root, target_files=1)
    state = None
    for v in TL._versions(root):
        add, rem = TL.log_changes(spark, root, v)
        state = TL.fold_changes_into_agg(state, add, rem).localCheckpoint(
            eager=True
        )
        got = {(r["o_orderstatus"]): (r["n_orders"], r["sum_cents"])
               for r in state.collect()}
        want = {
            r["o_orderstatus"]: (r["n_orders"], r["sum_cents"])
            for r in TL.log_read(spark, root, version=v)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
                .cast("long")
                .alias("sum_cents"),
            )
            .collect()
        }
        assert got == want, f"version {v}"


def test_change_feed_over_mor_delete(spark, root):
    """A MoR-delete commit's change feed exposes exactly the newly-dead
    rows (position-delta joined back to data files) — so the
    conservation law holds across MoR histories too, and the CDF-driven
    aggregate can be maintained through vectored deletes."""
    o = _orders(spark)
    TL.log_append(spark, root, o.filter("o_orderkey < 600"))
    TL.log_delete_where_mor(spark, root, "o_orderstatus = 'F'")
    TL.log_delete_where_mor(spark, root, "o_orderstatus = 'O'")
    counts = {v: TL.log_read(spark, root, version=v).count()
              for v in TL._versions(root)}
    state = None
    for v in TL._versions(root):
        add, rem = TL.log_changes(spark, root, v)
        net = (add.count() if add is not None else 0) - (
            rem.count() if rem is not None else 0)
        prev = counts[v - 1] if v > 0 else 0
        assert counts[v] - prev == net, f"version {v}"
        state = TL.fold_changes_into_agg(state, add, rem).localCheckpoint(
            eager=True
        )
    # CDF-maintained aggregate equals the final snapshot recompute
    got = {r["o_orderstatus"]: r["n_orders"] for r in state.collect()}
    want = {
        r["o_orderstatus"]: r["cnt"]
        for r in TL.log_read(spark, root)
        .groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert got == want
    # the second MoR delete's removed side is ONLY the 'O' rows
    _, rem2 = TL.log_changes(spark, root, 2)
    assert {r["o_orderstatus"] for r in rem2.collect()} == {"O"}


def test_restore_is_metadata_only_rollback(spark, root):
    o = _orders(spark)
    TL.log_append(spark, root, o.filter("o_orderkey < 500"))
    good = sorted(TL.log_read(spark, root).collect())
    TL.log_delete_where(spark, root, "o_orderstatus = 'F'")  # "bad" write
    TL.log_append(spark, root, o.filter("o_orderkey >= 1400"))
    v = TL.log_restore(spark, root, 0)
    m = TL._read_manifest(root, v)
    assert m["action"] == "restore" and m["restored_from"] == 0
    assert m["add"] == [] and m["remove"] == []  # metadata-only
    assert sorted(TL.log_read(spark, root).collect()) == good
    # the rolled-back versions stay time-travelable
    n_f = o.filter("o_orderkey < 500 AND o_orderstatus = 'F'").count()
    n_hi = o.filter("o_orderkey >= 1400").count()
    assert TL.log_read(spark, root, version=2).count() == \
        len(good) - n_f + n_hi


def test_schema_evolution_merge_on_read(spark, root):
    o = _orders(spark)
    TL.log_append(spark, root, o.limit(10))
    # a later writer adds a column; earlier files read it as NULL
    TL.log_append(
        spark, root,
        o.filter("o_orderkey > 100").limit(5)
         .withColumn("region_tag", F.lit("eu")),
    )
    snap = TL.log_read(spark, root)
    assert "region_tag" in snap.columns
    assert snap.count() == 15
    assert snap.filter("region_tag IS NULL").count() == 10
    assert snap.filter("region_tag = 'eu'").count() == 5
    # single-schema tables skip footer merging (no phantom columns)
    snap0 = TL.log_read(spark, root, version=0)
    assert "region_tag" not in snap0.columns
