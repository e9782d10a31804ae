"""Pins for the round-9 ADVICE items (beyond the high URI fix, which
has its own file): clock-skewed TIMESTAMP AS OF resolution, CDF reads
on vacuum-trimmed history, constraint validation on written files, and
restore admission cost."""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from cdc_local_data_pipeline_docker_spark.sources import tablelog as TL
from cdc_local_data_pipeline_docker_spark.sources import tablelog_source as TS

SF = "/root/testdata/sf0.001"
COLS = ["o_orderkey", "o_orderstatus", "o_totalprice"]


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="tablelog_advice_r9_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _orders(spark, n=12):
    return (
        spark.read.parquet(os.path.join(SF, "orders.parquet"))
        .select(*COLS)
        .limit(n)
    )


def _skew_ts(root, version, ts):
    """Rewrite one manifest's commit timestamp in place — simulates a
    pre-clamp table written by a machine with a skewed clock."""
    p = os.path.join(root, TL._LOG_DIR, TL._manifest_name(version))
    m = json.load(open(p))
    m["ts"] = ts
    json.dump(m, open(p, "w"))


def test_timestamp_as_of_clock_skewed_history(spark, root):
    """version_at_timestamp must resolve via the prefix-max (Delta's
    read-side adjustment), not assume raw monotonicity: with history
    ts = [100, 500(skewed), 200], a query at ts=300 must land on the
    LAST version whose effective (prefix-max) ts <= 300 — v0, because
    v1's effective ts is 500."""
    orders = _orders(spark)
    TL.log_append(spark, root, orders.filter("o_orderkey % 3 = 0"))
    TL.log_append(spark, root, orders.filter("o_orderkey % 3 = 1"))
    TL.log_append(spark, root, orders.filter("o_orderkey % 3 = 2"))
    _skew_ts(root, 0, 100.0)
    _skew_ts(root, 1, 500.0)  # clock jumped ahead
    _skew_ts(root, 2, 200.0)  # ...and back
    assert TL.version_at_timestamp(root, 300.0) == 0
    assert TL.version_at_timestamp(root, 500.0) == 2  # eff ts v2 = 500
    assert TL.version_at_timestamp(root, 99.0 + 1.0) == 0
    with pytest.raises(ValueError, match="predates"):
        TL.version_at_timestamp(root, 50.0)


def _vacuum_trimmed(spark, root):
    orders = _orders(spark)
    TL.log_append(spark, root, orders.filter("o_orderkey % 3 = 0"))
    TL.log_append(spark, root, orders.filter("o_orderkey % 3 = 1"))
    TL.log_append(spark, root, orders.filter("o_orderkey % 3 = 2"))
    TL.log_delete_where(spark, root, "o_orderkey % 3 = 1")
    TL.log_vacuum(root, retain_versions=2)  # keeps v2, v3
    return TL._versions(root)


@pytest.mark.slow
def test_cdf_batch_on_vacuum_trimmed_table(spark, root):
    """Default table_changes on a trimmed table must clamp to the
    earliest serviceable version instead of raising FileNotFoundError;
    an explicit too-low startingVersion gets a diagnosis."""
    vs = _vacuum_trimmed(spark, root)
    assert vs[0] > 0
    TS.register(spark)
    df = (
        spark.read.format("tablelog")
        .option("path", root)
        .option("readChangeFeed", "true")
        .load()
    )
    rows = df.collect()  # must plan + run without FileNotFoundError
    floor = TS._earliest_cdf_start(root)
    assert all(r["_commit_version"] >= floor for r in rows)
    with pytest.raises(Exception, match="earliest version|resolvable"):
        (
            spark.read.format("tablelog")
            .option("path", root)
            .option("readChangeFeed", "true")
            .option("startingVersion", "0")
            .load()
            .collect()
        )


def test_append_constraint_validates_written_files(spark, root):
    """Violating rows are rejected and NOTHING publishes — the written
    orphans are invisible and vacuum-collectable."""
    orders = _orders(spark)
    TL.log_append(spark, root, orders)
    TL.log_add_constraint(spark, root, "price_pos", "o_totalprice > 0")
    v_before = TL._latest_version(root)
    bad = orders.withColumn("o_totalprice", F.lit(-1.0))
    with pytest.raises(TL.ConstraintViolation):
        TL.log_append(spark, root, bad)
    assert TL._latest_version(root) == v_before
    # the rejected files were cleaned up eagerly (the DSv2 writer's
    # no-orphan contract holds on this path too)
    assert TL.log_vacuum(root, dry_run=True) == []
    assert TL.log_read(spark, root).count() == orders.count()


def test_restore_admission_cost_not_zero(spark, root):
    """A RESTORE (full manifest) inside the stream window must carry a
    non-zero admission cost so maxFilesPerTrigger stays a real bound."""
    orders = _orders(spark)
    TL.log_append(spark, root, orders.filter("o_orderkey % 2 = 0"))
    TL.log_append(spark, root, orders.filter("o_orderkey % 2 = 1"))
    TL.log_restore(spark, root, 0)  # full-manifest commit at v2
    m = TL._read_manifest(root, 2)
    assert "live" in m
    reader = TS.TablelogCDFStreamReader(
        root, {"path": root, "maxfilespertrigger": "1"}
    )
    reader.initialOffset()
    # first capped walk: v0 (1 file) exhausts the budget BEFORE the
    # restore — the old cost-0 bug would have admitted v2's full diff
    # in the same batch as v0+v1
    end = reader.latestOffset()
    assert end["version"] < 2


def test_mor_log_changes_single_plan(spark, root):
    """VERDICT r9 #1: the MoR branch of log_changes must build ONE
    plan — a constant number of parquet scans regardless of how many
    files the commit's vectors touch (the old shape scanned and joined
    per changed file)."""
    orders = _orders(spark, 60)
    # many small files so one MoR delete touches several of them
    for k in range(6):
        TL.log_append(spark, root, orders.filter(f"o_orderkey % 6 = {k}"))
    TL.log_delete_where_mor(spark, root, "o_orderkey % 2 = 0")
    v = TL._latest_version(root)
    m = TL._read_manifest(root, v)
    touched = len(m["dv_set"])
    assert touched >= 3  # the loop shape would emit >= `touched` scans
    add, rem = TL.log_changes(spark, root, v)
    assert add is None
    plan = rem._jdf.queryExecution().optimizedPlan().toString()
    n_scans = plan.count("Relation")
    assert n_scans <= 3, f"{n_scans} scans for {touched} changed files"
    # and the rows are still exactly the newly-dead ones
    got = sorted(r["o_orderkey"] for r in rem.collect())
    want = sorted(
        r[0]
        for r in orders.filter("o_orderkey % 2 = 0")
        .select("o_orderkey")
        .collect()
    )
    assert got == want


def test_mor_log_changes_second_delete_delta_only(spark, root):
    """Overlapping vectors: the second MoR delete's removed side is
    only the NEWLY dead positions (set-diff against the old vector),
    through the single-plan path."""
    orders = _orders(spark, 20)
    TL.log_append(spark, root, orders)
    TL.log_delete_where_mor(spark, root, "o_orderkey % 2 = 0")
    TL.log_delete_where_mor(spark, root, "o_orderkey % 3 = 0")
    _, rem = TL.log_changes(spark, root, TL._latest_version(root))
    got = sorted(r["o_orderkey"] for r in rem.collect())
    want = sorted(
        r[0]
        for r in orders.filter(
            "o_orderkey % 3 = 0 and o_orderkey % 2 != 0"
        )
        .select("o_orderkey")
        .collect()
    )
    assert got == want


def _sidecar_files(root):
    """Change-image files on disk: the parquet files under a commit's
    non-live role directory."""
    out = set()
    data_root = os.path.join(root, "data")
    for dirpath, _dirs, files in os.walk(data_root):
        roles = [
            c for c in os.path.relpath(dirpath, data_root).split(os.sep)
            if c.startswith(f"{TL._COW_TAG}=")
        ]
        if roles and roles[0] != f"{TL._COW_TAG}=live":
            for f in files:
                if f.endswith(".parquet"):
                    out.add(
                        os.path.relpath(os.path.join(dirpath, f), root)
                    )
    return out


@pytest.mark.slow
def test_vacuum_bounds_cdf_sidecars_and_folds_ledger(spark, root):
    """VERDICT r9 #7: commit-time change files and stream_txn ledger
    entries accrete per commit — a retention-trimming VACUUM must drop
    the trimmed versions' sidecars (bounding disk to the retained
    window) while the ledger survives history trimming through the
    checkpoint fold (replay safety is not retention-bounded)."""
    orders = _orders(spark, 24)
    TL.log_append(spark, root, orders)  # v0
    for i in range(4):  # v1..v4 — each writes pre/post sidecars
        TL.log_update_where(
            spark, root, f"o_orderkey % 4 = {i}",
            {"o_orderstatus": f"'U{i}'"},
        )
    # tag two early manifests with the streaming sink's ledger keys
    # BEFORE any checkpoint exists, exactly as the sink commits them
    for v, (qk, b) in {2: ("qA", 7), 3: ("qB", 9)}.items():
        p = os.path.join(root, TL._LOG_DIR, TL._manifest_name(v))
        m = json.load(open(p))
        m["stream_batch_id"], m["stream_query_key"] = b, qk
        json.dump(m, open(p, "w"))
    for i in range(8):  # v5..v12 (crosses the checkpoint interval)
        TL.log_update_where(
            spark, root, f"o_orderkey % 8 = {i}",
            {"o_totalprice": "o_totalprice + 1"},
        )
    ledger_before = TL._snapshot(root)["stream_txn"]
    assert ledger_before == {"qA": 7, "qB": 9}
    before = _sidecar_files(root)
    assert len(before) > 0
    TL.log_vacuum(root, retain_versions=3)  # keeps v10..v12
    vs = TL._versions(root)
    assert vs[0] == 10
    # on-disk sidecars == exactly the retained versions' sidecar lists
    want = set()
    for v in vs:
        m = TL._read_manifest(root, v)
        for k in ("cdf_pre", "cdf_post", "cdf_ins"):
            want.update(m.get(k, []))
    after = _sidecar_files(root)
    assert after == want
    assert len(after) < len(before)
    # ledger survived the trim (folded through the vacuum checkpoint)
    assert TL._snapshot(root)["stream_txn"] == ledger_before
    # and the retained snapshots still read
    assert TL.log_read(spark, root).count() == 24
