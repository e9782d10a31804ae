"""One Spark write per table-log commit: every CoW/MoR writer
(DELETE, UPDATE, MERGE and their merge-on-read forms) writes its live
files AND the commit-time change images in ONE job, partitioned by a
role column ('live' | 'pre' | 'post' | 'ins'), and the files stay
where Spark wrote them — the manifest lists every path. Min/max stats
come from the written files' parquet footers. These tests pin the
edges that design rests on: exact change images, NULL-predicate
semantics, one write-job UUID per commit on tables with every former
fallback trigger, and footer stats equal to the aggregate form."""

from __future__ import annotations

import os
import re
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from cdc_local_data_pipeline_docker_spark.sources import tablelog as TL

from .tablelog_checks import assert_commit_metadata

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="tablelog_sp_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _orders(spark):
    return spark.read.parquet(os.path.join(SF, "orders.parquet")).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


def _one_write(spark, root, version, cols):
    """Manifest invariants of a single-write commit: every file it
    lists exists; it lists every parquet file under its token dir; all
    its data files (live files and change images, not the deletion
    vectors) carry ONE Spark write-job UUID; the read surfaces exactly
    ``cols`` (no role column); and every retained version keeps its
    commit-time metadata (:func:`assert_commit_metadata`)."""
    m = TL._read_manifest(root, version)
    listed = set(m["add"])
    assert m["live_add"] or m.get("cdf_pre") or m.get("cdf_ins")
    for f in listed:
        assert os.path.exists(os.path.join(root, f)), f
    tokens = {f.split(os.sep)[1] for f in listed}
    on_disk = {
        os.path.relpath(os.path.join(d, f), root)
        for t in tokens
        for d, _dirs, fs in os.walk(os.path.join(root, "data", t))
        for f in fs
        if f.endswith(".parquet")
    }
    assert on_disk == listed
    vectors = set((m.get("dv_set") or {}).values())
    jobs = {
        re.match(r"part-\d+-([0-9a-f-]{36})", os.path.basename(f)).group(1)
        for f in listed - vectors
    }
    assert len(jobs) == 1, jobs
    assert sorted(TL.log_read(spark, root).columns) == sorted(cols)
    assert_commit_metadata(root)
    return m


def test_tagged_layout_matches_readers_and_manifest(spark, root):
    """The single write's layout is the manifest's business alone:
    live files and change images come from one job, every listed file
    exists, nothing unlisted is left in the commit's token dir, and no
    role column reaches a reader."""
    o = _orders(spark)
    TL.log_append(spark, root, o)
    TL.log_update_where(
        spark, root, "o_orderstatus = 'O'", {"o_totalprice": "o_totalprice + 5"}
    )
    m = _one_write(spark, root, 1, o.columns)
    assert m["live_add"] and m["cdf_pre"] and m["cdf_post"]
    snap = TL.log_read(spark, root)
    # content equals the UPDATE's projection
    expected = o.select(
        "o_orderkey",
        "o_orderstatus",
        F.when(
            F.col("o_orderstatus") == "O", F.col("o_totalprice") + 5
        ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
    )
    assert snap.exceptAll(expected).count() == 0
    assert expected.exceptAll(snap).count() == 0


def test_update_cdf_images_exact(spark, root):
    """The pre/post change images carry EXACTLY the matched rows' old
    and new images (the change-feed contract)."""
    o = _orders(spark)
    TL.log_append(spark, root, o)
    TL.log_update_where(
        spark, root, "o_orderkey % 7 = 0", {"o_orderstatus": "'Z'"}
    )
    m = TL._read_manifest(root, 1)
    pre = spark.read.parquet(*[os.path.join(root, f) for f in m["cdf_pre"]])
    post = spark.read.parquet(*[os.path.join(root, f) for f in m["cdf_post"]])
    matched = o.filter("o_orderkey % 7 = 0")
    assert pre.count() == matched.count() == post.count()
    assert pre.exceptAll(matched).count() == 0
    assert post.filter("o_orderstatus <> 'Z'").count() == 0
    # post keys == pre keys
    assert (
        post.select("o_orderkey").exceptAll(pre.select("o_orderkey")).count()
        == 0
    )


def test_delete_all_rows_leaves_readable_empty_table(spark, root):
    """A DELETE matching every row writes no 'live' role — no survivor
    files, empty-but-readable snapshot, pre-image carrying the full
    table."""
    o = _orders(spark)
    TL.log_append(spark, root, o)
    TL.log_delete_where(spark, root, "o_orderkey IS NOT NULL")
    m = TL._read_manifest(root, 1)
    assert m["live_add"] == []
    assert m["cdf_pre"]
    snap = TL.log_read(spark, root)
    assert snap.count() == 0
    assert set(snap.columns) == set(o.columns)
    # pre-image = the whole table
    pre = spark.read.parquet(*[os.path.join(root, f) for f in m["cdf_pre"]])
    assert pre.count() == o.count()


def test_null_predicate_rows_keep_multiwrite_semantics(spark, root):
    """A row whose DELETE predicate is NULL satisfies neither `pred`
    nor `~pred`: the single write gives it no role, so it leaves the
    survivors AND the pre-image. UPDATE's NULL-match rows pass through
    unmodified with no change image."""
    o = _orders(spark).limit(100)
    with_null = o.withColumn(
        "flag",
        F.when(F.col("o_orderkey") % 3 == 0, F.lit(None).cast("boolean"))
        .otherwise(F.col("o_orderkey") % 3 == 1),
    )
    TL.log_append(spark, root, with_null)
    n_null = with_null.filter("flag IS NULL").count()
    n_true = with_null.filter("flag = true").count()
    n_false = with_null.filter("flag = false").count()
    assert n_null and n_true and n_false
    TL.log_delete_where(spark, root, "flag")
    snap = TL.log_read(spark, root)
    # NULL-flag rows are dropped from survivors AND absent from the
    # pre-image (the historical two-filter behavior)
    assert snap.count() == n_false
    m = TL._read_manifest(root, 1)
    pre = spark.read.parquet(*[os.path.join(root, f) for f in m["cdf_pre"]])
    assert pre.count() == n_true
    # UPDATE on a fresh table: NULL-match rows pass through unmodified
    # (kept in the rewrite, no change image for them)
    root2 = tempfile.mkdtemp(prefix="tablelog_sp_upd_")
    try:
        TL.log_append(spark, root2, with_null)
        TL.log_update_where(spark, root2, "flag", {"o_totalprice": "0.0"})
        m2 = TL._read_manifest(root2, 1)
        pre2 = spark.read.parquet(
            *[os.path.join(root2, f) for f in m2["cdf_pre"]]
        )
        assert pre2.count() == n_true  # only true-match rows imaged
        snap2 = TL.log_read(spark, root2)
        assert snap2.count() == with_null.count()  # nothing dropped
        assert snap2.filter("o_totalprice = 0.0").count() == n_true
        assert (
            snap2.filter("flag IS NULL AND o_totalprice = 0.0").count() == 0
        )
    finally:
        shutil.rmtree(root2, ignore_errors=True)


def test_stats_table_update_refreshes_footer_stats(spark, root):
    """A stats-carrying table takes the same single write: the
    rewritten files re-carry min/max stats (read from their footers)
    and the content is exact."""
    o = _orders(spark)
    TL.log_append(spark, root, o.coalesce(2), stats_cols=["o_orderkey"])
    TL.log_update_where(
        spark, root, "o_orderkey % 2 = 0", {"o_totalprice": "o_totalprice + 1"}
    )
    m = _one_write(spark, root, 1, o.columns)
    assert set(m["stats_add"]) == set(m["live_add"])
    assert all("o_orderkey" in s for s in m["stats_add"].values())
    expected = o.select(
        "o_orderkey",
        "o_orderstatus",
        F.when(
            F.col("o_orderkey") % 2 == 0, F.col("o_totalprice") + 1
        ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
    )
    snap = TL.log_read(spark, root)
    assert snap.exceptAll(expected).count() == 0
    assert expected.exceptAll(snap).count() == 0


# ---------------------------------------------------------------------------
# MERGE (DV-aware probe) and MoR UPDATE
# ---------------------------------------------------------------------------


def test_merge_singlepass_images_and_content_exact(spark, root):
    """The MERGE commit writes survivors + pre/post/ins from one job;
    images are EXACT: pre = matched old rows, post = matched change
    rows, ins = pure inserts, final content = upsert semantics."""
    o = _orders(spark).limit(200)
    TL.log_append(spark, root, o)
    changes = o.filter("o_orderkey % 5 = 0").withColumn(
        "o_totalprice", F.col("o_totalprice") + 100
    ).unionByName(
        o.select(
            (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
            "o_orderstatus",
            "o_totalprice",
        ).limit(7)
    )
    n_upd = o.filter("o_orderkey % 5 = 0").count()
    TL.log_merge(spark, root, changes, "o_orderkey")
    m = _one_write(spark, root, 1, o.columns)
    assert m["cdf_pre"] and m["cdf_post"] and m["cdf_ins"]
    pre = spark.read.parquet(*[os.path.join(root, f) for f in m["cdf_pre"]])
    post = spark.read.parquet(*[os.path.join(root, f) for f in m["cdf_post"]])
    ins = spark.read.parquet(*[os.path.join(root, f) for f in m["cdf_ins"]])
    assert pre.count() == post.count() == n_upd
    assert ins.count() == 7
    assert pre.exceptAll(o.filter("o_orderkey % 5 = 0")).count() == 0
    assert post.filter(~(F.col("o_orderkey") % 5 == 0)).count() == 0
    assert ins.filter(F.col("o_orderkey") < 10_000_000).count() == 0
    # final content = upsert(o, changes)
    expected = o.filter("o_orderkey % 5 <> 0").unionByName(changes)
    snap = TL.log_read(spark, root)
    assert snap.exceptAll(expected).count() == 0
    assert expected.exceptAll(snap).count() == 0


def test_merge_dv_dead_key_is_an_insert(spark, root):
    """DV-aware probe (r14): a change key whose only target occurrences
    are deletion-vector-dead is a pure INSERT — classified 'ins', its
    file is NOT rewritten (carried by reference, vector intact), and
    the dead row stays dead."""
    o = _orders(spark).limit(100)
    TL.log_append(spark, root, o)
    k = o.select("o_orderkey").first()[0]
    TL.log_delete_where_mor(spark, root, f"o_orderkey = {k}")
    changes = o.filter(F.col("o_orderkey") == k).withColumn(
        "o_orderstatus", F.lit("R")
    )
    TL.log_merge(spark, root, changes, "o_orderkey")
    m = TL._read_manifest(root, TL._latest_version(root))
    assert m["remove"] == []  # nothing rewritten
    assert m["cdf_pre"] == [] and m["cdf_post"] == []
    assert m["cdf_ins"]
    snap = TL.log_read(spark, root)
    hit = snap.filter(F.col("o_orderkey") == k).collect()
    assert len(hit) == 1 and hit[0]["o_orderstatus"] == "R"
    assert snap.count() == o.count()  # 100 - 1 dead + 1 insert


def test_mor_update_singlepass_delta_and_preimage(spark, root):
    """MoR UPDATE writes the delta file (post-images, doubling as
    cdf_post) and the pre-image change file in ONE job — exact images
    and content; vectors still mark the old positions dead."""
    o = _orders(spark).limit(300)
    TL.log_append(spark, root, o)
    TL.log_update_where_mor(
        spark, root, "o_orderkey % 4 = 0", {"o_totalprice": "o_totalprice * 2"}
    )
    m = _one_write(spark, root, 1, o.columns)
    n_upd = o.filter("o_orderkey % 4 = 0").count()
    assert m["dv_set"] and m["live_add"] and m["cdf_pre"]
    assert m["cdf_post"] == m["live_add"]  # delta files ARE post-images
    pre = spark.read.parquet(*[os.path.join(root, f) for f in m["cdf_pre"]])
    delta = spark.read.parquet(
        *[os.path.join(root, f) for f in m["live_add"]]
    )
    assert pre.count() == delta.count() == n_upd
    assert pre.exceptAll(o.filter("o_orderkey % 4 = 0")).count() == 0
    expected = o.select(
        "o_orderkey",
        "o_orderstatus",
        F.when(
            F.col("o_orderkey") % 4 == 0, F.col("o_totalprice") * 2
        ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
    )
    snap = TL.log_read(spark, root)
    assert snap.exceptAll(expected).count() == 0
    assert expected.exceptAll(snap).count() == 0


def test_former_fallback_triggers_take_one_write(spark, root):
    """Stats and bloom columns, a hidden-partition spec, row lineage and
    a user column literally named `_tl_cdf_tag` — each once pushed the
    writers onto a multi-write path. Every CoW and MoR writer now
    commits with ONE write job, keeps the user column, records
    metadata for its live files, and matches a dict model."""
    o = _orders(spark).filter("o_orderkey < 200").withColumn(
        TL._COW_TAG, F.lit("x")
    )
    cols = o.columns
    TL.log_append(
        spark, root, o, stats_cols=["o_orderkey", "o_totalprice"],
        bloom_cols=["o_orderkey"], partition_by=["bucket(2, o_orderkey)"],
    )
    TL.log_enable_row_lineage(root)
    model = {r[0]: tuple(r) for r in o.collect()}

    def rows(spec):
        return spark.createDataFrame(
            list(spec), "o_orderkey bigint, o_orderstatus string, "
            f"o_totalprice double, {TL._COW_TAG} string",
        )

    def check(v):
        m = _one_write(spark, root, v, cols)
        assert set(m["stats_add"]) == set(m["blooms_add"]) == set(
            m["parts_add"]
        ) == set(m["live_add"])

    v = TL.log_update_where(
        spark, root, "o_orderkey % 2 = 0", {"o_totalprice": "o_totalprice + 1"}
    )
    for k, (_, st, pr, t) in list(model.items()):
        if k % 2 == 0:
            model[k] = (k, st, pr + 1, t)
    check(v)
    merge = [(k, "Z", 0.0, "x") for k in model if k % 7 == 0]
    merge += [(10_000_000 + k, "N", 1.0, "x") for k in (1, 2)]
    v = TL.log_merge(spark, root, rows(merge), "o_orderkey")
    model.update({r[0]: r for r in merge})
    check(v)
    v = TL.log_delete_where(spark, root, "o_orderkey % 3 = 0")
    model = {k: r for k, r in model.items() if k % 3}
    check(v)
    v = TL.log_update_where_mor(
        spark, root, "o_orderkey % 5 = 1", {"o_orderstatus": "'M'"}
    )
    for k, (_, st, pr, t) in list(model.items()):
        if k % 5 == 1:
            model[k] = (k, "M", pr, t)
    check(v)
    merge = [(k, "Q", 2.0, "x") for k in model if k % 4 == 1]
    merge += [(20_000_000, "N", 2.0, "x")]
    v = TL.log_merge_mor(spark, root, rows(merge), "o_orderkey")
    model.update({r[0]: r for r in merge})
    check(v)
    got = sorted(tuple(r) for r in TL.log_read(spark, root).collect())
    assert got == sorted(model.values())


def test_footer_stats_equal_the_aggregate(spark, root):
    """Footer min/max over every stats type — INT32/INT64/FLBA-backed
    decimals, NaN in a late row group, -0.0, an all-null column, a
    string past the writer's 4 KB statistics cap, several row groups
    per file — equal the aggregate, or are absent (the file then never
    prunes)."""
    import pyarrow.parquet as pq

    i = F.col("id")
    df = spark.range(0, 600).select(
        (i * 7 - 2000).alias("l"),
        (i * 13 - 3000).cast("int").alias("n"),
        (i % 300 - 150).cast("short").alias("s"),
        (i % 200 - 100).cast("byte").alias("b"),
        F.when(i == 550, F.lit(float("nan")))
        .otherwise(i * 0.5 - 100.0)
        .alias("d"),
        F.when(i % 2 == 0, F.lit(-0.0)).otherwise(F.lit(0.0)).alias("z"),
        (i * 0.25 - 10).cast("float").alias("f"),
        F.concat(F.lit("k"), F.lpad(i.cast("string"), 4, "0")).alias("str"),
        F.date_add(F.lit("2020-01-01").cast("date"), i.cast("int")).alias(
            "dt"
        ),
        (i * 1.25 - 50).cast("decimal(9,2)").alias("d9"),
        (i * 1.25 - 50).cast("decimal(18,4)").alias("d18"),
        (i * 1.25 - 50).cast("decimal(30,4)").alias("d30"),
        F.lit(None).cast("int").alias("nul"),
        F.when(i == 300, F.repeat(F.lit("x"), 5000))
        .otherwise(i.cast("string"))
        .alias("big"),
    )
    cols = df.columns
    spark.conf.set("parquet.block.size", "4096")
    try:
        files, stats, _b, _p = TL._write_data_files(
            df.coalesce(1), root, "stats", stats_cols=cols
        )
    finally:
        spark.conf.unset("parquet.block.size")
    assert len(files) == 1
    path = os.path.join(root, files[0])
    assert pq.ParquetFile(path).metadata.num_row_groups > 1
    got = stats[files[0]]
    # the reference: the aggregate form footer stats replaced
    want = TL._aggregate_file_meta(spark, root, files, df.schema, cols, [])[0][
        files[0]
    ]
    for c, v in got.items():
        for a, b in zip(v, want[c]):
            assert a == b or (a != a and b != b), (c, v, want[c])
    # only the over-cap string goes without stats
    assert set(got) == set(cols) - {"big"}
    assert got["nul"] == [None, None]
