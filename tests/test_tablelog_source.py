"""format("tablelog") Python DataSource: batch snapshot reads with
executor-side deletion-vector skip + column mapping, and the streaming
source with table versions as offsets (Delta streaming-source shape)."""

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


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="tablelog_source_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _orders(spark):
    return spark.read.parquet(os.path.join(SF, "orders.parquet")).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


def _drain(spark, root, qname, **opts):
    reader = spark.readStream.format("tablelog").option("path", root)
    for k, v in opts.items():
        reader = reader.option(k, v)
    ckpt = opts.pop("checkpointLocation", None)
    w = reader.load().writeStream.format("memory").queryName(qname)
    if ckpt:
        w = w.option("checkpointLocation", ckpt)
    q = w.trigger(availableNow=True).start()
    q.awaitTermination()
    return spark.table(qname)


def test_batch_source_matches_log_read_with_dvs(spark, root):
    TS.register(spark)
    o = _orders(spark)
    TL.log_append(spark, root, o.filter("o_orderkey % 2 = 0"))
    TL.log_append(spark, root, o.filter("o_orderkey % 2 = 1"))
    TL.log_delete_where_mor(spark, root, "o_orderstatus = 'F'")
    via_source = sorted(
        spark.read.format("tablelog").option("path", root).load().collect()
    )
    via_log = sorted(TL.log_read(spark, root).collect())
    assert via_source == via_log
    assert len(via_source) == o.filter("o_orderstatus <> 'F'").count()
    # time travel through the source
    v1 = (
        spark.read.format("tablelog")
        .option("path", root).option("version", 1).load()
    )
    assert v1.count() == o.count()


def test_batch_source_column_mapping_and_evolution(spark, root):
    TS.register(spark)
    o = _orders(spark)
    TL.log_append(spark, root, o.limit(10))
    TL.log_rename_column(root, "o_totalprice", "total_price")
    TL.log_append(
        spark, root,
        o.filter("o_orderkey > 1000").limit(5)
         .withColumnRenamed("o_totalprice", "total_price")
         .withColumn("tag", F.lit("late")),
    )
    df = spark.read.format("tablelog").option("path", root).load()
    assert "total_price" in df.columns and "o_totalprice" not in df.columns
    assert "tag" in df.columns
    assert df.count() == 15
    assert df.filter("tag IS NULL").count() == 10  # pre-evolution files
    assert df.filter("total_price IS NULL").count() == 0


def test_stream_appends_exactly_once_and_resume(spark, root):
    """Two sequential drains against one checkpoint (parquet sink — the
    memory sink cannot recover from a checkpoint): the second run must
    read ONLY the commit that arrived in between, and the sink must end
    up with every row exactly once."""
    TS.register(spark)
    o = _orders(spark)
    TL.log_append(spark, root, o.filter("o_orderkey % 3 = 0"))
    TL.log_append(spark, root, o.filter("o_orderkey % 3 = 1"))
    ckpt = os.path.join(root, "_stream_ckpt")
    out_dir = os.path.join(root, "_stream_out")

    def drain_to_files():
        q = (
            spark.readStream.format("tablelog")
            .option("path", root)
            .load()
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain_to_files()
    n01 = o.filter("o_orderkey % 3 IN (0, 1)").count()
    assert spark.read.parquet(out_dir).count() == n01
    # append a third slice; the resumed stream reads ONLY the new commit
    TL.log_append(spark, root, o.filter("o_orderkey % 3 = 2"))
    drain_to_files()
    sink = spark.read.parquet(out_dir)
    assert sink.count() == o.count()  # exactly once, no re-reads
    assert (
        sink.groupBy("o_orderkey").count().filter("count > 1").count() == 0
    )


def test_stream_skips_data_unchanged_commits(spark, root):
    TS.register(spark)
    o = _orders(spark)
    TL.log_append(spark, root, o.filter("o_orderkey < 500"))
    TL.log_compact(spark, root, target_files=1)
    TL.log_rename_column(root, "o_totalprice", "total_price")
    q = f"tl_src_{uuid.uuid4().hex[:8]}"
    got = _drain(spark, root, q)
    assert got.count() == o.filter("o_orderkey < 500").count()


def test_stream_raises_on_change_commit_unless_skipped(spark, root):
    TS.register(spark)
    o = _orders(spark)
    TL.log_append(spark, root, o.filter("o_orderkey < 500"))
    TL.log_delete_where(spark, root, "o_orderstatus = 'F'")
    q = f"tl_src_{uuid.uuid4().hex[:8]}"
    with pytest.raises(Exception, match="skipChangeCommits|STREAM"):
        _drain(spark, root, q)
    q2 = f"tl_src_{uuid.uuid4().hex[:8]}"
    got = _drain(spark, root, q2, skipChangeCommits="true")
    # only the append commit streams; the rewrite commit is skipped whole
    assert got.count() == o.filter("o_orderkey < 500").count()


def test_registry_entries_run(spark):
    out = TS.tablelog_source_snapshot(spark, SF)
    assert out.count() > 0
    out2 = TS.tablelog_source_stream(spark, SF)
    o = _orders(spark)
    assert out2.count() == o.count()


def test_stream_skips_incremental_compaction(spark, root):
    """ADVICE r7: 'compact_small' is content-identical like 'compact' —
    a stream over a table maintained by the incremental OPTIMIZE loop
    streams the appends and nothing else (Delta skips OPTIMIZE)."""
    TS.register(spark)
    o = _orders(spark)
    TL.log_append(spark, root, o.filter("o_orderkey < 200").repartition(4))
    TL.log_append(
        spark, root, o.filter("o_orderkey >= 200 AND o_orderkey < 400")
    )
    TL.log_compact_small_files(spark, root, small_max_rows=10**9)
    q = f"tl_src_{uuid.uuid4().hex[:8]}"
    got = _drain(spark, root, q)
    assert got.count() == o.filter("o_orderkey < 400").count()


def test_stream_over_converted_table(spark, root):
    """ADVICE r7: CONVERT's v0 is adds-only (remove=[]) — a converted
    table must stream its initial data as an append, by commit SHAPE,
    not action name (previously raised, and with skipChangeCommits the
    converted data silently vanished from the stream)."""
    TS.register(spark)
    o = _orders(spark)
    src = tempfile.mkdtemp(prefix="tl_convert_src_")
    try:
        o.filter("o_orderkey < 300").write.mode("overwrite").parquet(src)
        TL.log_convert_in_place(spark, root, src)
        TL.log_append(
            spark, root, o.filter("o_orderkey >= 300 AND o_orderkey < 500")
        )
        q = f"tl_src_{uuid.uuid4().hex[:8]}"
        got = _drain(spark, root, q)
        assert got.count() == o.filter("o_orderkey < 500").count()
    finally:
        shutil.rmtree(src, ignore_errors=True)


def test_stream_raises_on_restore_unless_skipped(spark, root):
    """ADVICE r7: RESTORE changes table content (rolls back appends) —
    it must hit the raise/skipChangeCommits branch, never be silently
    classified data-unchanged (the sink would diverge from the table)."""
    TS.register(spark)
    o = _orders(spark)
    TL.log_append(spark, root, o.filter("o_orderkey < 200"))
    TL.log_append(
        spark, root, o.filter("o_orderkey >= 200 AND o_orderkey < 400")
    )
    TL.log_restore(spark, root, 0)
    q = f"tl_src_{uuid.uuid4().hex[:8]}"
    with pytest.raises(Exception, match="skipChangeCommits|STREAM"):
        _drain(spark, root, q)
    q2 = f"tl_src_{uuid.uuid4().hex[:8]}"
    got = _drain(spark, root, q2, skipChangeCommits="true")
    # the two appends stream; the restore commit is skipped whole
    assert got.count() == o.filter("o_orderkey < 400").count()


def test_push_filters_prune_files_and_stay_residual(spark, root):
    """r8 filter pushdown: pushFilters must (a) return EVERY input
    filter as residual (Spark re-evaluates rows — pruning is file-level
    only), (b) plan strictly fewer partitions for a selective predicate
    over a month-partitioned table, and (c) leave results identical to
    the unfiltered-source + DataFrame-filter plan."""
    import datetime

    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThanOrEqual,
        LessThanOrEqual,
        StringContains,
    )

    TS.register(spark)
    o = spark.read.parquet(os.path.join(SF, "orders.parquet")).select(
        "o_orderkey", "o_orderdate", "o_orderstatus", "o_totalprice"
    )
    TL.log_append(
        spark,
        root,
        o.coalesce(1),
        partition_by=["month(o_orderdate)"],
        stats_cols=["o_orderkey"],
    )
    n_live = len(TL._snapshot(root)["live"])

    fs = [
        GreaterThanOrEqual(("o_orderdate",), datetime.date(1995, 1, 1)),
        LessThanOrEqual(("o_orderdate",), datetime.date(1995, 3, 31)),
        StringContains(("o_orderstatus",), "F"),  # unsupported kind
    ]
    rdr = TS.TablelogReader(root, {})
    residual = list(rdr.pushFilters(fs))
    assert residual == fs  # all returned, by reference
    planned = rdr.partitions()
    assert 0 < len(planned) < n_live
    # stats pruning fires through pushdown too (point on o_orderkey)
    rdr2 = TS.TablelogReader(root, {})
    list(rdr2.pushFilters([EqualTo(("o_orderkey",), 1)]))
    assert len(rdr2.partitions()) < n_live

    # end-to-end exactness through the registered source
    lo, hi = datetime.date(1995, 1, 1), datetime.date(1995, 3, 31)
    got = (
        spark.read.format("tablelog")
        .option("path", root)
        .load()
        .filter(
            (F.col("o_orderdate") >= F.lit(lo))
            & (F.col("o_orderdate") <= F.lit(hi))
        )
    )
    exp = o.filter(
        (F.col("o_orderdate") >= F.lit(lo)) & (F.col("o_orderdate") <= F.lit(hi))
    )
    assert sorted(got.collect()) == sorted(exp.collect())


def test_pushdown_respects_column_mapping_and_time_travel(spark, root):
    """Pushed predicates address LOGICAL names: after RENAME the filter
    on the new name must still prune through the physical partition
    key, and a version-pinned read prunes against that version's
    manifest."""
    import datetime

    TS.register(spark)
    o = spark.read.parquet(os.path.join(SF, "orders.parquet")).select(
        "o_orderkey", "o_orderdate", "o_orderstatus"
    )
    TL.log_append(
        spark, root, o.coalesce(1), partition_by=["month(o_orderdate)"]
    )
    TL.log_rename_column(root, "o_orderdate", "order_date")
    lo, hi = datetime.date(1995, 1, 1), datetime.date(1995, 3, 31)
    got = (
        spark.read.format("tablelog")
        .option("path", root)
        .load()
        .filter(
            (F.col("order_date") >= F.lit(lo))
            & (F.col("order_date") <= F.lit(hi))
        )
    )
    exp = o.filter(
        (F.col("o_orderdate") >= F.lit(lo)) & (F.col("o_orderdate") <= F.lit(hi))
    )
    assert got.count() == exp.count()
    # reader-level audit through the mapping
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThanOrEqual

    rdr = TS.TablelogReader(root, {})
    list(
        rdr.pushFilters(
            [
                GreaterThanOrEqual(("order_date",), lo),
                LessThanOrEqual(("order_date",), hi),
            ]
        )
    )
    assert len(rdr.partitions()) < len(TL._snapshot(root)["live"])


def test_pruned_scan_registry_entry(spark):
    out = TS.tablelog_source_pruned_scan(spark, SF)
    o = spark.read.parquet(os.path.join(SF, "orders.parquet"))
    exp = o.filter(
        "o_orderdate BETWEEN DATE '1996-04-01' AND DATE '1996-06-30'"
    ).count()
    assert out.count() == exp


# ---------------------------------------------------------------------------
# native write path (r8)
# ---------------------------------------------------------------------------

def test_writer_distributed_append_is_one_atomic_version(spark, root):
    """A multi-task df.write.format('tablelog') lands as ONE manifest
    version containing every task's files (the DSv2 two-phase commit:
    tasks write, the driver publishes); writer-side min/max stats are
    recorded and prune reads exactly like log_append's."""
    TS.register(spark)
    o = _orders(spark)
    tbl = os.path.join(root, "tbl")
    (
        o.repartition(4)
        .write.format("tablelog")
        .mode("append")
        .option("path", tbl)
        .option("statsCols", "o_orderkey")
        .save()
    )
    assert TL._versions(tbl) == [0]
    st = TL._snapshot(tbl)
    assert len(st["live"]) == 4
    assert set(st["stats"]) == set(st["live"])
    assert TL.log_read(spark, tbl).count() == o.count()
    # stats prune: a top-key range read keeps < all files (min/max
    # skipping is the prune= path; blooms are Spark-side, log_append's)
    top = int(o.agg(F.max("o_orderkey")).first()[0])
    got = TL.log_read(spark, tbl, prune=("o_orderkey", top, top))
    assert got.select(F.input_file_name()).distinct().count() < 4
    assert got.filter(F.col("o_orderkey") == top).count() == 1


def test_writer_overwrite_truncates_and_time_travels(spark, root):
    TS.register(spark)
    o = _orders(spark)
    tbl = os.path.join(root, "tbl")
    o.write.format("tablelog").mode("append").option("path", tbl).save()
    (
        o.filter("o_orderstatus = 'F'")
        .write.format("tablelog")
        .mode("overwrite")
        .option("path", tbl)
        .save()
    )
    assert TL.log_read(spark, tbl).count() == o.filter(
        "o_orderstatus = 'F'"
    ).count()
    # the pre-overwrite version remains time-travelable
    assert TL.log_read(spark, tbl, version=0).count() == o.count()
    m = TL._read_manifest(tbl, 1)
    assert m["action"] == "overwrite" and m["remove"]


def test_writer_partition_values_match_log_append(spark, root):
    """The pure-Python partition derivation on the writer path must
    agree EXACTLY with log_append's Spark-side transform + dir-value
    typing — otherwise pruning semantics would differ by write path."""
    TS.register(spark)
    o = spark.read.parquet(os.path.join(SF, "orders.parquet")).select(
        "o_orderkey", "o_orderdate", "o_orderstatus"
    )
    t1, t2 = os.path.join(root, "w"), os.path.join(root, "a")
    (
        o.write.format("tablelog")
        .mode("append")
        .option("path", t1)
        .option("partitionBy", "month(o_orderdate), identity(o_orderstatus)")
        .save()
    )
    TL.log_append(
        spark,
        t2,
        o,
        partition_by=["month(o_orderdate)", "identity(o_orderstatus)"],
    )
    v1 = {frozenset(p.items()) for p in TL._snapshot(t1)["parts"].values()}
    v2 = {frozenset(p.items()) for p in TL._snapshot(t2)["parts"].values()}
    assert v1 == v2 and v1
    # and pruning through the writer-built table is file-exact
    import datetime

    lo, hi = datetime.date(1995, 1, 1), datetime.date(1995, 3, 31)
    st = TL._snapshot(t1)
    in_range = [
        f
        for f in st["live"]
        if "1995-01" <= st["parts"][f]["month(o_orderdate)"] <= "1995-03"
    ]
    pruned = TL.log_read(spark, t1, prune=("o_orderdate", lo, hi))
    assert pruned.select(F.input_file_name()).distinct().count() == len(
        in_range
    )


def test_writer_rejects_unsupported_bucket_type_and_column_mapping(
    spark, root
):
    TS.register(spark)
    o = _orders(spark)
    tbl = os.path.join(root, "tbl")
    # bucket over a non-int/string/date column has no session-free lane
    with pytest.raises(Exception, match="bucket"):
        (
            o.write.format("tablelog")
            .mode("append")
            .option("path", tbl)
            .option("partitionBy", "bucket(4, o_totalprice)")
            .save()
        )
    TL.log_append(spark, tbl, o)
    TL.log_rename_column(tbl, "o_totalprice", "total_price")
    with pytest.raises(Exception, match="column-mapped|column mapping"):
        o.write.format("tablelog").mode("append").option("path", tbl).save()


def test_python_xxh64_bit_identity_vector_table(spark):
    """VERDICT r8 #2: the session-free XXH64 (writer-side bucket
    derivation) is BIT-IDENTICAL with Spark's xxhash64 on every
    supported lane — the write/probe identity discipline that keeps a
    bucketed point probe from silently pruning files that DO contain
    the key. Vector table spans negatives, 64-bit extremes, empty /
    4-byte / 8-byte / 31-32-byte boundary / >32-byte / unicode strings,
    dates, and NULL (hash = seed)."""
    import datetime

    def signed(h):
        return h - (1 << 64) if h >= 1 << 63 else h

    for v in [0, 1, 7, -1, -7, 2**62, -(2**62), 2**63 - 1, -(2**63)]:
        want = spark.sql(
            f"SELECT xxhash64(CAST({v} AS BIGINT))"
        ).collect()[0][0]
        assert signed(TL._xx_long(v)) == want, v
    for d in ["1970-01-01", "1996-04-15", "2024-02-29", "1969-12-31"]:
        want = spark.sql(f"SELECT xxhash64(DATE '{d}')").collect()[0][0]
        days = (
            datetime.date.fromisoformat(d) - datetime.date(1970, 1, 1)
        ).days
        assert signed(TL._xx_int(days)) == want, d
    for s in ["", "a", "abcd", "abcdefgh", "abcdefghi", "x" * 31,
              "y" * 32, "z" * 100, "héllo — ünïcode ✓", "AUTOMOBILE"]:
        want = spark.sql("SELECT xxhash64(?)", args=[s]).collect()[0][0]
        assert signed(TL._xx_bytes(s.encode())) == want, s
    # pmod identity against the Spark-side probe, every lane + NULL
    for v in [7, -7, "ACME", datetime.date(1996, 4, 15)]:
        for n in (4, 8, 16):
            assert TL._bucket_of_py(v, n) == TL._bucket_of(spark, v, n)
    assert TL._bucket_of_py(None, 8) == spark.sql(
        "SELECT pmod(xxhash64(CAST(NULL AS BIGINT)), 8)"
    ).collect()[0][0]


def test_writer_bucket_partitioning_prunes_like_log_append(spark, root):
    """VERDICT r8 #2 done-criterion: ``partitionBy=bucket(8,o_custkey)``
    through ``df.write.format("tablelog")`` records the SAME partition
    values as a log_append-written table, and a point probe prunes the
    same files on both."""
    TS.register(spark)
    o = spark.read.parquet(os.path.join(SF, "orders.parquet")).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    t1, t2 = os.path.join(root, "dsv2"), os.path.join(root, "ref")
    (
        o.repartition(2)
        .write.format("tablelog")
        .mode("append")
        .option("path", t1)
        .option("partitionBy", "bucket(8, o_custkey)")
        .save()
    )
    TL.log_append(spark, t2, o, partition_by=["bucket(8, o_custkey)"])
    b1 = {
        p["bucket(8,o_custkey)"] for p in TL._snapshot(t1)["parts"].values()
    }
    b2 = {
        p["bucket(8,o_custkey)"] for p in TL._snapshot(t2)["parts"].values()
    }
    assert b1 == b2 and len(b1) == 8
    key = int(o.select("o_custkey").first()[0])
    want_bucket = TL._bucket_of(spark, key, 8)
    for t in (t1, t2):
        st = TL._snapshot(t)
        want = [
            f
            for f in st["live"]
            if st["parts"][f]["bucket(8,o_custkey)"] == want_bucket
        ]
        probed = TL.log_read(spark, t, point=("o_custkey", key))
        assert (
            probed.select(F.input_file_name()).distinct().count()
            == len(want)
            < len(st["live"])
        )
        assert probed.filter(F.col("o_custkey") == key).count() == o.filter(
            F.col("o_custkey") == key
        ).count()
    # exactness across the whole table: both roots read identically
    assert sorted(TL.log_read(spark, t1).collect()) == sorted(
        TL.log_read(spark, t2).collect()
    )


def test_stream_sink_exactly_once_and_replay_skip(spark, root):
    """One version per micro-batch (batch id in the manifest); a
    re-drain from the same checkpoint commits nothing; a simulated
    post-crash replay of a committed batch id is skipped and its orphan
    files dropped."""
    TS.register(spark)
    o = _orders(spark)
    src, tbl, ckpt = (
        os.path.join(root, "src"),
        os.path.join(root, "tbl"),
        os.path.join(root, "ckpt"),
    )
    for i in range(3):
        o.filter(F.col("o_orderkey") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def drain():
        q = (
            spark.readStream.schema(o.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.format("tablelog")
            .option("path", tbl)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    assert TL._versions(tbl) == [0, 1, 2]
    assert [
        TL._read_manifest(tbl, v)["stream_batch_id"] for v in (0, 1, 2)
    ] == [0, 1, 2]
    assert TL.log_read(spark, tbl).count() == o.count()
    drain()  # caught up: no new commits
    assert TL._versions(tbl) == [0, 1, 2]
    # post-crash replay of batch 1 BY THE SAME QUERY (same checkpoint
    # -> same key): recognized by (key, id), files dropped
    w = TS.TablelogStreamWriter(
        tbl, {"path": tbl, "checkpointlocation": ckpt}, o.schema, False
    )
    orphan_rel = os.path.join(TL._DATA_DIR, w.token, "orphan.parquet")
    orphan_abs = os.path.join(tbl, orphan_rel)
    os.makedirs(os.path.dirname(orphan_abs), exist_ok=True)
    o.limit(1).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(root, "one")
    )
    import glob
    import shutil as _sh

    _sh.copy(
        glob.glob(os.path.join(root, "one", "*.parquet"))[0], orphan_abs
    )
    w.commit([TS._FilesWritten([orphan_rel], {}, {})], 1)
    assert TL._versions(tbl) == [0, 1, 2]  # nothing committed
    assert not os.path.exists(orphan_abs)  # orphans cleaned
    assert TL.log_read(spark, tbl).count() == o.count()


def test_batch_read_all_files_pruned_returns_empty(spark, root):
    """ADVICE r8 (high): when pushed filters prune EVERY live file the
    reader must return an empty result — pyspark substitutes [None] for
    an empty partition list, so the planner path has to ship the empty
    sentinel partition instead (previously: AttributeError on
    read(None) failed the whole job)."""
    import datetime

    TS.register(spark)
    o = spark.read.parquet(os.path.join(SF, "orders.parquet")).select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    tbl = os.path.join(root, "tbl")
    TL.log_append(
        spark, tbl, o.coalesce(2), partition_by=["month(o_orderdate)"]
    )
    got = (
        spark.read.format("tablelog")
        .option("path", tbl)
        .load()
        .filter(F.col("o_orderdate") >= F.lit(datetime.date(2099, 1, 1)))
    )
    assert got.count() == 0
    assert got.columns == ["o_orderkey", "o_orderdate", "o_totalprice"]


def test_reader_yields_arrow_batches_with_vectorized_dv(spark, root):
    """VERDICT r8 #1: the DataSource read path is Arrow end-to-end —
    `_read_file_part` yields pyarrow.RecordBatches (never per-row
    tuples), deletion vectors are applied as one boolean mask per
    batch, and schema-evolution NULL fill is a typed constant array."""
    import pyarrow as pa

    TS.register(spark)
    o = _orders(spark)
    tbl = os.path.join(root, "tbl")
    TL.log_append(spark, tbl, o.coalesce(1))
    TL.log_delete_where_mor(spark, tbl, "o_orderstatus = 'F'")
    st = TL._snapshot(tbl)
    cols, out_schema = TS._arrow_out_schema(tbl, st)
    (f,) = st["live"]
    part = TS._FilePart(
        os.path.join(tbl, f), os.path.join(tbl, st["dv"][f]), cols, out_schema
    )
    batches = list(TS._read_file_part(part))
    assert batches and all(isinstance(b, pa.RecordBatch) for b in batches)
    assert all(b.schema == out_schema for b in batches)
    n = sum(b.num_rows for b in batches)
    assert n == o.filter("o_orderstatus <> 'F'").count()
    statuses = {
        s for b in batches for s in b.column(1).to_pylist()
    }
    assert "F" not in statuses
    # schema evolution: a column absent from the file NULL-fills typed
    wide = pa.schema(list(out_schema) + [pa.field("extra", pa.int64())])
    part2 = TS._FilePart(
        os.path.join(tbl, f), None, cols + ["extra"], wide
    )
    b2 = next(TS._read_file_part(part2))
    assert b2.schema.field("extra").type == pa.int64()
    assert b2.column(3).null_count == b2.num_rows
    # the empty sentinel yields nothing
    assert list(TS._read_file_part(TS._FilePart("", None, cols, out_schema))) == []


def test_writer_decimal_stats_merge_in_value_domain(root):
    """ADVICE r8 (low): cross-batch min/max stat merge happens on RAW
    values (Decimal as Decimal), not str-converted — lexicographic
    merge would record min('10.2','9.5') = '10.2'."""
    import decimal

    import pyarrow as pa
    from pyspark.sql.types import DecimalType, StructField, StructType

    schema = StructType([StructField("d", DecimalType(10, 1))])
    tbl = os.path.join(root, "tbl")
    w = TS.TablelogWriter(tbl, {"statscols": "d"}, schema, False)
    t = pa.decimal128(10, 1)
    b1 = pa.RecordBatch.from_arrays(
        [pa.array([decimal.Decimal("9.5")], t)], ["d"]
    )
    b2 = pa.RecordBatch.from_arrays(
        [pa.array([decimal.Decimal("10.2")], t)], ["d"]
    )
    msg = w.write(iter([b1, b2]))
    (stats,) = msg.stats.values()
    assert stats["d"] == ["9.5", "10.2"]


def test_stream_sink_second_query_not_mistaken_for_replay(spark, root):
    """ADVICE r8: replay detection is keyed by (query, batch id), not
    batch id alone — a SECOND streaming query (fresh checkpoint, batch
    ids restarting at 0) into a table that already holds higher batch
    ids must land its data, not have every batch skipped as a replay.
    Also pins: outputMode('complete') raises instead of silently
    appending, and the ledger folds through snapshots (O(interval)
    replay check — no full-history walk on a ledger-complete table)."""
    TS.register(spark)
    o = _orders(spark)
    src, tbl = os.path.join(root, "src"), os.path.join(root, "tbl")
    o.filter("o_orderkey % 2 = 0").coalesce(1).write.parquet(src)

    def drain(ckpt):
        q = (
            spark.readStream.schema(o.schema)
            .parquet(src)
            .writeStream.format("tablelog")
            .option("path", tbl)
            .option("checkpointLocation", os.path.join(root, ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain("ckpt_a")  # query A commits batch 0
    n_a = TL.log_read(spark, tbl).count()
    assert n_a == o.filter("o_orderkey % 2 = 0").count()
    drain("ckpt_b")  # query B also starts at batch 0 — MUST append
    assert TL.log_read(spark, tbl).count() == 2 * n_a
    m0 = TL._read_manifest(tbl, 0)
    m1 = TL._read_manifest(tbl, 1)
    assert m0["stream_batch_id"] == m1["stream_batch_id"] == 0
    assert m0["stream_query_key"] != m1["stream_query_key"]
    # the ledger folds through state: both query keys visible
    st = TL._snapshot(tbl)
    assert st["stream_txn"] == {
        m0["stream_query_key"]: 0,
        m1["stream_query_key"]: 0,
    }
    # explicit txnAppId overrides the checkpoint-derived key
    w = TS.TablelogStreamWriter(
        tbl, {"path": tbl, "txnappid": m0["stream_query_key"]}, o.schema, False
    )
    assert w.query_key == m0["stream_query_key"]
    assert w._batch_already_committed(0)
    assert not w._batch_already_committed(1)
    # complete mode (overwrite=True) raises, never silently appends
    with pytest.raises(ValueError, match="complete"):
        TS.TablelogStreamWriter(tbl, {"path": tbl}, o.schema, True)


def test_stream_sink_replay_check_is_checkpoint_bounded(spark, root):
    """VERDICT r8 #4: `_batch_already_committed` resolves through the
    snapshot/checkpoint ledger, never an O(history) manifest walk — on
    a long-history table the replay check reads the same O(interval)
    manifest set `_snapshot` does."""
    TS.register(spark)
    o = _orders(spark).limit(8)
    tbl = os.path.join(root, "tbl")
    for _ in range(2 * TL.CHECKPOINT_INTERVAL + 3):  # past 2 checkpoints
        TL.log_append(spark, tbl, o)
    w = TS.TablelogStreamWriter(
        tbl, {"path": tbl, "checkpointlocation": os.path.join(root, "ck")},
        o.schema, False,
    )
    reads = []
    orig = TL._read_manifest

    def counting(root_, v):
        reads.append(v)
        return orig(root_, v)

    TL._read_manifest = counting
    try:
        assert not w._batch_already_committed(0)
    finally:
        TL._read_manifest = orig
    # bounded by the checkpoint cadence, not the 23-commit history
    assert len(reads) <= TL.CHECKPOINT_INTERVAL + 1


def test_writer_registry_entries_run(spark):
    out = TS.tablelog_writer_roundtrip(spark, SF)
    o = _orders(spark)
    assert out.count() == o.filter("o_orderstatus = 'O'").count()
    out2 = TS.stream_tablelog_append_sink(spark, SF)
    assert out2.count() == o.count()


def test_push_filters_in_set_prunes_union(spark, root):
    """IN-set pushdown keeps the UNION of per-value point prunes: a
    two-status probe over an identity-partitioned table plans only
    those statuses' files, and `isin` results stay exact."""
    from pyspark.sql.datasource import In

    TS.register(spark)
    o = _orders(spark)
    tbl = os.path.join(root, "tbl")
    TL.log_append(
        spark, tbl, o.coalesce(1), partition_by=["identity(o_orderstatus)"]
    )
    st = TL._snapshot(tbl)
    want = {
        f
        for f in st["live"]
        if st["parts"][f]["identity(o_orderstatus)"] in ("F", "P")
    }
    rdr = TS.TablelogReader(tbl, {})
    fs = [In(("o_orderstatus",), ("F", "P"))]
    assert list(rdr.pushFilters(fs)) == fs
    planned = rdr.partitions()
    assert len(planned) == len(want) < len(st["live"])
    got = (
        spark.read.format("tablelog")
        .option("path", tbl)
        .load()
        .filter(F.col("o_orderstatus").isin("F", "P"))
    )
    assert got.count() == o.filter("o_orderstatus IN ('F','P')").count()


def test_sql_view_select_insert_and_snapshot_pinning(spark, root):
    """The SQL surface (r8): a temp view USING tablelog serves SELECT /
    WHERE (through the pushdown reader) and INSERT INTO (the DSv2
    writer — one atomic version per statement); the view is a PINNED
    SNAPSHOT (Python-DataSource relations resolve once at creation), so
    new commits appear only after re-registration — the documented
    time-travel contract, asserted here so a behavior change surfaces."""
    TS.register(spark)
    o = _orders(spark)
    tbl = os.path.join(root, "tbl")
    TL.log_append(spark, tbl, o)
    view = f"tl_view_{uuid.uuid4().hex[:8]}"
    try:
        TS.register_sql_view(spark, view, tbl)
        assert (
            spark.sql(f"SELECT COUNT(*) AS n FROM {view}").first().n
            == o.count()
        )
        assert (
            spark.sql(
                f"SELECT COUNT(*) AS n FROM {view} WHERE o_orderstatus='F'"
            ).first().n
            == o.filter("o_orderstatus = 'F'").count()
        )
        spark.sql(
            f"INSERT INTO {view} SELECT 999999 AS o_orderkey, "
            "'X' AS o_orderstatus, CAST(1.0 AS DECIMAL(12,2)) AS o_totalprice"
        )
        assert TL._versions(tbl) == [0, 1]  # the INSERT committed
        # pinned snapshot: the existing view still reads v0 …
        assert spark.table(view).count() == o.count()
        # … re-registration (or a fresh read) observes the commit
        TS.register_sql_view(spark, view, tbl)
        assert spark.table(view).count() == o.count() + 1
        # explicit version pin = time travel through SQL
        TS.register_sql_view(spark, view, tbl, version=0)
        assert spark.table(view).count() == o.count()
    finally:
        spark.catalog.dropTempView(view)


def test_writer_commit_rebases_append_and_raises_overwrite(
    spark, root, monkeypatch
):
    """The DSv2 commit's conflict policy mirrors log_append's: APPEND
    rebases (re-snapshots and retries — appends commute), OVERWRITE
    raises (its remove set is the commit-time live set; a concurrent
    commit invalidates it). Simulated by a racing commit injected into
    the first TL._commit attempt."""
    TS.register(spark)
    o = _orders(spark)
    tbl = os.path.join(root, "tbl")
    TL.log_append(spark, tbl, o.limit(100))

    import pyarrow as pa

    batch = pa.record_batch({"o_orderkey": pa.array([1], pa.int64())})

    def racing_commit_once():
        calls = {"n": 0}
        orig = TL._commit

        def wrapped(r, v, m):
            calls["n"] += 1
            if calls["n"] == 1:
                # a concurrent writer wins this version first
                orig(
                    r,
                    v,
                    {
                        "version": v,
                        "action": "append",
                        "add": [],
                        "remove": [],
                        "schemas": TL._snapshot(r)["schemas"],
                        "ts": 0,
                    },
                )
            return orig(r, v, m)

        return wrapped

    # append: first attempt loses the race, retry lands on v+1
    w = TS.TablelogWriter(tbl, {"path": tbl}, o.limit(1).schema, False)
    msg = w.write(iter([batch]))
    monkeypatch.setattr(TL, "_commit", racing_commit_once())
    w.commit([msg])
    monkeypatch.undo()
    # base 0, the racer stole v1, the rebased retry landed on v2
    assert TL._latest_version(tbl) == 2
    assert msg.files and set(msg.files) <= set(TL._snapshot(tbl)["live"])

    # overwrite: the race must RAISE, and abort cleans the task files
    w2 = TS.TablelogWriter(tbl, {"path": tbl}, o.limit(1).schema, True)
    msg2 = w2.write(iter([batch]))
    monkeypatch.setattr(TL, "_commit", racing_commit_once())
    with pytest.raises(TL.CommitConflict):
        w2.commit([msg2])
    monkeypatch.undo()
    w2.abort([msg2])
    assert not os.path.exists(os.path.join(tbl, TL._DATA_DIR, w2.token))


def test_writer_bloom_sidecars_bit_identical_with_log_append(spark, root):
    """bloomCols on the DSv2 writer: the executor-side XXH64 bloom
    build produces the SAME position sets as log_append's Spark-side
    aggregation (single-file tables → set equality), and a point probe
    through the blooms prunes DSv2-written files exactly like
    log_append-written ones."""
    o = spark.read.parquet(os.path.join(SF, "orders.parquet")).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    TS.register(spark)
    t1, t2 = os.path.join(root, "dsv2"), os.path.join(root, "ref")
    (
        o.coalesce(1)
        .write.format("tablelog")
        .mode("append")
        .option("path", t1)
        .option("bloomCols", "o_custkey, o_orderstatus")
        .save()
    )
    TL.log_append(
        spark, t2, o.coalesce(1), bloom_cols=["o_custkey", "o_orderstatus"]
    )
    b1 = list(TL._snapshot(t1)["blooms"].values())
    b2 = list(TL._snapshot(t2)["blooms"].values())
    assert len(b1) == len(b2) == 1
    assert b1[0] == b2[0]  # position sets bit-identical, both columns
    # probes prune identically: a key present scans the file, a key
    # absent (bloom-rejected) prunes it on BOTH tables
    key = int(o.select("o_custkey").first()[0])
    for t in (t1, t2):
        st = TL._snapshot(t)
        hit = TL.log_read(spark, t, point=("o_custkey", key))
        assert hit.filter(F.col("o_custkey") == key).count() == o.filter(
            F.col("o_custkey") == key
        ).count()
        missing = int(o.agg(F.max("o_custkey")).first()[0]) + 987654
        # a key outside the table bloom-prunes the (single) file on
        # both tables — the scan plans over zero files
        assert (
            TL.log_read(spark, t, point=("o_custkey", missing)).count() == 0
        )


def test_stream_source_max_files_per_trigger(spark, root):
    """Admission control (Delta's maxFilesPerTrigger) — the engagement
    contract: the FIRST micro-batch of a run is uncapped (Spark
    resolves its target before the source learns its start; capping
    blind would break restart offset monotonicity), every later batch
    admits at most the file budget, always >=1 version (progress), and
    the stream stays exactly-once overall."""
    import time

    TS.register(spark)
    o = _orders(spark)
    tbl = os.path.join(root, "tbl")
    TL.log_append(spark, tbl, o.filter("o_orderkey % 4 = 0").coalesce(1))
    qname = f"tl_mft_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("tablelog")
        .option("path", tbl)
        .option("maxFilesPerTrigger", "1")
        .load()
        .writeStream.format("memory")
        .queryName(qname)
        .trigger(processingTime="50 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:  # first (uncapped) batch lands
            if spark.table(qname).count() >= o.filter(
                "o_orderkey % 4 = 0"
            ).count():
                break
            time.sleep(0.3)
        # three more single-file commits: the cap admits ONE version
        # per micro-batch no matter how they interleave with polls
        for i in range(1, 4):
            TL.log_append(
                spark, tbl, o.filter(F.col("o_orderkey") % 4 == i).coalesce(1)
            )
        while time.time() < deadline:
            if spark.table(qname).count() == o.count():
                break
            time.sleep(0.3)
    finally:
        q.stop()
    got = spark.table(qname)
    assert got.count() == o.count()  # exactly once overall
    assert (
        got.groupBy("o_orderkey").count().filter("count > 1").count() == 0
    )
    data_batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(data_batches) == 4  # 1 uncapped + 3 capped-to-one-file
    spark.catalog.dropTempView(qname)
    # the budget walk is manifest-only and always admits >=1 version:
    # after the first (uncapped) window, a 2-file budget plans two
    # 1-file versions per window; an oversized commit admits whole
    rdr = TS.TablelogStreamReader(tbl, {"maxfilespertrigger": "2"})
    first = rdr.latestOffset()  # engagement: first call uncapped
    assert first == {"version": 3}
    rdr.partitions({"version": -1}, {"version": 0})  # floor := 0
    assert rdr.latestOffset() == {"version": 2}  # 2 x 1-file cap
    one = TS.TablelogStreamReader(tbl, {"maxfilespertrigger": "1"})
    one.partitions({"version": -1}, {"version": -1})  # floor := -1
    assert one.latestOffset() == {"version": 0}  # always >=1 version


def test_writer_append_schema_enforcement(spark, root):
    """Appends that would WIDEN the schema are rejected without
    .option('mergeSchema','true') (Delta semantics); with it the column
    lands and old files NULL-fill; overwrite replaces the schema
    without the option; absent columns stay legal."""
    TS.register(spark)
    o = _orders(spark)
    tbl = os.path.join(root, "tbl")
    o.limit(10).write.format("tablelog").mode("append").option(
        "path", tbl
    ).save()
    widened = o.limit(5).withColumn("extra", F.lit(1))
    with pytest.raises(Exception, match="mergeSchema"):
        widened.write.format("tablelog").mode("append").option(
            "path", tbl
        ).save()
    # subset append is legal (old files NULL-fill on read already)
    o.limit(3).select("o_orderkey", "o_orderstatus").write.format(
        "tablelog"
    ).mode("append").option("path", tbl).save()
    assert TL.log_read(spark, tbl).count() == 13
    # opt-in evolution
    widened.write.format("tablelog").mode("append").option(
        "path", tbl
    ).option("mergeSchema", "true").save()
    got = TL.log_read(spark, tbl)
    assert got.count() == 18
    assert got.filter("extra IS NULL").count() == 13
    # overwrite replaces the schema, no option needed
    widened.write.format("tablelog").mode("overwrite").option(
        "path", tbl
    ).save()
    assert set(TL.log_read(spark, tbl).columns) == set(widened.columns)


def test_partition_split_vector_path_equals_row_path(root):
    """The vectorized batch splitter (codes + mixed-radix + mask
    filters) is semantics-identical with the per-row fallback on every
    lane — identity/month/day/bucket over ints, strings, dates, and
    timestamps, INCLUDING null cells (their own partition for
    monotonic transforms, the hash-of-NULL bucket for bucket)."""
    import datetime

    import pyarrow as pa
    from pyspark.sql.types import (
        DateType,
        IntegerType,
        StringType,
        StructField,
        StructType,
        TimestampNTZType,
    )

    schema = StructType(
        [
            StructField("k", IntegerType()),
            StructField("s", StringType()),
            StructField("d", DateType()),
            StructField("ts", TimestampNTZType()),
        ]
    )
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array([7, -7, None, 2**31 - 1, 7], pa.int32()),
            pa.array(["ACME", None, "zz", "ACME", "yy"]),
            pa.array(
                [datetime.date(1996, 4, 15), None, datetime.date(1969, 12, 31),
                 datetime.date(1996, 5, 1), datetime.date(1996, 4, 1)],
                pa.date32(),
            ),
            pa.array(
                [datetime.datetime(1996, 4, 15, 10, 30), None,
                 datetime.datetime(2024, 2, 29, 23, 59),
                 datetime.datetime(1996, 4, 1, 0, 0),
                 datetime.datetime(1996, 4, 15, 0, 0)],
                pa.timestamp("us"),
            ),
        ],
        ["k", "s", "d", "ts"],
    )

    def split_maps(transforms_spec):
        w = TS.TablelogWriter(
            os.path.join(root, "t"),
            {"partitionby": transforms_spec},
            schema,
            False,
        )
        vec = {
            pkey: sorted(sub.column(0).to_pylist(), key=repr)
            for pkey, sub in w._partition_split(batch)
        }
        rows = {
            pkey: sorted(sub.column(0).to_pylist(), key=repr)
            for pkey, sub in w._partition_split_rows(batch)
        }
        return vec, rows

    for spec in [
        "identity(k)",
        "identity(s)",
        "identity(d)",
        "month(d)",
        "day(d)",
        "month(ts)",
        "day(ts)",
        "month(s)",
        "bucket(4, k)",
        "bucket(4, s)",
        "bucket(4, d)",
        "bucket(4, k), month(d)",
        "identity(s), bucket(8, k)",
    ]:
        vec, rows = split_maps(spec)
        assert vec == rows, f"vector != row split for {spec}"
