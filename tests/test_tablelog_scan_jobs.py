"""Table-log scans read with the schema the log records: building a
read frame starts no Spark job (parquet schema inference would run a
one-task footer job per scan), and ``format("tablelog")`` serves the
same schema and rows as ``log_read``."""

from __future__ import annotations

import datetime
import decimal
import uuid

import pyarrow.parquet as pq
import pyspark.sql.types as T
import pytest

from cdc_local_data_pipeline_docker_spark.catalog import CDC_WIRE_SCHEMAS
from cdc_local_data_pipeline_docker_spark.sources import tablelog as TL
from cdc_local_data_pipeline_docker_spark.sources import tablelog_source as TS
from cdc_local_data_pipeline_docker_spark.streaming import (
    tablelog_upsert as TU,
)


def _jobs_of(spark, fn):
    """Run ``fn`` inside a fresh job group; return its result and the
    ids of the Spark jobs it started."""
    sc = spark.sparkContext
    group = f"job-count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def _built_without_jobs(spark, build):
    """Run ``build``; assert it started no Spark job and return the
    frame it built."""
    df, jobs = _jobs_of(spark, build)
    assert jobs == []
    return df


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _read(spark, root, version=None):
    """``log_read``'s frame, built without a Spark job, after asserting
    that ``format("tablelog")`` serves the same schema and rows."""
    read = _built_without_jobs(
        spark, lambda: TL.log_read(spark, root, version=version)
    )
    ds = spark.read.format("tablelog").option("path", root)
    if version is not None:
        ds = ds.option("version", version)
    ds = ds.load()
    assert ds.dtypes == read.dtypes
    assert _rows(ds) == _rows(read)
    return read


def test_table_log_frames_build_without_spark_jobs(spark, tmp_path):
    TS.register(spark)
    root = str(tmp_path / "t")
    TL.log_append(
        spark,
        root,
        spark.createDataFrame([(k, k * 10) for k in range(6)], "k long, v int"),
    )
    read = _read(spark, root)
    assert read.dtypes == [("k", "bigint"), ("v", "int")]
    assert _rows(read) == [(k, k * 10) for k in range(6)]

    # deletion vectors: the vector scan has a fixed schema too
    TL.log_delete_where_mor(spark, root, "k = 1")
    read = _read(spark, root)
    assert _rows(read) == [(k, k * 10) for k in range(6) if k != 1]

    # metadata-only ADD COLUMN: no file carries it, it reads as NULL
    TL.log_add_column(root, "note", "string")
    read = _read(spark, root)
    assert read.dtypes == [("k", "bigint"), ("v", "int"), ("note", "string")]
    assert _rows(read) == [(k, k * 10, None) for k in range(6) if k != 1]

    # type widening: int and bigint files under one snapshot type
    TL.log_alter_column_type(root, "v", "bigint")
    TL.log_append(
        spark,
        root,
        spark.createDataFrame([(9, 2**40, "x")], "k long, v long, note string"),
    )
    read = _read(spark, root)
    assert dict(read.dtypes)["v"] == "bigint"
    assert _rows(read) == [
        *[(k, k * 10, None) for k in range(6) if k != 1],
        (9, 2**40, "x"),
    ]
    # time travel reads the version's own schema
    read = _read(spark, root, version=0)
    assert _rows(read) == [(k, k * 10) for k in range(6)]

    # ADD COLUMN on a one-column table: the recorded `struct<a:string>`
    # and `struct<k:bigint>` are equally wide, the stored column still
    # comes first, so a positional INSERT lands in the right columns
    one = str(tmp_path / "one")
    TL.log_append(spark, one, spark.range(2).selectExpr("id AS k"))
    TL.log_add_column(one, "a", "string")
    read = _read(spark, one)
    assert read.dtypes == [("k", "bigint"), ("a", "string")]
    TL.log_sql(spark, f"INSERT INTO `{one}` VALUES (5, 'x')")
    assert _rows(_read(spark, one)) == [(0, None), (1, None), (5, "x")]

    # a column-mapped table after RENAME + DROP: mapping order, logical
    # names, the dropped column gone
    TL.log_rename_column(root, "v", "value")
    TL.log_drop_column(root, "note")
    read = _read(spark, root)
    assert read.dtypes == [("k", "bigint"), ("value", "bigint")]

    # decimal drift: a decimal(12,2) append to a decimal(10,2) table
    # reads as decimal(12,2) though the first file stores decimal(10,2);
    # the timestamp column is stored as Spark's default INT96
    dec = str(tmp_path / "dec")
    ts = datetime.datetime(2024, 1, 2, 3, 4, 5, 123456)
    for k, d, p in [(1, "1.50", 10), (2, "1234567890.50", 12)]:
        TL.log_append(
            spark,
            dec,
            spark.createDataFrame(
                [(k, decimal.Decimal(d), ts)],
                f"k int, d decimal({p},2), t timestamp",
            ).coalesce(1),
        )
    read = _read(spark, dec)
    assert read.dtypes == [
        ("k", "int"), ("d", "decimal(12,2)"), ("t", "timestamp")
    ]
    assert len(_rows(read)) == 2

    # an emptied version: no live files, the recorded schema
    empty = str(tmp_path / "empty")
    TL.log_append(
        spark,
        empty,
        spark.createDataFrame([(0, 0)], "k long, v long"),
        partition_by=["bucket(4, k)"],
    )
    TL.log_delete_where(spark, empty, "k = 0")
    assert TL._snapshot(empty)["live"] == []
    read = _read(spark, empty)
    assert read.dtypes == [("k", "bigint"), ("v", "bigint")]
    assert _rows(read) == []

    # the CDC state table's live read (the benchmark's point read)
    cdc_root = str(tmp_path / "cdc")
    wire = CDC_WIRE_SCHEMAS["orders"]
    schema = T.StructType(
        [T.StructField("pk", T.StringType()), *wire.fields]
        + [
            T.StructField("is_tombstone", T.BooleanType()),
            T.StructField("partition", T.IntegerType()),
            T.StructField("kafka_offset", T.LongType()),
        ]
    )
    cols = TU._state_cols("orders")
    rows = [
        (f"orders:{k:06d}", *[None] * len(wire.fields), k == 2, 0, k)
        for k in range(4)
    ]
    TU.log_merge_cdc(
        spark, cdc_root, spark.createDataFrame(rows, schema).select(cols),
        "orders", 0,
    )
    live = _built_without_jobs(
        spark, lambda: TU.read_live(spark, cdc_root, "orders")
    )
    assert sorted(r["last_offset"] for r in live.collect()) == [0, 1, 3]
    _read(spark, cdc_root)


def test_schema_questions_open_at_most_one_footer(
    spark, tmp_path, monkeypatch
):
    """The DataSource's output schema and the UPDATE SET target check
    read the recorded schema plus, for column order, the first file's
    footer — not every live file's."""
    root = str(tmp_path / "t")
    TL.log_append(
        spark, root, spark.range(0, 8, 1, 8).selectExpr("id AS k")
    )
    assert len(TL._snapshot(root)["live"]) == 8
    opened = []
    read_schema = pq.read_schema
    monkeypatch.setattr(
        pq, "read_schema", lambda p: opened.append(p) or read_schema(p)
    )
    cols, _ = TS._arrow_out_schema(root, TL._snapshot(root))
    assert cols == ["k"] and len(opened) <= 1
    opened.clear()
    with pytest.raises(ValueError, match="not a column"):
        TL.log_update_where(spark, root, "k = 1", {"nope": "1"})
    assert len(opened) <= 1


def test_append_that_cannot_merge_types_is_refused(spark, tmp_path):
    """An append whose column type cannot merge with the recorded one
    (here int onto bigint) raises before anything publishes, through
    ``log_append`` and the DataSource writer; the table still reads.
    After a type widening, a type that upcasts is accepted."""
    TS.register(spark)
    root = str(tmp_path / "t")
    TL.log_append(spark, root, spark.range(3).selectExpr("id AS k"))
    bad = spark.createDataFrame([(5,)], "k int")
    with pytest.raises(ValueError, match="'k'"):
        TL.log_append(spark, root, bad)
    with pytest.raises(Exception, match="'k'"):
        bad.write.format("tablelog").mode("append").option(
            "path", root
        ).save()
    assert TL._versions(root) == [0]
    assert _rows(TL.log_read(spark, root)) == [(0,), (1,), (2,)]
    # a widened column takes only types that upcast to the widened type
    TL.log_alter_column_type(root, "k", "decimal(30,0)")
    with pytest.raises(ValueError, match="widened"):
        TL.log_append(spark, root, spark.createDataFrame([("x",)], "k string"))
    TL.log_append(spark, root, bad)
    assert _rows(TL.log_read(spark, root)) == [(0,), (1,), (2,), (5,)]


def test_replace_with_changed_column_type_stays_readable(spark, tmp_path):
    """CREATE OR REPLACE replaces every live file, so a column the query
    carries leaves the old type behind: reads and compaction see one
    type. A column the query lacks still reads as NULL."""
    root = str(tmp_path / "t")
    TL.log_append(
        spark, root, spark.range(3).selectExpr("id AS k", "id * 2 AS v")
    )
    TL.log_sql(
        spark,
        f"CREATE OR REPLACE TABLE `{root}` AS SELECT CAST(7 AS INT) AS k",
    )
    read = TL.log_read(spark, root)
    assert read.dtypes == [("k", "int"), ("v", "bigint")]
    assert _rows(read) == [(7, None)]
    TL.log_compact(spark, root)
    assert _rows(TL.log_read(spark, root)) == [(7, None)]
    # the replaced version still reads in its own type
    old = TL.log_read(spark, root, version=0)
    assert old.dtypes == [("k", "bigint"), ("v", "bigint")]
    assert _rows(old) == [(0, 0), (1, 2), (2, 4)]


def test_scan_schema_merges_recorded_types_like_merge_schema():
    """A column recorded under several types reads as the type parquet's
    mergeSchema gives it; a widen override wins; other conflicts raise."""

    def schema(*recorded, widen=None):
        state = {"schemas": list(recorded), "widen": widen or {}}
        return TL._schema_from_manifest(state).simpleString()

    assert schema(
        "struct<k:decimal(12,2),v:string>", "struct<k:decimal(22,2),v:string>"
    ) == "struct<k:decimal(22,2),v:string>"
    assert schema(
        "struct<s:struct<a:int>,m:array<decimal(5,1)>>",
        "struct<s:struct<a:int,b:string>,m:array<decimal(9,1)>>",
    ) == "struct<s:struct<a:int,b:string>,m:array<decimal(9,1)>>"
    # a metadata-only ADD COLUMN lands after the table's columns
    assert schema("struct<a0:int>", "struct<k:bigint,v:int>") == (
        "struct<k:bigint,v:int,a0:int>"
    )
    assert schema(
        "struct<k:int>", "struct<k:bigint>", widen={"k": "bigint"}
    ) == "struct<k:bigint>"
    for a, b in [("int", "bigint"), ("decimal(12,2)", "decimal(12,3)")]:
        with pytest.raises(ValueError, match="recorded as both"):
            schema(f"struct<k:{a}>", f"struct<k:{b}>")
