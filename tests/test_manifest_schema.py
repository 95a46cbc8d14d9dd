"""The schema and rowkey a KV table's manifest records (``layout.commit``):
which commits record them, that the recorded schema is exactly what Spark
would infer from the files, that ``load_table`` reads with it without a
Spark job, and that compaction keeps the recorded rowkey order."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T
from test_python_datasource import ALL_TYPES

from spark_hbase_connector_spark.operators.compaction import compact_flush_files
from spark_hbase_connector_spark.sources.catalog import parse_catalog
from spark_hbase_connector_spark.sources.layout import commit, data_files, snapshot
from spark_hbase_connector_spark.sources.python_datasource import (
    HbaseKVBatchWriter,
    register_hbasekv,
)
from spark_hbase_connector_spark.sources.table import load_table, write_table


def _catalog(columns: dict[str, str]) -> dict:
    cols = {"k": {"cf": "rowkey", "col": "k", "type": "long"}}
    cols.update({n: {"cf": "d", "col": n, "type": t} for n, t in columns.items()})
    return {"table": "t:manifest", "rowkey": "k", "columns": cols}


def _hbasekv_write(spark, catalog, rows, path):
    schema = parse_catalog(catalog).to_struct_type()
    (spark.createDataFrame(rows, schema).write.format("hbasekv")
        .option("catalog", json.dumps(catalog)).option("path", path)
        .option("physical_naming", "cf:col").mode("append").save())


def _jobs(spark, build) -> int:
    """Spark jobs launched while ``build()`` runs."""
    sc = spark.sparkContext
    group = f"count-{id(build)}"
    try:
        sc.setJobGroup(group, "job count")
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_commit_records_a_schema_only_when_certain(tmp_path):
    """An overwrite (or a first write) records the writer's schema and
    rowkey; an append of the same schema and a pure remove keep them; an
    append of another schema, or a first manifest over files already in
    the directory, records none."""
    a = T.StructType([T.StructField("k", T.LongType(), False)])
    b = T.StructType([T.StructField("k", T.LongType()), T.StructField("d:v", T.StringType())])
    recorded = lambda p: snapshot(p)[1:]  # noqa: E731

    def staged(name):
        f = str(tmp_path / f"staged-{name}")
        open(f, "w").close()  # commit never opens a staged file
        return f

    p = str(tmp_path / "t")
    commit(p, {staged(1): "1.parquet"}, schema=a, rowkey="k")
    nullable_a = {"type": "struct", "fields": [{"name": "k", "type": "long", "nullable": True, "metadata": {}}]}
    assert recorded(p) == (nullable_a, "k")
    commit(p, {staged(2): "2.parquet"}, schema=a, rowkey="k")
    assert recorded(p) == (nullable_a, "k")
    commit(p, {}, [os.path.join(p, "1.parquet")])
    assert recorded(p) == (nullable_a, "k")
    commit(p, {staged(3): "3.parquet"}, schema=b, rowkey="k")
    assert recorded(p) == (None, "k")
    commit(p, {staged(4): "4.parquet"}, data_files(p), schema=b, rowkey="k")
    assert recorded(p) == (b.jsonValue(), "k")

    q = str(tmp_path / "foreign")
    os.makedirs(q)
    open(os.path.join(q, "old.parquet"), "w").close()
    commit(q, {staged(5): "new.parquet"}, schema=a, rowkey="k")
    assert recorded(q) == (None, None)


def test_recorded_schema_is_what_spark_infers(spark, tmp_path):
    """For every catalog type, the schema each writer records equals
    ``spark.read.parquet(*files).schema``: nullable all the way down
    (write_table's input has a non-nullable array of non-null elements)
    and zone-less hbasekv timestamps as ``timestamp_ntz``."""
    register_hbasekv(spark)
    catalog = _catalog({n: t for n, (t, _, _) in ALL_TYPES.items()})
    rows = [
        (2,) + tuple(v for _, v, _ in ALL_TYPES.values()),
        (1,) + (None,) * len(ALL_TYPES),
        (3,) + tuple(v for _, v, _ in ALL_TYPES.values()),
    ]
    struct = parse_catalog(catalog).to_struct_type()
    table_dir, batch_dir, stream_dir = (str(tmp_path / n) for n in ("table", "batch", "stream"))

    df = spark.createDataFrame(rows, struct).withColumn("c_arr", F.array(F.lit(1), F.lit(3)))
    assert not df.schema["c_arr"].nullable and not df.schema["c_arr"].dataType.containsNull
    write_table(df, catalog, table_dir, num_partitions=2)
    _hbasekv_write(spark, catalog, rows[:2], batch_dir)
    _hbasekv_write(spark, catalog, rows[2:], batch_dir)
    q = (
        spark.readStream.format("hbasekv")
        .option("catalog", json.dumps(catalog)).option("path", batch_dir)
        .option("physical_naming", "cf:col").load()
        .writeStream.format("hbasekv")
        .option("catalog", json.dumps(catalog)).option("path", stream_dir)
        .option("physical_naming", "cf:col")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    def assert_recorded_is_inferred(path):
        table = snapshot(path)
        assert table.schema is not None and table.rowkey == "k", path
        inferred = spark.read.parquet(*table.files).schema
        assert T.StructType.fromJson(table.schema) == inferred, path

    for path in (table_dir, batch_dir, stream_dir):
        assert_recorded_is_inferred(path)
    assert len(data_files(batch_dir)) > 1
    compact_flush_files(spark, batch_dir)
    assert len(data_files(batch_dir)) == 1
    assert_recorded_is_inferred(batch_dir)
    assert T.StructType.fromJson(snapshot(stream_dir).schema)["d:c_ts"].dataType == T.TimestampNTZType()


def test_column_subset_append_records_no_schema_and_reads(spark, tmp_path):
    """An hbasekv append of a column subset onto a write_table table
    records no schema; load_table still reads every file's columns, and
    so does compacting the two files into one, which records the merged
    schema again."""
    register_hbasekv(spark)
    full = _catalog({"a": "string", "b": "long"})
    subset = _catalog({"a": "string"})
    path = str(tmp_path / "mixed")
    write_table(spark.createDataFrame([(1, "x", 10), (2, "y", 20)], "k long, a string, b long"),
                full, path, num_partitions=1)
    _hbasekv_write(spark, subset, [(3, "z")], path)

    expect = [(1, "x", 10), (2, "y", 20), (3, "z", None)]
    kv = (spark.read.format("hbasekv").option("catalog", json.dumps(full)).option("path", path)
          .option("physical_naming", "cf:col").load())
    assert sorted(tuple(r) for r in kv.collect()) == expect
    assert sorted(tuple(r) for r in load_table(spark, full, path, "cf:col").collect()) == expect
    assert snapshot(path).schema is None and snapshot(path).rowkey == "k"
    compact_flush_files(spark, path)
    assert len(data_files(path)) == 1 and snapshot(path).schema is not None
    assert sorted(tuple(r) for r in load_table(spark, full, path, "cf:col").collect()) == expect


def test_load_table_with_recorded_schema_launches_no_job(spark, tmp_path):
    """Building load_table over a table whose manifest records its schema
    infers nothing, for a write_table table and for an hbasekv table after
    an append of the same schema."""
    register_hbasekv(spark)
    catalog = _catalog({"a": "string"})
    rows = [(k, f"v{k}") for k in range(8)]
    table_dir, kv_dir = str(tmp_path / "table"), str(tmp_path / "kv")
    write_table(spark.createDataFrame(rows, "k long, a string"), catalog, table_dir, num_partitions=4)
    _hbasekv_write(spark, catalog, rows[:4], kv_dir)
    _hbasekv_write(spark, catalog, rows[4:], kv_dir)
    for path in (table_dir, kv_dir):
        assert _jobs(spark, lambda: load_table(spark, catalog, path, "cf:col")) == 0, path
        assert sorted(tuple(r) for r in load_table(spark, catalog, path, "cf:col").collect()) == rows


def test_compaction_keeps_rowkey_order(spark, tmp_path):
    """Four disjoint rowkey-sorted flush files of 100, 4000, 300 and 2000
    rows compact into one file whose rowkeys never decrease and whose row
    groups hold disjoint, ascending rowkey ranges (Spark packs the four
    splits by size, so a plain concatenation would not)."""
    catalog = _catalog({"v": "long"})
    cat = parse_catalog(catalog)
    path = str(tmp_path / "flush")
    lo = 0
    for n in (100, 4000, 300, 2000):
        w = HbaseKVBatchWriter(catalog=cat, schema=cat.to_struct_type(), path=path,
                               physical_naming="cf:col")
        keys = list(range(lo, lo + n))
        batch = pa.RecordBatch.from_pydict({"k": keys, "v": keys}, schema=pa.schema(
            [("k", pa.int64()), ("v", pa.int64())]))
        w.commit([w.write(iter([batch]))])
        lo += n
    hadoop = spark.sparkContext._jsc.hadoopConfiguration()
    hadoop.set("parquet.block.size", str(4 << 10))  # many row groups per file
    try:
        compact_flush_files(spark, path)
    finally:
        hadoop.unset("parquet.block.size")

    [merged] = data_files(path)
    keys = pq.read_table(merged, columns=["k"]).column("k").to_pylist()
    assert keys == list(range(lo))
    meta = pq.read_metadata(merged)
    bounds = [
        (meta.row_group(i).column(0).statistics.min, meta.row_group(i).column(0).statistics.max)
        for i in range(meta.num_row_groups)
    ]
    assert len(bounds) > 1
    assert all(hi < nxt_lo for (_, hi), (nxt_lo, _) in zip(bounds, bounds[1:]))
