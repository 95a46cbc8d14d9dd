"""load_table / write_table / KV-fidelity layout over real Parquet."""

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_hbase_connector_spark.sources.catalog import parse_catalog
from spark_hbase_connector_spark.sources.kv import from_kv, to_kv
from spark_hbase_connector_spark.sources.table import load_table, register, write_table

CUSTOMER_CATALOG = {
    "table": "tpch:customer",
    "rowkey": "c_custkey",
    "columns": {
        "c_custkey": {"cf": "rowkey", "col": "c_custkey", "type": "long"},
        "c_name": {"cf": "info", "col": "c_name", "type": "string"},
        "c_nationkey": {"cf": "info", "col": "c_nationkey", "type": "int"},
        "c_acctbal": {"cf": "info", "col": "c_acctbal", "type": "double"},
        "c_mktsegment": {"cf": "info", "col": "c_mktsegment", "type": "string"},
        # declared-but-never-written column: sparse missing-cell -> NULL
        "c_phantom": {"cf": "info", "col": "c_phantom", "type": "string"},
    },
}


def test_load_table_schema_and_sparse_null(spark, sf_dir):
    df = load_table(spark, CUSTOMER_CATALOG, f"{sf_dir}/customer.parquet")
    fields = {f.name: f for f in df.schema.fields}
    assert fields["c_custkey"].dataType == T.LongType()
    assert fields["c_nationkey"].dataType == T.IntegerType()
    assert fields["c_name"].metadata == {"columnFamily": "info", "column": "c_name"}
    # phantom column exists, typed, all NULL (HbasePartitionReader.scala:58 parity)
    assert fields["c_phantom"].dataType == T.StringType()
    assert df.where(F.col("c_phantom").isNotNull()).count() == 0
    assert df.count() > 0


def test_flagship_query_shape(spark, sf_dir):
    """The reference's own flagship query (ScalaDatasourceTest.scala:88-91):
    SELECT ... WHERE id IN (...) OR name = '...'."""
    register(spark, CUSTOMER_CATALOG, f"{sf_dir}/customer.parquet", "customer_v")
    rows = spark.sql(
        """
        SELECT c_custkey, c_name, c_acctbal FROM customer_v
        WHERE c_custkey IN (1,2,3,4,5) OR c_name = 'Customer#000000010'
        ORDER BY c_custkey
        """
    ).collect()
    keys = [r.c_custkey for r in rows]
    assert set(keys) >= {1, 2, 3, 4, 5}


def test_write_table_rowkey_sorted_roundtrip(spark, tmp_path):
    cat = parse_catalog(
        {
            "table": "t:edge",
            "rowkey": "k",
            "columns": {
                "k": {"cf": "rowkey", "col": "k", "type": "long"},
                "s": {"cf": "d", "col": "s", "type": "string"},
                "v": {"cf": "d", "col": "v", "type": "double"},
            },
        }
    )
    src = spark.createDataFrame(
        [Row(k=i, s=f"s{i}", v=float(i) / 3) for i in range(-50, 50)]
    )
    out = str(tmp_path / "edge")
    write_table(src, cat, out, num_partitions=4)
    back = load_table(spark, cat, out, physical_naming="cf:col")
    assert back.count() == 100
    # negative-rowkey range works with typed comparison (reference defect fixed)
    assert back.where(F.col("k") < -40).count() == 10
    got = {(r.k, r.s) for r in back.where(F.col("k").isin(-1, 0, 1)).collect()}
    assert got == {(-1, "s-1"), (0, "s0"), (1, "s1")}


def test_write_table_rowkey_phys_differs_from_logical(spark, tmp_path):
    """A catalog may declare a rowkey whose physical qualifier differs from
    the logical name; write->read must resolve BOTH through one convention
    (regression: mixed conventions read an all-NULL rowkey)."""
    cat = parse_catalog(
        {
            "table": "t:alias",
            "rowkey": "id",
            "columns": {
                "id": {"cf": "rowkey", "col": "rk", "type": "long"},
                "s": {"cf": "d", "col": "s", "type": "string"},
            },
        }
    )
    src = spark.createDataFrame([Row(id=i, s=f"s{i}") for i in range(10)])
    out = str(tmp_path / "alias")
    write_table(src, cat, out, num_partitions=2)
    back = load_table(spark, cat, out, physical_naming="cf:col")
    assert back.where(F.col("id").isNull()).count() == 0
    assert {(r.id, r.s) for r in back.collect()} == {(i, f"s{i}") for i in range(10)}
    # rowkey predicates still prune (non-NULL, typed)
    assert back.where(F.col("id") >= 8).count() == 2


@pytest.mark.parametrize("fmt", ["csv", "json", "orc"])
def test_write_load_text_formats_roundtrip(spark, tmp_path, fmt):
    """CSV/JSON/ORC source paths: catalog-typed read (no inference for the
    text formats; embedded schema for ORC), cf:col physical naming, same
    rowkey-sorted layout discipline."""
    cat = parse_catalog(
        {
            "table": f"t:{fmt}",
            "rowkey": "k",
            "columns": {
                "k": {"cf": "rowkey", "col": "k", "type": "long"},
                "s": {"cf": "d", "col": "s", "type": "string"},
                "v": {"cf": "d", "col": "v", "type": "double"},
                "flag": {"cf": "d", "col": "flag", "type": "boolean"},
            },
        }
    )
    src = spark.createDataFrame(
        [Row(k=i, s=f"s{i}", v=float(i) / 4, flag=i % 2 == 0) for i in range(-20, 20)]
    )
    out = str(tmp_path / fmt)
    write_table(src, cat, out, num_partitions=3, data_format=fmt)
    back = load_table(spark, cat, out, physical_naming="cf:col", data_format=fmt)
    assert [f.name for f in back.schema.fields] == ["k", "s", "v", "flag"]
    assert back.count() == 40
    got = {(r.k, r.s, r.v, r.flag) for r in back.where(F.col("k").between(-2, 1)).collect()}
    assert got == {(i, f"s{i}", i / 4, i % 2 == 0) for i in range(-2, 2)}


def test_kv_fidelity_roundtrip(spark):
    cat = parse_catalog(
        {
            "table": "t:people",
            "rowkey": "id",
            "columns": {
                "id": {"cf": "rowkey", "col": "id", "type": "long"},
                "name": {"cf": "i", "col": "name", "type": "string"},
                "age": {"cf": "i", "col": "age", "type": "int"},
                "height": {"cf": "i", "col": "height", "type": "double"},
                "alive": {"cf": "i", "col": "alive", "type": "boolean"},
                "born": {"cf": "i", "col": "born", "type": "date"},
            },
        }
    )
    rows = [
        Row(id=1, name="a", age=10, height=1.5, alive=True, born=dt.date(2000, 1, 1)),
        Row(id=2, name=None, age=20, height=2.5, alive=False, born=dt.date(1990, 5, 4)),
        Row(id=3, name="c", age=None, height=None, alive=None, born=None),
    ]
    schema = cat.to_struct_type()
    df = spark.createDataFrame(rows, schema=schema)
    kv = to_kv(df, cat)
    # NULLs produce no cell (sparse); row 3 has only name+rowkey
    assert kv.where(F.col("rowkey") == bytes.fromhex("0000000000000003")).count() == 1
    back = from_kv(kv, cat)
    got = {tuple(r) for r in back.collect()}
    want = {tuple(r) for r in df.collect()}
    assert got == want


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Two tables bucketed the same way on the join key must sort-merge
    join with NO exchange on either side (the co-located fact-fact join)."""
    from spark_hbase_connector_spark.plans.audit import explain_string
    from spark_hbase_connector_spark.sources.table import write_bucketed

    cat_a = parse_catalog(
        {
            "table": "t:ba",
            "rowkey": "k",
            "columns": {
                "k": {"cf": "rowkey", "col": "k", "type": "long"},
                "a": {"cf": "d", "col": "a", "type": "double"},
            },
        }
    )
    cat_b = parse_catalog(
        {
            "table": "t:bb",
            "rowkey": "k",
            "columns": {
                "k": {"cf": "rowkey", "col": "k", "type": "long"},
                "b": {"cf": "d", "col": "b", "type": "string"},
            },
        }
    )
    import shutil

    spark.sql("DROP TABLE IF EXISTS bkt_a")
    spark.sql("DROP TABLE IF EXISTS bkt_b")
    # a previous session may have left the managed-table directories behind
    # (DROP in a fresh catalog doesn't know them)
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("bkt_a", "bkt_b"):
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    write_bucketed(
        spark.createDataFrame([Row(k=i, a=i / 3.0) for i in range(500)]),
        cat_a,
        "bkt_a",
        buckets=4,
    )
    write_bucketed(
        spark.createDataFrame([Row(k=i, b=f"b{i}") for i in range(0, 500, 2)]),
        cat_b,
        "bkt_b",
        buckets=4,
    )
    # disable broadcast so the join strategy question is real
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
        plan = explain_string(j)
        assert "Exchange" not in plan, plan
        assert j.count() == 250
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_write_table_hive_partitioned_prunes(spark, tmp_path):
    """partition_by writes hive-layout directories (qualifier-named);
    a filter on the partition column must prune at the DIRECTORY level —
    the plan's PartitionFilters, the time-partitioned-ingest shape."""
    cat = parse_catalog(
        {
            "table": "t:pt",
            "rowkey": "k",
            "columns": {
                "k": {"cf": "rowkey", "col": "k", "type": "long"},
                "dt": {"cf": "d", "col": "dt", "type": "string"},
                "v": {"cf": "d", "col": "v", "type": "double"},
            },
        }
    )
    src = spark.createDataFrame(
        [Row(k=i, dt=f"2024-01-{i % 4 + 1:02d}", v=i / 2.0) for i in range(200)]
    )
    out = str(tmp_path / "pt")
    write_table(src, cat, out, num_partitions=2, partition_by="dt")
    back = load_table(spark, cat, out, physical_naming="cf:col")
    assert back.count() == 200
    q = back.where(F.col("dt") == "2024-01-02")
    assert q.count() == 50
    from spark_hbase_connector_spark.plans.audit import explain_string

    plan = explain_string(q)
    assert "PartitionFilters" in plan and "dt" in plan.split("PartitionFilters", 1)[1][:200], plan


def test_in_place_rewrite_reduces_files_and_preserves_rows(spark, tmp_path):
    """Whole-table compaction is write_table over a read of the same path."""
    import glob

    cat = parse_catalog(
        {
            "table": "t:cmp",
            "rowkey": "k",
            "columns": {
                "k": {"cf": "rowkey", "col": "k", "type": "long"},
                "v": {"cf": "d", "col": "v", "type": "double"},
            },
        }
    )
    out = str(tmp_path / "cmp")
    src = spark.createDataFrame([Row(k=i, v=i / 7.0) for i in range(1000)])
    write_table(src, cat, out, num_partitions=16)  # many small files
    before = len(glob.glob(f"{out}/*.parquet"))
    assert before == 16
    df = load_table(spark, cat, out, physical_naming="cf:col")
    write_table(df, cat, out, num_partitions=2)
    after = len(glob.glob(f"{out}/*.parquet"))
    assert after == 2
    back = load_table(spark, cat, out, physical_naming="cf:col")
    assert back.count() == 1000
    assert {(r.k, r.v) for r in back.where(F.col("k") < 3).collect()} == {
        (0, 0.0), (1, 1 / 7.0), (2, 2 / 7.0)
    }


def test_kv_versioned_latest_cell_wins(spark):
    """HBase cell versions: with a timestamp column, from_kv must return
    the highest-timestamp cell per (rowkey, cf, qualifier) — the region
    server's VERSIONS=1 read view — and still NULL for missing cells."""
    cat = parse_catalog(
        {
            "table": "t:v",
            "rowkey": "id",
            "columns": {
                "id": {"cf": "rowkey", "col": "id", "type": "long"},
                "name": {"cf": "i", "col": "name", "type": "string"},
                "age": {"cf": "i", "col": "age", "type": "int"},
            },
        }
    )
    from spark_hbase_connector_spark.sources import codec

    def cell(rk, cf, q, val, ts):
        return Row(rowkey=codec.encode("long", rk), cf=cf, qualifier=q, value=val, ts=ts)

    kv = spark.createDataFrame(
        [
            cell(1, "i", "name", codec.encode("string", "old"), 100),
            cell(1, "i", "name", codec.encode("string", "new"), 200),
            cell(1, "i", "age", codec.encode("int", 30), 100),
            # row 2: only an older name version, no age cell at all
            cell(2, "i", "name", codec.encode("string", "solo"), 50),
        ],
        "rowkey binary, cf string, qualifier string, value binary, ts long",
    )
    got = {r.id: (r.name, r.age) for r in from_kv(kv, cat, ts_col="ts").collect()}
    assert got == {1: ("new", 30), 2: ("solo", None)}


def test_kv_cell_bytes_are_hbase_wire_format(spark):
    cat = parse_catalog(
        {
            "table": "t:w",
            "rowkey": "id",
            "columns": {
                "id": {"cf": "rowkey", "col": "id", "type": "long"},
                "age": {"cf": "i", "col": "age", "type": "int"},
            },
        }
    )
    df = spark.createDataFrame([Row(id=5, age=-1)], schema=cat.to_struct_type())
    cells = to_kv(df, cat).collect()
    assert len(cells) == 1
    cell = cells[0]
    assert bytes(cell.rowkey) == b"\x00\x00\x00\x00\x00\x00\x00\x05"
    assert bytes(cell.value) == b"\xff\xff\xff\xff"


@pytest.mark.parametrize(
    "col,fragment",
    [("c_custkey", "c_custkey"), ("c_acctbal", "c_acctbal")],
)
def test_pushdown_reaches_scan(spark, sf_dir, col, fragment):
    from spark_hbase_connector_spark.plans.audit import (
        assert_columns_pruned,
        assert_filter_pushed,
    )

    df = load_table(spark, CUSTOMER_CATALOG, f"{sf_dir}/customer.parquet")
    q = df.where(F.col(col) > 10).select("c_custkey", "c_name")
    assert_filter_pushed(q, fragment)
    assert_columns_pruned(q, {"c_custkey", "c_name", col})


def test_dynamic_partition_pruning(spark, tmp_path):
    """Joining a dt-partitioned fact against a filtered dimension must
    inject a runtime (dynamic) partition filter into the fact scan —
    at 100 TB this is the difference between scanning one day's
    directories and scanning all of them. Asserted via the plan's
    `dynamicpruning` subquery in PartitionFilters."""
    from spark_hbase_connector_spark.plans.audit import explain_string

    cat = parse_catalog(
        {
            "table": "t:dpp",
            "rowkey": "k",
            "columns": {
                "k": {"cf": "rowkey", "col": "k", "type": "long"},
                "dt": {"cf": "d", "col": "dt", "type": "string"},
                "v": {"cf": "d", "col": "v", "type": "double"},
            },
        }
    )
    fact = spark.createDataFrame(
        [Row(k=i, dt=f"p{i % 8 + 1:02d}", v=i / 2.0) for i in range(2000)]
    )
    out = str(tmp_path / "dpp")
    write_table(fact, cat, out, num_partitions=2, partition_by="dt")
    back = load_table(spark, cat, out, physical_naming="cf:col")
    dim_path = str(tmp_path / "dpp_dim")
    # dim must be a stats-bearing table (not a LogicalRDD) and the filter a
    # "likely selective" predicate (comparison/IN/LIKE — a bare boolean
    # attribute does not qualify) or the DPP cost model rejects the filter
    spark.createDataFrame(
        [Row(dt=f"p{d:02d}", temp=("hot" if d == 3 else "cold")) for d in range(1, 9)]
    ).write.mode("overwrite").parquet(dim_path)
    dim = spark.read.parquet(dim_path)
    j = back.join(F.broadcast(dim.where(F.col("temp") == "hot")), "dt")
    plan = explain_string(j)
    assert "dynamicpruning" in plan.lower(), plan
    assert j.count() == 250
