"""The registered spark.read.format('hbasekv') source (Python DS API)."""

import datetime
import decimal
import json

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from spark_hbase_connector_spark.sources.catalog import parse_catalog
from spark_hbase_connector_spark.sources.layout import data_files
from spark_hbase_connector_spark.sources.python_datasource import (
    HbaseKVReader,
    register_hbasekv,
)
from spark_hbase_connector_spark.sources.table import load_table, write_table

CATALOG = {
    "table": "tpch:customer",
    "rowkey": "c_custkey",
    "columns": {
        "c_custkey": {"cf": "rowkey", "col": "c_custkey", "type": "long"},
        "c_name": {"cf": "info", "col": "c_name", "type": "string"},
        "c_acctbal": {"cf": "info", "col": "c_acctbal", "type": "double"},
        "c_phantom": {"cf": "info", "col": "c_phantom", "type": "string"},
    },
}


@pytest.fixture(scope="module")
def registered(spark):
    register_hbasekv(spark)
    return spark


def _read(spark, path, **opts):
    r = (
        spark.read.format("hbasekv")
        .option("catalog", json.dumps(CATALOG))
        .option("path", path)
    )
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_basic_read_and_schema(registered, sf_dir):
    df = _read(registered, f"{sf_dir}/customer.parquet")
    assert [f.name for f in df.schema.fields] == [
        "c_custkey",
        "c_name",
        "c_acctbal",
        "c_phantom",
    ]
    assert df.count() == 150
    # sparse missing column -> NULL
    assert df.where(F.col("c_phantom").isNotNull()).count() == 0


def test_filters_match_reference_flagship(registered, sf_dir):
    df = _read(registered, f"{sf_dir}/customer.parquet")
    df.createOrReplaceTempView("kv_customer")
    rows = registered.sql(
        """SELECT c_custkey, c_name FROM kv_customer
           WHERE c_custkey <= 5 AND c_acctbal > 0.0 ORDER BY c_custkey"""
    ).collect()
    keys = [r.c_custkey for r in rows]
    assert all(k <= 5 for k in keys)
    # cross-check against the native loader
    from spark_hbase_connector_spark.sources.table import load_table

    expect = (
        load_table(registered, CATALOG, f"{sf_dir}/customer.parquet")
        .where((F.col("c_custkey") <= 5) & (F.col("c_acctbal") > 0.0))
        .count()
    )
    assert len(rows) == expect


def test_typed_negative_comparison(registered, sf_dir):
    """The defect the reference has (unsigned byte-order comparisons) must
    NOT reproduce: negative acctbal filters return the right rows."""
    df = _read(registered, f"{sf_dir}/customer.parquet")
    got = df.where(F.col("c_acctbal") < 0.0).count()
    from spark_hbase_connector_spark.sources.table import load_table

    expect = (
        load_table(registered, CATALOG, f"{sf_dir}/customer.parquet")
        .where(F.col("c_acctbal") < 0.0)
        .count()
    )
    assert got == expect > 0


def test_register_enables_filter_pushdown(spark, sf_dir):
    """register_hbasekv alone makes a filtered read work: the reader
    negotiates pushFilters, which Spark refuses with Python filter
    pushdown disabled."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "false")
    register_hbasekv(spark)
    df = _read(spark, f"{sf_dir}/customer.parquet")
    assert df.where(F.col("c_custkey") <= 5).count() == 6  # custkeys start at 0


def test_get_outside_every_file_and_empty_table(registered, tmp_path):
    """A rowkey no file can hold prunes every partition, and an empty
    table directory has none: both reads return no rows (Spark then calls
    read() without a partition)."""
    src = registered.createDataFrame(
        [Row(c_custkey=i, c_name=f"n{i}", c_acctbal=1.0) for i in range(100)]
    )
    written = {k: v for k, v in CATALOG["columns"].items() if k != "c_phantom"}
    out = str(tmp_path / "oob")
    write_table(src, {**CATALOG, "columns": written}, out, num_partitions=4)
    df = _read(registered, out, physical_naming="cf:col")
    assert df.where(F.col("c_custkey") == 10**9).collect() == []
    assert df.where(F.col("c_custkey").isin(-5, 10**9)).collect() == []
    assert df.where(F.col("c_custkey") == 42).count() == 1
    empty = tmp_path / "empty"
    empty.mkdir()
    assert _read(registered, str(empty)).collect() == []


def test_unknown_physical_naming_is_rejected(registered, sf_dir, tmp_path):
    """hbasekv read and write reject a physical_naming they do not know
    instead of silently reading or writing 'cf:col' names."""
    with pytest.raises(Exception, match="unknown physical_naming"):
        _read(registered, f"{sf_dir}/customer.parquet", physical_naming="cf_col").collect()
    df = registered.createDataFrame([Row(c_custkey=1, c_name="a", c_acctbal=1.0)])
    with pytest.raises(Exception, match="unknown physical_naming"):
        (df.write.format("hbasekv")
            .option("catalog", json.dumps(CATALOG))
            .option("path", str(tmp_path / "w"))
            .option("physical_naming", "qualifier")
            .mode("append").save())


def test_scan_pushes_columns_and_filter_into_reader(spark, sf_dir):
    """The pyarrow scan itself must receive the pruned column list and the
    compiled predicate: the returned table has exactly the catalog's present
    physical columns (file columns outside the catalog never materialize)
    and is already filtered (only absent-column filters remain)."""
    from pyspark.sql.datasource import GreaterThan, IsNull

    cat = parse_catalog({**CATALOG, "columns": {k: dict(v) for k, v in CATALOG["columns"].items()}})
    reader = HbaseKVReader(
        catalog=cat,
        schema=cat.to_struct_type(),
        path=f"{sf_dir}/customer.parquet",
        physical_naming="column",
    )
    leftover = list(reader.pushFilters([GreaterThan(("c_custkey",), 100), IsNull(("c_phantom",))]))
    assert leftover == []
    [part] = reader.partitions()
    table, rest = reader._scan(part)
    # projection pruned INSIDE the reader: catalog columns only (the file
    # has more: c_nationkey, c_mktsegment, ...), phantom column absent
    assert set(table.column_names) == {"c_custkey", "c_name", "c_acctbal"}
    # predicate applied INSIDE the reader (custkeys are 0..149 -> 49 rows)
    assert table.num_rows == 49
    import pyarrow.compute as pc

    assert pc.min(table.column("c_custkey")).as_py() > 100
    # only the absent-column filter is left for post-projection evaluation
    assert [type(f).__name__ for f in rest] == ["IsNull"]
    # and end-to-end rows still come out right (phantom IS NULL -> all pass)
    batches = list(reader.read(part))
    assert sum(b.num_rows for b in batches) == 49


def test_partition_pruning_by_rowkey_range(spark, tmp_path):
    """S8 parity done right: rowkey range bounds prune whole files before
    any read (the reference's unfixed TODO)."""
    cat = parse_catalog(
        {
            "table": "t:pr",
            "rowkey": "k",
            "columns": {
                "k": {"cf": "rowkey", "col": "k", "type": "long"},
                "v": {"cf": "d", "col": "v", "type": "string"},
            },
        }
    )
    src = spark.createDataFrame([Row(k=i, v=f"v{i}") for i in range(1000)])
    out = str(tmp_path / "pr")
    write_table(src, cat, out, num_partitions=8)

    from pyspark.sql.datasource import GreaterThan, LessThanOrEqual

    reader = HbaseKVReader(
        catalog=cat, schema=cat.to_struct_type(), path=out, physical_naming="cf:col"
    )
    all_parts = reader.partitions()
    assert len(all_parts) == 8
    leftover = list(
        reader.pushFilters([GreaterThan(("k",), 100), LessThanOrEqual(("k",), 200)])
    )
    assert leftover == []  # both accepted
    pruned = reader.partitions()
    assert 0 < len(pruned) < len(all_parts)
    # the pruned partitions still cover the requested range
    lo = min(p.rk_min for p in pruned)
    hi = max(p.rk_max for p in pruned)
    assert lo <= 101 and hi >= 200


def test_extended_filter_shapes_not_endswith_nullsafe(registered, sf_dir):
    """Round-3 taxonomy extension: NOT(...), ends-with, and null-safe
    equality evaluate with SQL semantics inside the scan. Cross-checked
    against the native loader on every shape."""
    from spark_hbase_connector_spark.sources.table import load_table

    df = _read(registered, f"{sf_dir}/customer.parquet")
    native = load_table(registered, CATALOG, f"{sf_dir}/customer.parquet")

    shapes = [
        ~(F.col("c_custkey") <= 100),
        F.col("c_name").endswith("1"),
        ~F.col("c_name").endswith("1"),
        F.col("c_acctbal").eqNullSafe(F.lit(None).cast("double")),
        ~F.col("c_phantom").eqNullSafe("x"),  # NULL <=> 'x' is False; NOT -> all rows
        ~F.col("c_name").contains("Customer"),
        # an IN list holding NULL never matches NULL and bounds no rowkey range
        F.col("c_custkey").isin(1, None),
        F.col("c_phantom").isin("x", None),
    ]
    for cond in shapes:
        got = df.where(cond).count()
        expect = native.where(cond).count()
        assert got == expect, f"shape {cond}: kv={got} native={expect}"
    # sanity: the NOT-phantom shape really is non-empty (all 150 rows)
    assert df.where(~F.col("c_phantom").eqNullSafe("x")).count() == 150


def test_not_filter_is_pushed_not_rejected(registered, sf_dir):
    """pushFilters must accept Not(supported-leaf) rather than bouncing it
    back to Spark (which would silently disable scan-side evaluation)."""
    from pyspark.sql.datasource import GreaterThan, Not

    rdr = HbaseKVReader(
        catalog=parse_catalog(CATALOG),
        schema=parse_catalog(CATALOG).to_struct_type(),
        path=f"{sf_dir}/customer.parquet",
        physical_naming="column",
    )
    leftover = list(rdr.pushFilters([Not(GreaterThan(("c_custkey",), 10))]))
    assert leftover == []
    assert len(rdr.pushed) == 1


def test_stream_reader_incremental_exactly_once(registered, tmp_path):
    """The hbasekv streaming reader: files arriving in an append-only
    directory are consumed exactly once across micro-batches (the
    memstore-flush changefeed analogue), and the decoded cells equal the
    batch read of the same directory."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "stream_tbl"
    d.mkdir()

    def flush(name, rows):
        pq.write_table(
            pa.table(
                {
                    "c_custkey": pa.array([r[0] for r in rows], pa.int64()),
                    "c_name": pa.array([r[1] for r in rows], pa.string()),
                    "c_acctbal": pa.array([r[2] for r in rows], pa.float64()),
                }
            ),
            d / name,
        )

    flush("00000.parquet", [(1, "a", 1.5), (2, "b", -2.5)])

    stream = (
        registered.readStream.format("hbasekv")
        .option("catalog", json.dumps(CATALOG))
        .option("path", str(d))
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("kv_stream_sink")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got1 = {
            (r.c_custkey, r.c_name, r.c_acctbal)
            for r in registered.sql("SELECT * FROM kv_stream_sink").collect()
        }
        assert got1 == {(1, "a", 1.5), (2, "b", -2.5)}

        flush("00001.parquet", [(3, "c", 0.0)])
        q.processAllAvailable()
        rows = registered.sql("SELECT * FROM kv_stream_sink").collect()
        got2 = {(r.c_custkey, r.c_name, r.c_acctbal) for r in rows}
        assert got2 == {(1, "a", 1.5), (2, "b", -2.5), (3, "c", 0.0)}
        assert len(rows) == 3  # exactly once: no file re-consumed
        # phantom catalog column decodes to NULL in streaming too
        assert all(
            r.c_phantom is None
            for r in registered.sql("SELECT * FROM kv_stream_sink").collect()
        )
    finally:
        q.stop()

    # batch read of the same directory sees the identical cells
    batch = {
        (r.c_custkey, r.c_name, r.c_acctbal)
        for r in _read(registered, str(d)).collect()
    }
    assert batch == {(1, "a", 1.5), (2, "b", -2.5), (3, "c", 0.0)}


def test_stream_writer_roundtrip_through_connector(registered, tmp_path):
    """Full streaming pipeline THROUGH the connector on both ends:
    hbasekv stream reader -> hbasekv stream writer -> hbasekv batch read.
    The sink directory must contain rowkey-sorted flush files named by
    batch id (consumable by the stream reader), no staging residue, and
    cell-for-cell the source data."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "src_tbl"
    dst = tmp_path / "dst_tbl"
    src.mkdir()
    dst.mkdir()
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array([3, 1, 2], pa.int64()),
                "c_name": pa.array(["c", "a", "b"]),
                "c_acctbal": pa.array([0.5, 1.5, -2.5], pa.float64()),
            }
        ),
        src / "00000.parquet",
    )

    stream = (
        registered.readStream.format("hbasekv")
        .option("catalog", json.dumps(CATALOG))
        .option("path", str(src))
        .load()
        .select("c_custkey", "c_name", "c_acctbal")
    )
    sink_catalog = {
        "table": "t:sink",
        "rowkey": "c_custkey",
        "columns": {
            k: v for k, v in CATALOG["columns"].items() if k != "c_phantom"
        },
    }
    q = (
        stream.writeStream.format("hbasekv")
        .option("catalog", json.dumps(sink_catalog))
        .option("path", str(dst))
        .option("checkpointLocation", str(tmp_path / "ckpt_w"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    flushed = sorted(f.name for f in dst.iterdir() if f.name.endswith(".parquet"))
    assert flushed and all(f.split("-")[0].isdigit() for f in flushed)
    staged_left = list((dst / ".staging").iterdir()) if (dst / ".staging").exists() else []
    assert staged_left == []
    # flush files are rowkey-sorted inside (the reader's pruning contract)
    first = pq.read_table(dst / flushed[0]).to_pydict()
    assert first["c_custkey"] == sorted(first["c_custkey"])

    back = (
        registered.read.format("hbasekv")
        .option("catalog", json.dumps(sink_catalog))
        .option("path", str(dst))
        .load()
    )
    got = {(r.c_custkey, r.c_name, r.c_acctbal) for r in back.collect()}
    assert got == {(1, "a", 1.5), (2, "b", -2.5), (3, "c", 0.5)}


def test_batch_writer_roundtrip_and_overwrite(registered, tmp_path):
    """df.write.format('hbasekv'): append publishes staged flush files
    atomically; overwrite replaces previously published files; the batch
    read returns exactly the written cells."""
    dst = tmp_path / "w_tbl"
    dst.mkdir()
    sink_catalog = {
        "table": "t:wsink",
        "rowkey": "c_custkey",
        "columns": {k: v for k, v in CATALOG["columns"].items() if k != "c_phantom"},
    }
    df1 = registered.createDataFrame(
        [Row(c_custkey=2, c_name="b", c_acctbal=-2.5),
         Row(c_custkey=1, c_name="a", c_acctbal=1.5)]
    )
    (df1.write.format("hbasekv")
        .option("catalog", json.dumps(sink_catalog))
        .option("path", str(dst)).mode("append").save())
    back = (registered.read.format("hbasekv")
            .option("catalog", json.dumps(sink_catalog))
            .option("path", str(dst)).load())
    assert {(r.c_custkey, r.c_name) for r in back.collect()} == {(1, "a"), (2, "b")}

    df2 = registered.createDataFrame([Row(c_custkey=9, c_name="z", c_acctbal=0.0)])
    (df2.write.format("hbasekv")
        .option("catalog", json.dumps(sink_catalog))
        .option("path", str(dst)).mode("overwrite").save())
    back2 = (registered.read.format("hbasekv")
             .option("catalog", json.dumps(sink_catalog))
             .option("path", str(dst)).load())
    assert [(r.c_custkey, r.c_name) for r in back2.collect()] == [(9, "z")]
    assert not list((dst / ".staging").iterdir()) if (dst / ".staging").exists() else True


def test_stream_reader_checkpoint_restart_exactly_once(registered, tmp_path):
    """Exactly-once across a query RESTART (not just across triggers):
    stop the query, add a flush file, restart from the same checkpoint
    into a file sink — the sink must contain every row exactly once."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "r_tbl"
    sink = tmp_path / "r_sink"
    ck = tmp_path / "r_ckpt"
    src.mkdir()

    def flush(name, keys):
        pq.write_table(
            pa.table(
                {
                    "c_custkey": pa.array(keys, pa.int64()),
                    "c_name": pa.array([f"n{k}" for k in keys]),
                    "c_acctbal": pa.array([float(k) for k in keys], pa.float64()),
                }
            ),
            src / name,
        )

    def run_once():
        stream = (
            registered.readStream.format("hbasekv")
            .option("catalog", json.dumps(CATALOG))
            .option("path", str(src))
            .load()
            .select("c_custkey", "c_name", "c_acctbal")
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ck))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    flush("00000.parquet", [1, 2])
    run_once()
    flush("00001.parquet", [3])
    run_once()

    got = sorted(
        r.c_custkey for r in registered.read.parquet(str(sink)).collect()
    )
    assert got == [1, 2, 3]


def test_writer_abort_cleans_staging(tmp_path):
    """The abort path: staged files from failed tasks are deleted and
    nothing is published."""
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from spark_hbase_connector_spark.sources.catalog import parse_catalog
    from spark_hbase_connector_spark.sources.python_datasource import (
        HbaseKVBatchWriter,
    )

    d = tmp_path / "a_tbl"
    d.mkdir()
    cat = parse_catalog(
        _json.dumps(
            {
                "table": "t:a",
                "rowkey": "k",
                "columns": {
                    "k": {"cf": "rowkey", "col": "k", "type": "long"},
                    "v": {"cf": "d", "col": "v", "type": "string"},
                },
            }
        )
    )
    w = HbaseKVBatchWriter(
        catalog=cat,
        schema=cat.to_struct_type(),
        path=str(d),
        physical_naming="column",
    )
    msg = w.write(iter([pa.RecordBatch.from_pydict({"k": [1, 2], "v": ["x", "y"]})]))
    assert pq.read_metadata(msg.staged).num_rows == 2 and (d / ".staging").exists()
    assert len(list((d / ".staging").iterdir())) == 1
    w.abort([msg, None])
    assert list((d / ".staging").iterdir()) == []
    assert [f for f in d.iterdir() if f.name.endswith(".parquet")] == []


def test_batch_writer_two_appends_accumulate(registered, tmp_path):
    """Two successive mode('append') writes must BOTH survive — published
    names are job-unique, never clobbered."""
    dst = tmp_path / "app_tbl"
    dst.mkdir()
    sink_catalog = {
        "table": "t:app",
        "rowkey": "c_custkey",
        "columns": {k: v for k, v in CATALOG["columns"].items() if k != "c_phantom"},
    }
    for batch in ([Row(c_custkey=1, c_name="a", c_acctbal=1.0)],
                  [Row(c_custkey=2, c_name="b", c_acctbal=2.0)]):
        (registered.createDataFrame(batch).write.format("hbasekv")
            .option("catalog", json.dumps(sink_catalog))
            .option("path", str(dst)).mode("append").save())
    back = (registered.read.format("hbasekv")
            .option("catalog", json.dumps(sink_catalog))
            .option("path", str(dst)).load())
    assert {(r.c_custkey, r.c_name) for r in back.collect()} == {(1, "a"), (2, "b")}


# one column per catalog type: (declared type, a non-NULL cell, the Arrow
# type of its Parquet column). The first eleven are the types flush files
# have always stored; decimal and array now store their declared types.
ALL_TYPES = {
    "c_bool": ("boolean", True, "bool"),
    "c_byte": ("byte", -3, "int8"),
    "c_short": ("short", 300, "int16"),
    "c_int": ("int", -70000, "int32"),
    "c_long": ("long", 2**40, "int64"),
    "c_float": ("float", 1.5, "float"),
    "c_double": ("double", -2.25, "double"),
    "c_str": ("string", "s", "string"),
    "c_bin": ("binary", b"\x00\xff", "binary"),
    "c_date": ("date", datetime.date(2020, 1, 2), "date32[day]"),
    "c_ts": ("timestamp", datetime.datetime(2020, 1, 2, 3, 4, 5, 6), "timestamp[us]"),
    "c_dec": ("decimal(10,2)", decimal.Decimal("12.34"), "decimal128(10, 2)"),
    "c_arr": ("array<int>", [1, None, 3], "list<element: int32>"),
}


def test_all_types_round_trip_both_writers(registered, tmp_path):
    """Every catalog type through the batch writer and the stream writer,
    read back through hbasekv and load_table: a row of NULL cells, a
    declared column no write holds, more write tasks than rows (the empty
    tasks stage nothing) and both physical namings. Each Parquet column
    has the Arrow type of its declared type."""
    import pyarrow.parquet as pq

    columns = {"k": {"cf": "rowkey", "col": "k", "type": "long"}}
    columns.update({n: {"cf": "d", "col": n, "type": t} for n, (t, _, _) in ALL_TYPES.items()})
    written = {"table": "t:types", "rowkey": "k", "columns": columns}
    never = {"never": {"cf": "d", "col": "never", "type": "string"}}
    declared = {**written, "columns": {**columns, **never}}
    rows = [
        (2,) + tuple(v for _, v, _ in ALL_TYPES.values()),
        (1,) + (None,) * len(ALL_TYPES),
    ]
    batch_dir, stream_dir = str(tmp_path / "batch"), str(tmp_path / "stream")
    (registered.createDataFrame(rows, parse_catalog(written).to_struct_type())
        .repartition(5).write.format("hbasekv")
        .option("catalog", json.dumps(written))
        .option("path", batch_dir).mode("append").save())
    counts = [pq.read_metadata(f).num_rows for f in data_files(batch_dir)]
    assert sum(counts) == 2 and all(counts)  # the empty tasks staged nothing
    q = (
        registered.readStream.format("hbasekv")
        .option("catalog", json.dumps(written)).option("path", batch_dir).load()
        .writeStream.format("hbasekv")
        .option("catalog", json.dumps(written)).option("path", stream_dir)
        .option("physical_naming", "cf:col")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    expect = sorted(r + (None,) for r in rows)
    for path, naming, prefix in ((batch_dir, "column", ""), (stream_dir, "cf:col", "d:")):
        stored = {"k": "int64", **{prefix + n: t for n, (_, _, t) in ALL_TYPES.items()}}
        for f in data_files(path):
            assert {fld.name: str(fld.type) for fld in pq.read_schema(f)} == stored
        kv = (registered.read.format("hbasekv")
              .option("catalog", json.dumps(declared)).option("path", path)
              .option("physical_naming", naming).load())
        native = load_table(registered, declared, path, physical_naming=naming)
        for df in (kv, native):
            assert sorted(tuple(r) for r in df.collect()) == expect, (path, df)
