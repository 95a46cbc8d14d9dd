"""sources/stats_scan.py — aggregate & limit pushdown at the library level.

The correctness story the registry differential can't tell: the
boundary/interior row-group split (only boundary groups touch data
pages), the file-prefix pruning of head_by_rowkey, statistics-absent
fallback, and sparse-column (declared-never-written) aggregation."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from spark_hbase_connector_spark.sources.layout import data_files, file_bounds
from spark_hbase_connector_spark.sources.stats_scan import (
    footer_stats_agg,
    head_by_rowkey,
)
from spark_hbase_connector_spark.sources.table import load_table, write_table

CATALOG = {
    "table": "fixtures:stats_kv",
    "rowkey": "k",
    "columns": {
        "k": {"cf": "rowkey", "col": "k", "type": "long"},
        "v": {"cf": "d", "col": "v", "type": "double"},
        "s": {"cf": "d", "col": "s", "type": "string"},
        # declared, never written -> sparse cell, aggregates as all-NULL
        "ghost": {"cf": "d", "col": "ghost", "type": "double"},
    },
}

N_ROWS = 4000
N_FILES = 5


@pytest.fixture(scope="module")
def dataset(spark):
    path = os.path.join(
        os.environ.get("SPARK_GRAFT_TMP", "/tmp"),
        "spark_hbase_connector_fixtures",
        "stats_scan_unit",
    )
    df = spark.range(1, N_ROWS + 1).select(
        F.col("id").alias("k"),
        (F.col("id") * 1.5 - 1000.0).alias("v"),
        F.concat(F.lit("s"), F.col("id")).alias("s"),
        F.lit(None).cast("double").alias("ghost"),
    )
    # drop ghost before writing: the catalog declares it, the file never has it
    cat = dict(CATALOG)
    write_cat = {
        "table": cat["table"],
        "rowkey": cat["rowkey"],
        "columns": {n: c for n, c in CATALOG["columns"].items() if n != "ghost"},
    }
    write_table(df.drop("ghost"), write_cat, path, num_partitions=N_FILES)
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _full(spark, dataset):
    return load_table(spark, CATALOG, dataset, physical_naming="cf:col")


def test_whole_table_agg_matches_scan(spark, dataset):
    got = footer_stats_agg(
        spark, dataset, CATALOG, agg_columns=("v", "ghost")
    ).first()
    exp = (
        _full(spark, dataset)
        .agg(
            F.count("*").alias("n"),
            F.count("v").alias("nv"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
            F.count("ghost").alias("ng"),
        )
        .first()
    )
    assert got.n_total == exp.n == N_ROWS
    assert got.n_v == exp.nv
    assert got.min_v == exp.mn and got.max_v == exp.mx
    # sparse declared-never-written column: COUNT 0, MIN/MAX NULL
    assert got.n_ghost == 0 == exp.ng
    assert got.min_ghost is None and got.max_ghost is None
    # the contract: everything came from footers, no data pages
    assert got.n_meta_only_rows == N_ROWS
    assert got.n_scanned_rows == 0


def test_observability_split_sums_exactly_under_fallback(spark, dataset):
    """Whole-table mode with a mix of stats-answered (v) and fallback (s —
    string stats are untrusted) columns: a fallback group's rows must land
    in n_scanned_rows exactly ONCE (not once per fallback column, and not
    also in n_meta_only_rows), so the split sums to n_total exactly."""
    got = footer_stats_agg(spark, dataset, CATALOG, agg_columns=("v", "s")).first()
    assert got.n_scanned_rows + got.n_meta_only_rows == got.n_total == N_ROWS
    # every group has the string column -> every group fell back
    assert got.n_scanned_rows == N_ROWS and got.n_meta_only_rows == 0
    # and the aggregates themselves are still exact
    exp = (
        _full(spark, dataset)
        .agg(F.min("v").alias("mnv"), F.max("s").alias("mxs"))
        .first()
    )
    assert got.min_v == exp.mnv and got.max_s == exp.mxs


@pytest.mark.parametrize(
    "lo,hi",
    [
        (100, 700),  # splits row groups on both sides
        (None, 1234),  # unbounded low
        (3999, None),  # unbounded high, tail
        (2000, 2000),  # single key
        (900000, 990000),  # empty range beyond the table
        (1, N_ROWS),  # whole table as a range
    ],
)
def test_range_count_exact(spark, dataset, lo, hi):
    got = footer_stats_agg(spark, dataset, CATALOG, rowkey_range=(lo, hi)).first()
    cond = F.lit(True)
    if lo is not None:
        cond = cond & (F.col("k") >= lo)
    if hi is not None:
        cond = cond & (F.col("k") <= hi)
    exp = _full(spark, dataset).where(cond).count()
    assert got.n_total == exp
    # boundary groups are the only scanned ones: never the whole table
    # (whole-table range: interior groups still answer from metadata)
    assert got.n_scanned_rows + got.n_meta_only_rows >= got.n_total
    if lo is not None and hi is not None and hi < 900000:
        assert got.n_scanned_rows < N_ROWS


def test_range_mode_rejects_minmax(spark, dataset):
    with pytest.raises(ValueError, match="rowkey range"):
        footer_stats_agg(
            spark, dataset, CATALOG, agg_columns=("v",), rowkey_range=(1, 10)
        )


def test_string_minmax_falls_back_to_column_read(spark, dataset):
    """String stats may be writer-truncated, so the implementation must NOT
    trust them: it reads the column instead, and still gets exact answers."""
    got = footer_stats_agg(spark, dataset, CATALOG, agg_columns=("s",)).first()
    exp = (
        _full(spark, dataset)
        .agg(F.count("s").alias("n"), F.min("s").alias("mn"), F.max("s").alias("mx"))
        .first()
    )
    assert (got.n_s, got.min_s, got.max_s) == (exp.n, exp.mn, exp.mx)
    assert got.n_scanned_rows > 0  # proof the fallback path ran


def test_stats_absent_fallback(spark, tmp_path):
    """A file written without statistics still aggregates exactly (per-group
    column read fallback)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "nostats")
    os.makedirs(p, exist_ok=True)
    tbl = pa.table({"k": list(range(1, 101)), "d:v": [float(i) * 2 for i in range(1, 101)]})
    pq.write_table(tbl, os.path.join(p, "part-0.parquet"), write_statistics=False)
    cat = {
        "table": "fixtures:nostats",
        "rowkey": "k",
        "columns": {
            "k": {"cf": "rowkey", "col": "k", "type": "long"},
            "v": {"cf": "d", "col": "v", "type": "double"},
        },
    }
    got = footer_stats_agg(spark, p, cat, agg_columns=("v",)).first()
    assert got.n_total == 100
    assert got.n_v == 100 and got.min_v == 2.0 and got.max_v == 200.0
    assert got.n_scanned_rows > 0
    # range mode without rowkey stats: the group must be scanned, count exact
    got_r = footer_stats_agg(spark, p, cat, rowkey_range=(10, 20)).first()
    assert got_r.n_total == 11
    assert got_r.n_meta_only_rows == 0


def test_manifest_bounds(spark, dataset):
    rows = file_bounds(data_files(dataset), "k")
    assert len(rows) == N_FILES
    assert sum(r.n_rows for r in rows) == N_ROWS
    # write_table layout: non-overlapping rowkey ranges across files
    spans = sorted((r.rk_min, r.rk_max) for r in rows)
    for (a_lo, a_hi), (b_lo, b_hi) in zip(spans, spans[1:]):
        assert a_hi < b_lo


def test_head_by_rowkey_plans_without_spark_jobs(spark, dataset):
    """Planning is a driver-side footer read: head_by_rowkey launches no
    Spark job beyond what building its load_table read over the selected
    files launches by itself (Spark's parquet schema inference)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("head-plan", "head_by_rowkey planning")
        plan = head_by_rowkey(spark, dataset, CATALOG, n=25)
        sc.setJobGroup("head-read", "the same read built directly")
        load_table(spark, CATALOG, plan.files_selected, physical_naming="cf:col")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(tracker.getJobIdsForGroup("head-plan")) == len(
        tracker.getJobIdsForGroup("head-read")
    )


def test_every_planner_lists_the_same_files(spark, dataset, tmp_path):
    """A table directory also holding non-data files: every reader of the
    layout agrees with Spark's own listing (``_``/``.``-prefixed files
    are not data)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from spark_hbase_connector_spark.operators.compaction import plan_compaction
    from spark_hbase_connector_spark.sources.python_datasource import (
        register_hbasekv,
    )

    p = str(tmp_path / "stray")
    shutil.copytree(dataset, p)
    pq.write_table(
        pa.table({"k": [N_ROWS + 1, N_ROWS + 2], "d:v": [0.0, 0.0], "d:s": ["x", "y"]}),
        os.path.join(p, "_stray.parquet"),
    )
    assert load_table(spark, CATALOG, p, physical_naming="cf:col").count() == N_ROWS
    register_hbasekv(spark)
    kv = (
        spark.read.format("hbasekv")
        .option("catalog", json.dumps(CATALOG))
        .option("path", p)
        .option("physical_naming", "cf:col")
        .load()
    )
    assert kv.count() == N_ROWS
    assert footer_stats_agg(spark, p, CATALOG).first().n_total == N_ROWS
    plan = head_by_rowkey(spark, p, CATALOG, n=N_ROWS + 5)
    assert plan.files_total == N_FILES
    assert plan.df.count() == N_ROWS
    assert sum(len(g) for g in plan_compaction(p)) == N_FILES


def test_head_by_rowkey_prunes_and_matches(spark, dataset):
    plan = head_by_rowkey(spark, dataset, CATALOG, n=25)
    exp = (
        _full(spark, dataset)
        .orderBy("k")
        .limit(25)
        .select("k", "v", "s")
        .collect()
    )
    got = plan.df.select("k", "v", "s").collect()
    assert got == exp
    # 25 rows out of 4000 across 5 range-partitioned files -> ONE file read
    assert plan.files_total == N_FILES
    assert len(plan.files_selected) == 1


def test_head_larger_than_table(spark, dataset):
    plan = head_by_rowkey(spark, dataset, CATALOG, n=N_ROWS + 5)
    assert len(plan.files_selected) == N_FILES
    assert plan.df.count() == N_ROWS


def test_head_topn_physical_plan(spark, dataset):
    """The pruned head plans as TakeOrderedAndProject — the TopN physical
    operator, not a global sort."""
    plan = head_by_rowkey(spark, dataset, CATALOG, n=10)
    phys = plan.df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in phys


def test_head_with_statless_highkey_file(spark, tmp_path):
    """Regression: a statistics-less file full of LARGE keys must not
    satisfy the n-row quota — the low-key files still have to be read,
    or the head silently returns the wrong rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "mixed")
    os.makedirs(p, exist_ok=True)
    # two stats-bearing files with the LOW keys
    pq.write_table(
        pa.table({"k": list(range(1, 101)), "d:v": [1.0] * 100}),
        os.path.join(p, "a.parquet"),
    )
    pq.write_table(
        pa.table({"k": list(range(101, 201)), "d:v": [2.0] * 100}),
        os.path.join(p, "b.parquet"),
    )
    # a stats-less file with only HIGH keys, big enough to cover any n
    pq.write_table(
        pa.table({"k": list(range(100000, 100500)), "d:v": [9.0] * 500}),
        os.path.join(p, "c.parquet"),
        write_statistics=False,
    )
    cat = {
        "table": "fixtures:mixed",
        "rowkey": "k",
        "columns": {
            "k": {"cf": "rowkey", "col": "k", "type": "long"},
            "v": {"cf": "d", "col": "v", "type": "double"},
        },
    }
    plan = head_by_rowkey(spark, p, cat, n=25)
    got = [r.k for r in plan.df.select("k").collect()]
    assert got == list(range(1, 26))  # the true 25 smallest, not the 100k block
    # the stats-less file is read (unknown bounds) plus the first known file
    assert len(plan.files_selected) == 2
