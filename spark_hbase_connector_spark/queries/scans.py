"""Scan-side parity queries: the 11 pushdown filter shapes (SURVEY.md §2.1).

The reference compiles these Spark filters into HBase server-side filters
(``HbasePartitionReader.scala:145-175``, F1-F11); our engine expresses the
same predicates declaratively and Catalyst pushes them into the Parquet scan
(verified by ``tests/test_pushdown.py``). Unlike the reference, comparisons
are *typed* — negative numbers order correctly (`scan_range_negative` below
is exactly the case the reference silently gets wrong, SURVEY.md §2.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_hbase_connector_spark.catalogs import load
from spark_hbase_connector_spark.queries.registry import query


@query(
    "scan_eq",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
    WHERE l_linenumber = 3
    """,
    tags=("scan", "F1"),
)
def scan_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 EqualTo -> pushed as EqualTo (HbasePartitionReader.scala:148)."""
    return (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_linenumber") == 3)
        .select("l_orderkey", "l_linenumber", "l_quantity")
    )


@query(
    "scan_prefix",
    oracle="""
    SELECT p_partkey, p_name FROM part WHERE p_name LIKE 'red%'
    """,
    tags=("scan", "F2"),
)
def scan_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 StringStartsWith -> BinaryPrefixComparator (:150)."""
    return (
        load(spark, sf_dir, "part")
        .where(F.col("p_name").startswith("red"))
        .select("p_partkey", "p_name")
    )


@query(
    "scan_contains",
    oracle="""
    SELECT p_partkey, p_name, p_type FROM part WHERE p_name LIKE '%widget%'
    """,
    tags=("scan", "F3"),
)
def scan_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 StringContains -> SubstringComparator (:152)."""
    return (
        load(spark, sf_dir, "part")
        .where(F.col("p_name").contains("widget"))
        .select("p_partkey", "p_name", "p_type")
    )


@query(
    "scan_in",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal FROM customer
    WHERE c_custkey IN (1, 2, 3, 4, 5, 999)
    """,
    tags=("scan", "F4"),
)
def scan_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 In -> FilterList(MUST_PASS_ONE) of equals (:154)."""
    return (
        load(spark, sf_dir, "customer")
        .where(F.col("c_custkey").isin(1, 2, 3, 4, 5, 999))
        .select("c_custkey", "c_name", "c_acctbal")
    )


@query(
    "scan_isnull",
    oracle="""
    SELECT c_custkey, c_mktsegment FROM customer
    WHERE nullif(c_mktsegment, 'BUILDING') IS NULL
    """,
    tags=("scan", "F5"),
)
def scan_isnull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 IsNull — incl. the reference's missing-cell-passes semantics
    (setFilterIfMissing(false), :156-160): NULL-producing expressions pass."""
    return (
        load(spark, sf_dir, "customer")
        .where(F.expr("nullif(c_mktsegment, 'BUILDING')").isNull())
        .select("c_custkey", "c_mktsegment")
    )


@query(
    "scan_isnotnull",
    oracle="""
    SELECT c_custkey, c_acctbal FROM customer
    WHERE nullif(c_acctbal, 0.0) IS NOT NULL AND c_acctbal < 100.0
    """,
    tags=("scan", "F6"),
)
def scan_isnotnull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 IsNotNull (:162)."""
    return (
        load(spark, sf_dir, "customer")
        .where(F.expr("nullif(c_acctbal, 0.0)").isNotNull() & (F.col("c_acctbal") < 100.0))
        .select("c_custkey", "c_acctbal")
    )


@query(
    "scan_range_negative",
    oracle="""
    SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal < 0.0
    """,
    tags=("scan", "F7", "divergence"),
)
def scan_range_negative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 LessThan on NEGATIVE values — the case the reference's unsigned
    byte-order comparison silently gets wrong (SURVEY.md §2.1 caveat); our
    typed comparison matches SQL semantics."""
    return (
        load(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") < 0.0)
        .select("c_custkey", "c_acctbal")
    )


@query(
    "scan_range_bounds",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_totalprice >= 10000.0 AND o_totalprice <= 20000.0
    """,
    tags=("scan", "F8", "F9", "F10"),
)
def scan_range_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8/F9/F10 LessThanOrEqual / GreaterThan / GreaterThanOrEqual (:166-170)."""
    return (
        load(spark, sf_dir, "orders")
        .where((F.col("o_totalprice") >= 10000.0) & (F.col("o_totalprice") <= 20000.0))
        .select("o_orderkey", "o_totalprice")
    )


@query(
    "scan_and_or",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer
    WHERE (c_mktsegment = 'BUILDING' AND c_acctbal > 5000.0)
       OR c_custkey IN (7, 8, 9)
    """,
    tags=("scan", "F11"),
)
def scan_and_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 And/Or -> FilterList recursion (:172-173)."""
    df = load(spark, sf_dir, "customer")
    cond = ((F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 5000.0)) | (
        F.col("c_custkey").isin(7, 8, 9)
    )
    return df.where(cond).select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")


@query(
    "scan_flagship",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer
    WHERE c_custkey IN (1, 2, 3, 4, 5) OR c_name = 'Customer#000000010'
    """,
    tags=("scan", "flagship"),
    bench=True,
)
def scan_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's own flagship query shape: rowkey IN (...) OR attr = v
    (ScalaDatasourceTest.scala:88-91)."""
    df = load(spark, sf_dir, "customer")
    return df.where(
        F.col("c_custkey").isin(1, 2, 3, 4, 5) | (F.col("c_name") == "Customer#000000010")
    ).select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")


@query(
    "scan_hbasekv_flagship",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal FROM customer
    WHERE c_custkey IN (1, 2, 3, 4, 5) OR c_name = 'Customer#000000010'
    """,
    tags=("scan", "flagship", "datasource"),
)
def scan_hbasekv_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship shape through the ``hbasekv`` Python Data Source API —
    the reference's exact entry point (spark.read.format(...).option(
    'catalog', json).load()), with pushFilters negotiation, columns+
    predicates pushed into the pyarrow scan, and rowkey-range partition
    pruning. Same rows as the native-path `scan_flagship`."""
    import json

    from spark_hbase_connector_spark.sources.python_datasource import (
        register_hbasekv,
    )

    register_hbasekv(spark)
    catalog = {
        "table": "tpch:customer",
        "rowkey": "c_custkey",
        "columns": {
            "c_custkey": {"cf": "rowkey", "col": "c_custkey", "type": "long"},
            "c_name": {"cf": "info", "col": "c_name", "type": "string"},
            "c_acctbal": {"cf": "info", "col": "c_acctbal", "type": "double"},
        },
    }
    df = (
        spark.read.format("hbasekv")
        .option("catalog", json.dumps(catalog))
        .option("path", f"{sf_dir}/customer.parquet")
        .load()
    )
    return df.where(
        F.col("c_custkey").isin(1, 2, 3, 4, 5)
        | (F.col("c_name") == "Customer#000000010")
    )


@query(
    "scan_rowkey_range_sort",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_orderkey <= 100 ORDER BY o_orderkey DESC
    """,
    tags=("scan", "rowkey-range"),
)
def scan_rowkey_range_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rowkey range + ORDER BY DESC (JavaDatasourceTest.java:40 shape).
    The rowkey range prunes at Parquet row-group level when the dataset is
    written via write_table (rowkey-sorted) — the reference's unfixed TODO."""
    return (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") <= 100)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_orderkey").desc())
    )


@query(
    "scan_projection",
    oracle="SELECT c_name FROM customer",
    tags=("scan", "pruning"),
)
def scan_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column pruning parity (HbaseScanBuilder.scala:54-59): a 1-column
    projection reads exactly one column from the file (audited in tests)."""
    return load(spark, sf_dir, "customer").select("c_name")


@query(
    "region_split_plan_qa",
    oracle="""
    SELECT 8 AS n_regions, count(*) AS total_rows, TRUE AS balanced_ok
    FROM orders
    """,
    tags=("scan", "planning", "qa"),
)
def region_split_plan_qa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Region pre-split planning: derive 7 rowkey split points from the
    key distribution (approx percentile sketch — ONE pass, fixed-size
    state, the only viable way at 100 TB), bucket every row by its split
    range, and gate the plan on balance (max/min region ≤ 1.5×). This is
    how an HBase table is pre-split before bulk load — and how
    `write_table`'s `num_partitions` should be chosen; the reference
    consumes region boundaries (`HbaseScan.scala:27-45`), this plans
    them. The oracle asserts the CONTRACT (row conservation + the gate),
    not the sketch values — same pattern as `approx_quantiles_qa`."""
    k = 8
    o = load(spark, sf_dir, "orders")
    fracs = [i / k for i in range(1, k)]
    bounds = o.agg(
        F.percentile_approx("o_orderkey", fracs, 10000).alias("bs")
    )
    bucketed = o.join(F.broadcast(bounds)).select(
        F.aggregate(
            "bs",
            F.lit(0),
            lambda acc, b: acc + F.when(F.col("o_orderkey") > b, 1).otherwise(0),
        ).alias("bucket")
    )
    counts = bucketed.groupBy("bucket").agg(F.count("*").alias("n"))
    return counts.agg(
        F.count("*").cast("int").alias("n_regions"),
        F.sum("n").cast("bigint").alias("total_rows"),
        ((F.max("n") / F.min("n")) <= 1.5).alias("balanced_ok"),
    )


ORDERS_KV_CATALOG = {
    "table": "tpch:orders_kv",
    "rowkey": "o_orderkey",
    "columns": {
        "o_orderkey": {"cf": "rowkey", "col": "o_orderkey", "type": "long"},
        "o_custkey": {"cf": "o", "col": "o_custkey", "type": "long"},
        "o_totalprice": {"cf": "o", "col": "o_totalprice", "type": "double"},
    },
}


def _orders_kv_path(sf_dir: str) -> str:
    import os

    sf = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(
        os.environ.get("SPARK_GRAFT_TMP", "/tmp"),
        "spark_hbase_connector_fixtures",
        f"orders_kv_{sf}",
    )


def _orders_kv_dataset(spark: SparkSession, sf_dir: str) -> str:
    from spark_hbase_connector_spark.sources.table import write_table

    path = _orders_kv_path(sf_dir)
    write_table(
        load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
        ORDERS_KV_CATALOG,
        path,
        num_partitions=8,
    )
    return path


@query(
    "scan_agg_footer_pushdown",
    oracle="""
    SELECT count(*)::BIGINT AS n_total,
           count(*)::BIGINT AS n_meta_only_rows,
           0::BIGINT AS n_scanned_rows,
           count(o_totalprice)::BIGINT AS n_o_totalprice,
           round(min(o_totalprice), 4) AS min_o_totalprice,
           round(max(o_totalprice), 4) AS max_o_totalprice,
           count(o_orderkey)::BIGINT AS n_o_orderkey,
           min(o_orderkey) AS min_o_orderkey,
           max(o_orderkey) AS max_o_orderkey
    FROM orders
    """,
    tags=("scan", "pushdown", "aggregate", "datasource"),
)
def scan_agg_footer_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSv2-style AGGREGATE pushdown, library level: COUNT/MIN/MAX answered
    from Parquet footer statistics over the kv dataset — zero data pages
    read. The Python DataSource ABC cannot negotiate
    SupportsPushDownAggregates (VERDICT r03 missing #2; the reference has
    no aggregate pushdown either — HbaseScanBuilder.scala stops at
    pushFilters/pruneColumns), so `sources/stats_scan.footer_stats_agg`
    runs the same plan a DSv2 engine would: one footer task per file,
    fixed-size partials, final agg over n_files rows. The oracle asserts
    the CONTRACT too: n_meta_only_rows == count(*) and n_scanned_rows == 0
    — every row was answered from metadata."""
    from spark_hbase_connector_spark.sources.stats_scan import footer_stats_agg

    path = _orders_kv_dataset(spark, sf_dir)
    out = footer_stats_agg(
        spark,
        path,
        ORDERS_KV_CATALOG,
        agg_columns=("o_totalprice", "o_orderkey"),
    )
    return out.select(
        "n_total",
        "n_meta_only_rows",
        "n_scanned_rows",
        "n_o_totalprice",
        F.round("min_o_totalprice", 4).alias("min_o_totalprice"),
        F.round("max_o_totalprice", 4).alias("max_o_totalprice"),
        "n_o_orderkey",
        "min_o_orderkey",
        "max_o_orderkey",
    )


@query(
    "scan_count_range_footer",
    oracle="""
    SELECT count(*)::BIGINT AS n_range
    FROM orders WHERE o_orderkey BETWEEN 1 AND 30000
    """,
    tags=("scan", "pushdown", "aggregate", "rowkey-range", "datasource"),
)
def scan_count_range_footer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(*) under a rowkey range, metadata-first: row groups fully
    inside [1, 30000] count from footer num_rows; only BOUNDARY row groups
    decode their rowkey column (nothing else is ever read). This is the
    rowkey-range analogue of DSv2 count pushdown — at 100 TB the cost is
    O(files) footer reads + one column of at most (2 × row groups cut by
    the bounds), not a table scan. The boundary/interior split itself is
    asserted by tests/test_stats_scan.py (the oracle can't know row-group
    geometry)."""
    from spark_hbase_connector_spark.sources.stats_scan import footer_stats_agg

    path = _orders_kv_dataset(spark, sf_dir)
    out = footer_stats_agg(spark, path, ORDERS_KV_CATALOG, rowkey_range=(1, 30000))
    return out.select(F.col("n_total").alias("n_range"))


@query(
    "scan_limit_topn_pushdown",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders ORDER BY o_orderkey LIMIT 25
    """,
    tags=("scan", "pushdown", "limit", "topn", "datasource"),
)
def scan_limit_topn_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSv2-style TopN/LIMIT pushdown, library level: ORDER BY rowkey
    LIMIT 25 reads ONLY the file prefix that can contain the 25 smallest
    rowkeys (`sources/stats_scan.head_by_rowkey`: rk_min-sorted manifest,
    cumsum bound, provably sufficient for any layout — docstring carries
    the proof). write_table's repartitionByRange layout makes that prefix
    a single file here; the final orderBy+limit plans as
    TakeOrderedAndProject over the pruned scan. File-count pruning is
    asserted by tests/test_stats_scan.py."""
    from spark_hbase_connector_spark.sources.stats_scan import head_by_rowkey

    path = _orders_kv_dataset(spark, sf_dir)
    plan = head_by_rowkey(spark, path, ORDERS_KV_CATALOG, n=25)
    return plan.df.select("o_orderkey", "o_custkey", "o_totalprice")


CUST_FMT_CATALOG = {
    "table": "tpch:customer_fmt",
    "rowkey": "c_custkey",
    "columns": {
        "c_custkey": {"cf": "rowkey", "col": "c_custkey", "type": "long"},
        "c_name": {"cf": "info", "col": "c_name", "type": "string"},
        "c_acctbal": {"cf": "info", "col": "c_acctbal", "type": "double"},
        "c_mktsegment": {"cf": "info", "col": "c_mktsegment", "type": "string"},
    },
}

_FMT_ORACLE = """
    SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal
    FROM customer
    WHERE c_custkey IN (1, 2, 3, 4, 5) OR c_acctbal < 0
"""


def _format_roundtrip(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    from spark_hbase_connector_spark.sources.table import load_table, write_table

    import os

    sf = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        os.environ.get("SPARK_GRAFT_TMP", "/tmp"),
        "spark_hbase_connector_fixtures",
        f"customer_{fmt}_{sf}",
    )
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    write_table(cust, CUST_FMT_CATALOG, path, num_partitions=4, data_format=fmt)
    t = load_table(
        spark, CUST_FMT_CATALOG, path, physical_naming="cf:col", data_format=fmt
    )
    return t.where(
        F.col("c_custkey").isin(1, 2, 3, 4, 5) | (F.col("c_acctbal") < 0)
    ).select("c_custkey", "c_name", F.round("c_acctbal", 2).alias("c_acctbal"))


@query("scan_orc_flagship", oracle=_FMT_ORACLE, tags=("scan", "format", "orc"))
def scan_orc_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship predicate through a full ORC round trip (write_table
    -> load_table, cf:col physical naming) — the columnar peer format:
    embedded schema, stripe statistics, predicate pushdown. The negative
    c_acctbal disjunct is the typed-comparison case the reference's
    byte-lexicographic filters get wrong (SURVEY §2.1 S9): it must
    survive a change of storage format."""
    return _format_roundtrip(spark, sf_dir, "orc")


@query("scan_csv_typed", oracle=_FMT_ORACLE, tags=("scan", "format", "csv"))
def scan_csv_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV round trip with the catalog supplying the schema (typed read,
    NO inference pass — at 100 TB an inference scan is a second full
    read). The negative-balance disjunct proves values re-enter as
    DOUBLE, not strings: '-9.47' < 0 is the comparison a stringly-typed
    read silently breaks."""
    return _format_roundtrip(spark, sf_dir, "csv")


@query("scan_json_typed", oracle=_FMT_ORACLE, tags=("scan", "format", "json"))
def scan_json_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines round trip under the catalog schema — the interchange
    format for sparse-cell data (an absent key IS the missing-cell
    encoding, decoding to NULL like S10 requires). Same typed predicate
    as the csv/orc twins; one oracle serves all three, so a format that
    altered VALUES would fail its own differential row."""
    return _format_roundtrip(spark, sf_dir, "json")


@query(
    "scan_zorder_pruning",
    oracle="""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
    FROM orders
    WHERE o_custkey BETWEEN 100 AND 140
      AND o_orderkey BETWEEN 1000 AND 40000
    """,
    tags=("scan", "zorder", "layout"),
)
def scan_zorder_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D data-skipping layout: orders rewritten clustered by the Morton
    key over (o_custkey, o_orderkey) (`functions/zorder.zorder_sql_expr`
    — pure bit arithmetic, whole-stage codegen), then a 2-D box
    predicate. Z-sorted files carry tight row-group min/max on BOTH
    columns, so either conjunct prunes — a layout sorted by one key
    leaves the other scattered across every file (the reason
    `scalar_zorder_key` exists; this entry is its end-to-end layout
    proof: the answer must be identical to the plain-layout oracle).
    Pruning effectiveness is asserted in tests/test_pushdown.py-style
    row-group accounting; here the differential guarantees the rewrite
    changed the LAYOUT, never the rows."""
    import os

    from spark_hbase_connector_spark.functions.zorder import zorder_sql_expr

    sf = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        os.environ.get("SPARK_GRAFT_TMP", "/tmp"),
        "spark_hbase_connector_fixtures",
        f"orders_zorder_{sf}",
    )
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    z = o.withColumn(
        "zkey", F.expr(zorder_sql_expr("o_custkey", "o_orderkey", bits=16))
    )
    (
        z.repartitionByRange(8, "zkey")
        .sortWithinPartitions("zkey")
        .drop("zkey")
        .write.mode("overwrite")
        .parquet(path)
    )
    t = spark.read.parquet(path)
    return t.where(
        F.col("o_custkey").between(100, 140) & F.col("o_orderkey").between(1000, 40000)
    ).select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("o_totalprice")
    )


@query(
    "scan_keyset_pagination",
    oracle="""
    WITH page1 AS (
      SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 50
    ),
    page2 AS (
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      WHERE o_orderkey > (SELECT max(o_orderkey) FROM page1)
      ORDER BY o_orderkey LIMIT 50
    )
    SELECT * FROM page2
    """,
    tags=("scan", "pagination", "keyset"),
)
def scan_keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset (seek-based) pagination — the HBase scanner-continuation
    pattern (scan.withStartRow(lastKey, exclusive)) and the ONLY
    pagination that holds at 100 TB: page N is ``rowkey > last_seen
    LIMIT p`` — a pushed range predicate + TakeOrderedAndProject, cost
    independent of N. OFFSET-based paging re-scans and discards N*p rows
    per page (and row-group pruning can't help, because OFFSET is
    positional, not key-based). The oracle replays page 2 via the same
    keyset; both engines plan the page boundary as a scalar subquery."""
    o = load(spark, sf_dir, "orders")
    page1_max = (
        o.select("o_orderkey").orderBy("o_orderkey").limit(50)
        .agg(F.max("o_orderkey").alias("mx"))
    )
    return (
        o.join(F.broadcast(page1_max))
        .where(F.col("o_orderkey") > F.col("mx"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
        .limit(50)
    )
