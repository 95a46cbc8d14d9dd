"""Catalog-described tables over Parquet — the engine's batch source/sink.

The reference exposes an HBase table as a Spark DataFrame via a DSv2
connector (``DefaultSource.scala``, ``HbaseTable.scala``); every pushdown it
hand-implements (filters ``HbaseScanBuilder.scala:29-52``, column pruning
``:54-59``, region-range scans ``HbaseScan.scala:27-45``) is something
Catalyst + Parquet already do natively. So the PySpark-native equivalent is
*layout discipline + a thin mapping layer*:

- ``load_table``: read a Parquet dataset, project/cast/rename physical
  columns to the catalog's logical schema, attach the ``(cf, col)`` physical
  address as column metadata (the reference's compositional-pruning trick,
  ``DefaultSource.scala:25-28``). Predicate pushdown, column pruning, and
  row-group min/max pruning then happen inside Spark — verified by
  ``plans.audit``.
- ``write_table``: the write path the reference *lacks* (capabilities are
  BATCH_READ only, ``HbaseTable.scala:21-22``). Writes Parquet
  range-partitioned and sorted by the rowkey, so rowkey range predicates
  prune at file/row-group granularity — the proper fix for the reference's
  own TODO (rowkey ranges were evaluated row-by-row server-side instead of
  narrowing scan bounds, ``HbasePartitionReader.scala:147``).

Physical naming: ``write_table`` stores columns under ``cf:qualifier`` and
the rowkey under its catalog ``col`` qualifier (one convention,
``layout.physical_name``, shared with the DS reader, so rowkeys whose ``col``
differs from the logical name round-trip); ``load_table`` also accepts plain
qualifier-named Parquet (``physical_naming="column"``) so external datasets
(e.g. the driver's testdata) can be described by a catalog without rewrite.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_hbase_connector_spark.sources.catalog import (
    TableCatalog,
    parse_catalog,
)
from spark_hbase_connector_spark.sources.layout import physical_name


def _physical_schema(cat: TableCatalog, naming: str, overrides: dict | None = None):
    """StructType over physical column names — csv/json have no embedded
    schema, so the catalog supplies one (typed reads, no inference pass).
    ``overrides`` maps logical name -> type string for columns whose FILE
    encoding differs from the declared logical type (e.g. epoch-long under
    a declared timestamp); ``_adapt`` then reconciles."""
    from pyspark.sql import types as T

    from spark_hbase_connector_spark.sources.catalog import type_for

    overrides = overrides or {}
    return T.StructType(
        [
            T.StructField(
                physical_name(cat, name, naming),
                type_for(overrides[name], name) if name in overrides else col.spark_type(name),
            )
            for name, col in cat.columns.items()
        ]
    )


def load_table(
    spark: SparkSession,
    catalog: str | dict | TableCatalog,
    path: str | list[str],
    physical_naming: str = "column",
    data_format: str = "parquet",
    physical_overrides: dict | None = None,
    on_malformed: str = "permissive",
) -> DataFrame:
    """Load a catalog-described dataset as a logical DataFrame.

    Missing physical columns surface as NULL columns of the declared type —
    the sparse-cell semantics of the reference (a row without the cell
    decodes to NULL, ``HbasePartitionReader.scala:58``); a catalog may
    declare columns never written (FIXTURES.md fixture 1, column ``c``).

    ``data_format``: parquet (default; full pushdown + row-group pruning),
    orc (columnar too: embedded schema, stripe-level stats + predicate
    pushdown — the peer interchange format), csv, or json. Text formats
    read with the catalog-derived schema (no inference scan); predicate
    pushdown still prunes partitions/rows where the format supports it,
    but only the columnar formats carry column statistics.

    Declared-vs-physical drift (files evolve; the catalog is the logical
    contract): for the self-describing formats the file's embedded schema
    is compared against the declared types and reconciled by ``_adapt``
    (epoch-micros contract for integral<->timestamp). csv/json carry no
    embedded schema, so pass ``physical_overrides`` — logical name -> type
    string actually stored in the file — and the same reconciliation runs.

    ``on_malformed`` (text formats only — columnar files are checksummed,
    a corrupt parquet/orc is an IO error, not a row problem): how a row
    that does not parse under the catalog schema is treated. A 100 TB
    ingest WILL contain broken lines; a job that dies at hour 9 on one of
    them (FAILFAST) is operationally worse than an explicit policy.
    ``"permissive"`` (default, Spark's own default) nulls the unparsable
    fields; ``"drop"`` (DROPMALFORMED) silently skips the row — use with a
    reject-count check; ``"fail"`` (FAILFAST) for correctness-critical
    loads where a bad row must stop the job.
    """
    modes = {"permissive": "PERMISSIVE", "drop": "DROPMALFORMED", "fail": "FAILFAST"}
    if on_malformed not in modes:
        raise ValueError(f"on_malformed must be one of {sorted(modes)}")
    cat = catalog if isinstance(catalog, TableCatalog) else parse_catalog(catalog)
    # a list of paths = an explicit file subset (planner-pruned read sets,
    # e.g. stats_scan.head_by_rowkey); columnar formats only
    paths = path if isinstance(path, list) else [path]
    if data_format == "parquet":
        raw = spark.read.parquet(*paths)
    elif data_format == "orc":
        raw = spark.read.orc(*paths)
    elif data_format == "csv":
        raw = spark.read.schema(
            _physical_schema(cat, physical_naming, physical_overrides)
        ).csv(path, header=True, mode=modes[on_malformed])
    elif data_format == "json":
        raw = spark.read.schema(
            _physical_schema(cat, physical_naming, physical_overrides)
        ).json(path, mode=modes[on_malformed])
    else:
        raise ValueError(f"unknown data_format {data_format!r}")
    physical_types = {f.name: f.dataType for f in raw.schema.fields}
    projections = []
    for name, col in cat.columns.items():
        phys = physical_name(cat, name, physical_naming)
        typ = col.spark_type(name)
        if phys in physical_types:
            expr = _adapt(F.col(f"`{phys}`"), physical_types[phys], typ)
        elif col.column in physical_types:
            # qualifier fallback: hive-partition columns are directory-
            # encoded under the bare qualifier (write_table partition_by)
            expr = _adapt(F.col(f"`{col.column}`"), physical_types[col.column], typ)
        else:
            expr = F.lit(None).cast(typ)
        projections.append(
            expr.alias(name, metadata={"columnFamily": col.column_family, "column": col.column})
        )
    return raw.select(*projections)


def _adapt(expr, physical, declared):
    """Reconcile a column's physical file type with the catalog's declared
    logical type. Schema evolution means the two WILL diverge over a table's
    life; a plain CAST crashes on several legal combinations (TIMESTAMP_NTZ
    -> BIGINT is an AnalysisException), so the divergences get explicit
    semantics instead:

    - integral file column, declared timestamp -> interpreted as epoch
      MICROSECONDS (``timestamp_micros``). One documented epoch unit, not a
      guess per call site.
    - timestamp/timestamp_ntz file column, declared integral -> epoch
      microseconds via ``unix_micros`` (NTZ is first anchored to UTC, which
      the engine pins as the session zone, so the round-trip is lossless).
    - anything else -> plain CAST (includes TIMESTAMP_NTZ -> TIMESTAMP,
      which Spark resolves under the session zone).
    """
    from pyspark.sql import types as T

    integral = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    is_ts = lambda t: isinstance(t, (T.TimestampType, T.TimestampNTZType))  # noqa: E731
    if isinstance(physical, integral) and is_ts(declared):
        return F.timestamp_micros(expr).cast(declared)
    if is_ts(physical) and isinstance(declared, integral):
        if isinstance(physical, T.TimestampNTZType):
            expr = expr.cast(T.TimestampType())
        return F.unix_micros(expr).cast(declared)
    return expr.cast(declared)


def compact_table(
    spark: SparkSession,
    catalog: str | dict | TableCatalog,
    path: str,
    num_partitions: int,
    physical_naming: str = "cf:col",
) -> None:
    """Rewrite a table into ``num_partitions`` rowkey-sorted files — the
    small-file compaction every long-lived ingest needs (a stream or
    micro-batch writer leaves thousands of tiny files; scan cost and
    row-group pruning both degrade). Reads through the catalog, rewrites
    with the same layout discipline to a sibling temp dir, then swaps —
    the input path is never read and written concurrently. On object
    storage, swap via a manifest/rename of the prefix instead."""
    import shutil

    cat = catalog if isinstance(catalog, TableCatalog) else parse_catalog(catalog)
    df = load_table(spark, cat, path, physical_naming)
    tmp = path.rstrip("/") + ".__compact_tmp"
    write_table(df, cat, tmp, num_partitions=num_partitions)
    old = path.rstrip("/") + ".__compact_old"
    shutil.rmtree(old, ignore_errors=True)
    os.replace(path, old)
    os.replace(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def write_bucketed(
    df: DataFrame,
    catalog: str | dict | TableCatalog,
    table_name: str,
    buckets: int = 8,
    mode: str = "overwrite",
) -> None:
    """Save as a BUCKETED managed table, hash-bucketed + sorted on the
    rowkey. Joins and aggregations between tables bucketed the same way on
    the same key run WITHOUT a shuffle — the pre-partitioning strategy for
    fact-fact joins repeated across a pipeline, where even one avoided
    shuffle of a 100 TB fact table pays for the write. (Plain ``write_table``
    + range partitioning covers scan pruning; bucketing covers join
    co-location — complementary layouts.)
    """
    cat = catalog if isinstance(catalog, TableCatalog) else parse_catalog(catalog)
    rk = physical_name(cat, cat.rowkey, "cf:col")
    (
        df.select(*[F.col(n).alias(physical_name(cat, n, "cf:col")) for n in cat.columns])
        .write.mode(mode)
        .bucketBy(buckets, rk)
        .sortBy(rk)
        .format("parquet")
        .saveAsTable(table_name)
    )


def register(
    spark: SparkSession,
    catalog: str | dict | TableCatalog,
    path: str,
    view_name: str | None = None,
    physical_naming: str = "column",
) -> DataFrame:
    """load_table + createOrReplaceTempView (the reference's SQL entry point,
    ``ScalaDatasourceTest.scala:84-91``)."""
    cat = catalog if isinstance(catalog, TableCatalog) else parse_catalog(catalog)
    df = load_table(spark, cat, path, physical_naming)
    df.createOrReplaceTempView(view_name or cat.table.name)
    return df


def write_table(
    df: DataFrame,
    catalog: str | dict | TableCatalog,
    path: str,
    num_partitions: int | None = None,
    mode: str = "overwrite",
    data_format: str = "parquet",
    partition_by: str | list[str] | None = None,
) -> None:
    """Write a logical DataFrame as a rowkey-sorted Parquet dataset.

    Layout discipline for scale: ``repartitionByRange(rowkey)`` gives
    non-overlapping rowkey ranges per file (the analogue of one HBase region
    per partition, ``HbaseScan.scala:27-45``) and ``sortWithinPartitions``
    makes Parquet row-group min/max statistics tight, so rowkey range
    predicates skip whole files/row-groups at scan time.
    """
    cat = catalog if isinstance(catalog, TableCatalog) else parse_catalog(catalog)
    part_cols = (
        [partition_by] if isinstance(partition_by, str) else list(partition_by or [])
    )
    # Partition columns are directory-encoded, so they use the bare
    # qualifier (':' in a 'cf:col' directory name is not portable);
    # load_table resolves them via its qualifier fallback.
    phys = {
        name: col.column if name in part_cols else physical_name(cat, name, "cf:col")
        for name, col in cat.columns.items()
    }
    rowkey_phys = phys[cat.rowkey]
    part_phys = [p for name, p in phys.items() if name in part_cols]
    out = df.select(*[F.col(name).alias(p) for name, p in phys.items()])
    # range-partition/sort on the rowkey WITHIN each output task; with
    # hive partitioning the writer splits each task's rows by directory,
    # so files stay rowkey-sorted per partition directory
    if num_partitions:
        out = out.repartitionByRange(num_partitions, F.col(f"`{rowkey_phys}`"))
    else:
        out = out.repartitionByRange(F.col(f"`{rowkey_phys}`"))
    out = out.sortWithinPartitions(f"`{rowkey_phys}`")
    writer = out.write.mode(mode)
    if part_phys:
        writer = writer.partitionBy(*part_phys)
    if data_format == "parquet":
        writer.parquet(path)
    elif data_format == "orc":
        writer.orc(path)
    elif data_format == "csv":
        # same range-partitioned sorted layout; no column stats in csv, so
        # rowkey pruning falls back to full scans — use parquet at scale
        writer.option("header", True).csv(path)
    elif data_format == "json":
        writer.json(path)
    else:
        raise ValueError(f"unknown data_format {data_format!r}")
