"""A real ``spark.read.format("hbasekv")`` source — Python Data Source API.

Full structural parity with the reference connector, component by component:

- S1 batch scan source  -> ``HbaseKVDataSource`` (``DefaultSource.scala:13``)
- S2 schema derivation  -> ``schema()`` from the ``catalog`` option
  (``DefaultSource.scala:20-31``)
- S3 catalog parse      -> ``sources.catalog.parse_catalog``
- S5 pushdown negotiation -> ``pushFilters`` accepting exactly the
  reference's filter taxonomy (F1-F10; conjunctions are pre-split by Spark)
  and returning the rest for Spark to evaluate
  (``HbaseScanBuilder.scala:29-52``)
- S7 partition planning -> one ``InputPartition`` per Parquet file of the
  rowkey-sorted dataset: the file is the region analogue, its footer
  min/max rowkey the region's [startKey, endKey) (``HbaseScan.scala:27-45``).
  The file list and footer bounds come from ``sources.layout``, the one
  layout reader every KV planner shares, at plan time with no Spark job.
  When no file survives pruning the read returns no rows.
- S8 range-restricted scan -> rowkey range filters *narrow the partition
  list* before any file is opened — this fixes the reference's TODO where
  rowkey ranges were evaluated row-by-row server-side
  (``HbasePartitionReader.scala:147``)
- S9/S10 predicate eval + decode -> pushed filters are compiled to pyarrow
  compute expressions over *typed* values (so negative numerics compare
  correctly — the reference's unsigned-byte-order defect, SURVEY.md §2.1,
  is deliberately not reproduced); rows stream back as Arrow RecordBatches.

This source demonstrates connector parity and remote-store ergonomics; the
*performance* path for Parquet-resident data remains ``sources.table.
load_table`` (native scan, whole-stage codegen). A real HBase deployment
would swap the pyarrow file reader in ``read()`` for region-server RPCs —
the planning/pushdown scaffolding stays identical.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    WriterCommitMessage,
    EqualNullSafe,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    Not,
    StringContains,
    StringEndsWith,
    StringStartsWith,
)
from pyspark.sql.types import StructType

from spark_hbase_connector_spark.sources.catalog import TableCatalog, parse_catalog
from spark_hbase_connector_spark.sources.layout import data_files, file_bounds, physical_name

_SUPPORTED = (
    EqualTo,
    EqualNullSafe,
    In,
    IsNull,
    IsNotNull,
    LessThan,
    LessThanOrEqual,
    GreaterThan,
    GreaterThanOrEqual,
    StringStartsWith,
    StringEndsWith,
    StringContains,
)

# Pushdowns the Python Data Source API does NOT offer (SURVEY §4, "operator
# pushdown it does not do"): `DataSourceReader` exposes exactly three hooks —
# partitions(), pushFilters(), read() (verified against pyspark 4.1.2). There
# is no Python analogue of the JVM DSv2 mix-ins SupportsPushDownLimit,
# SupportsPushDownTopN, SupportsPushDownAggregates, or
# SupportsPushDownRequiredColumns, so limit / top-n / aggregate / per-query
# column pushdown CANNOT be implemented from Python today. Mitigations used
# here: the catalog projects to its declared columns inside read() (static
# pruning), rowkey-range filters prune whole partitions before any file
# opens, and pushed filters run inside the pyarrow scan where row-group
# statistics prune within files. For aggregate-heavy workloads the
# parquet-native `load_table` path (full Catalyst pushdown) is the engine's
# performance path; this source exists for connector parity.


@dataclass
class FilePartition(InputPartition):
    """One Parquet file = one 'region': (path, rowkey min, rowkey max)."""

    path: str
    rk_min: object = None
    rk_max: object = None


class HbaseKVDataSource(DataSource):
    """Catalog-described table over a rowkey-sorted Parquet dataset."""

    @classmethod
    def name(cls) -> str:
        return "hbasekv"

    def _catalog(self) -> TableCatalog:
        if "catalog" not in self.options:
            raise ValueError("option 'catalog' (JSON) is required")
        return parse_catalog(self.options["catalog"])

    def schema(self) -> StructType:
        return self._catalog().to_struct_type()

    def _args(self, schema: StructType) -> dict:
        if "path" not in self.options:
            raise ValueError("option 'path' (dataset directory or file) is required")
        cat = self._catalog()
        naming = self.options.get("physical_naming", "column")
        physical_name(cat, cat.rowkey, naming)  # rejects an unknown naming up front
        return dict(catalog=cat, schema=schema, path=self.options["path"], physical_naming=naming)

    def reader(self, schema: StructType) -> "HbaseKVReader":
        return HbaseKVReader(**self._args(schema))

    def streamReader(self, schema: StructType) -> "HbaseKVStreamReader":
        return HbaseKVStreamReader(**self._args(schema))

    def streamWriter(self, schema: StructType, overwrite: bool) -> "HbaseKVStreamWriter":
        return HbaseKVStreamWriter(**self._args(schema))

    def writer(self, schema: StructType, overwrite: bool) -> "HbaseKVBatchWriter":
        return HbaseKVBatchWriter(**self._args(schema), overwrite=overwrite)


class HbaseKVReader(DataSourceReader):
    def __init__(
        self,
        catalog: TableCatalog,
        schema: StructType,
        path: str,
        physical_naming: str,
    ) -> None:
        self.catalog = catalog
        self.out_schema = schema
        self.path = path
        self.physical_naming = physical_naming
        self.pushed: list[Filter] = []

    # -- S5: pushdown negotiation ------------------------------------------
    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Accept the reference's taxonomy; yield back the rest.

        Mirrors ``HbaseScanBuilder.pushFilters``: supported shapes are kept
        (and later evaluated inside the scan); unsupported ones are returned
        so Spark evaluates them post-scan. Unlike the reference we do not
        claim correctness we don't have: everything accepted is evaluated
        with typed comparisons.
        """
        for f in filters:
            inner = f.child if isinstance(f, Not) else f
            if isinstance(inner, _SUPPORTED) and len(getattr(inner, "attribute", ("x",))) == 1:
                self.pushed.append(f)
            else:
                yield f

    # -- S7/S8: partition planning with rowkey-range pruning ----------------
    def partitions(self) -> list[FilePartition]:
        lo, hi = self._rowkey_bounds()
        parts: list[FilePartition] = []
        for b in file_bounds(self._data_files(), self._phys(self.catalog.rowkey)):
            # prune: skip files whose rowkey range cannot satisfy the pushed
            # rowkey bounds (the reference's unfixed TODO, done properly)
            if b.rk_min is not None and (
                (hi is not None and b.rk_min > hi) or (lo is not None and b.rk_max < lo)
            ):
                continue
            parts.append(FilePartition(path=b.path, rk_min=b.rk_min, rk_max=b.rk_max))
        return parts

    # -- S9/S10: scan + typed predicate evaluation + decode ------------------
    def read(self, partition: FilePartition | None):
        import pyarrow as pa
        import pyarrow.compute as pc

        if partition is None:
            # partitions() kept no file (every file's rowkey range misses
            # the pushed bounds, or the table is empty); Spark then plans
            # one read without a partition, which has no rows to return
            return
        table, rest = self._scan(partition)
        # project to the catalog's logical columns (missing cell -> NULL)
        arrays, fields = [], []
        for field in self.out_schema.fields:
            phys = self._phys(field.name)
            target = _arrow_type(field.dataType)
            if phys in table.column_names:
                col = table.column(phys)
                if target is not None and col.type != target:
                    col = pc.cast(col, target)
            else:
                col = pa.nulls(table.num_rows, type=target or pa.string())
            arrays.append(col)
            fields.append(
                pa.field(field.name, col.type if hasattr(col, "type") else target)
            )
        out = pa.table(dict(zip([f.name for f in fields], arrays)))
        # only filters over ABSENT physical columns (phantom cells) remain;
        # they are evaluated over the NULL-filled logical projection
        expr = self._filter_expr(rest, lambda name: name)
        if expr is not None:
            out = out.filter(expr)
        yield from out.to_batches()

    def _scan(self, partition: FilePartition):
        """Open one file with projection and predicates INSIDE the pyarrow
        Parquet reader: ``columns=`` prunes to the catalog's physical
        columns (the Python DS API exposes no narrower per-query column
        set), ``filter=`` pushes every pushed filter over a present column
        down to the scan, where Parquet row-group statistics prune within
        the file — the row-group-granular analogue of the partition-level
        rowkey pruning in ``partitions()``. Returns (table,
        leftover_filters) — leftovers are filters naming physical columns
        absent from the file (a missing cell decodes to NULL, so e.g.
        IsNull over a phantom column is all-True)."""
        import pyarrow.dataset as pads

        ds = pads.dataset(partition.path, format="parquet")
        present = set(ds.schema.names)
        columns = [
            self._phys(f.name)
            for f in self.out_schema.fields
            if self._phys(f.name) in present
        ]
        in_file, rest = [], []
        for f in self.pushed:
            inner = f.child if isinstance(f, Not) else f
            (in_file if self._phys(inner.attribute[0]) in present else rest).append(f)
        expr = self._filter_expr(in_file, self._phys)
        return ds.to_table(columns=columns, filter=expr), rest

    @staticmethod
    def _filter_expr(filters: list[Filter], name):
        """AND of filters as ONE pyarrow dataset expression, the analogue
        of the reference's FilterList(MUST_PASS_ALL); ``name`` maps a
        filter's logical column to the column it is evaluated on. Both the
        scan and ``Table.filter`` drop rows whose expression is NULL —
        exactly SQL's WHERE semantics."""
        import pyarrow.compute as pc
        import pyarrow.dataset as pads

        def leaf(f, fld):
            if isinstance(f, EqualTo):
                return fld == f.value
            if isinstance(f, EqualNullSafe):
                # null-safe: a NULL cell compares False (not NULL) — keep the
                # mask null-free so negation stays correct
                if f.value is None:
                    return fld.is_null()
                return fld.is_valid() & (fld == f.value)
            if isinstance(f, In):
                return fld.isin(list(f.value))
            if isinstance(f, IsNull):
                return fld.is_null()
            if isinstance(f, IsNotNull):
                return fld.is_valid()
            if isinstance(f, LessThan):
                return fld < f.value
            if isinstance(f, LessThanOrEqual):
                return fld <= f.value
            if isinstance(f, GreaterThan):
                return fld > f.value
            if isinstance(f, GreaterThanOrEqual):
                return fld >= f.value
            if isinstance(f, StringStartsWith):
                return pc.starts_with(fld, f.value)
            if isinstance(f, StringEndsWith):
                return pc.ends_with(fld, f.value)
            if isinstance(f, StringContains):
                return pc.match_substring(fld, f.value)
            raise TypeError(f"unsupported pushed filter {f!r}")

        expr = None
        for f in filters:
            inner = f.child if isinstance(f, Not) else f
            e = leaf(inner, pads.field(name(inner.attribute[0])))
            if isinstance(f, Not):
                # Kleene ~: NULL stays NULL and is dropped — exactly SQL's
                # WHERE NOT(...) semantics
                e = ~e
            expr = e if expr is None else expr & e
        return expr

    # ------------------------------------------------------------ helpers --
    def _phys(self, logical: str) -> str:
        return physical_name(self.catalog, logical, self.physical_naming)

    def _data_files(self) -> list[str]:
        return data_files(self.path)

    def _rowkey_bounds(self):
        """(lo, hi) bounds implied by pushed rowkey range/equality filters."""
        rk = self.catalog.rowkey
        lo = hi = None
        for f in self.pushed:
            attr = getattr(f, "attribute", None)
            if not attr or attr[0] != rk:
                continue
            if isinstance(f, EqualTo):
                lo = f.value if lo is None else max(lo, f.value)
                hi = f.value if hi is None else min(hi, f.value)
            elif isinstance(f, (LessThan, LessThanOrEqual)):
                hi = f.value if hi is None else min(hi, f.value)
            elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                lo = f.value if lo is None else max(lo, f.value)
            elif isinstance(f, In):
                vs = list(f.value)
                lo = min(vs) if lo is None else max(lo, min(vs))
                hi = max(vs) if hi is None else min(hi, max(vs))
        return lo, hi


class HbaseKVStreamReader(DataSourceStreamReader):
    """Streaming flush-file reader — the streaming sibling of
    :class:`HbaseKVReader` (S1's batch scan): the dataset directory is
    APPEND-ONLY, and every new Parquet file is the analogue of an HBase
    memstore flush producing one immutable, rowkey-sorted HFile
    (reference: ``HbaseConnectionUtil.scala:8-43`` owns the live-RPC
    equivalent; this harness has no region servers, so the changefeed is
    file arrival). The offset is the lexicographically largest visible
    file name — flush files sort monotonically, like HBase sequence ids.

    This is the FULL ``DataSourceStreamReader`` (not the Simple variant),
    for two reasons. Scale: ``partitions(start, end)`` plans one input
    partition per new file and ``read()`` runs on EXECUTORS through the
    same pyarrow decode as the batch reader — the driver never
    materializes rows, and a burst of flush files is consumed
    file-parallel. Compatibility: the Simple variant's driver-side
    prefetch ships rows through an arrow handoff that asserts on schemas
    carrying field metadata (our catalog schema attaches (cf,col)
    metadata per S2 parity — verified crash repro on pyspark 4.1.2);
    the partition path is the one the batch source already exercises
    with metadata intact.

    Exactly-once: offsets name a contiguous file range, and re-planning
    the same (start, end] range re-reads exactly those files — replay is
    deterministic because flush files are immutable. The streaming API
    has no pushdown hooks; the catalog projection still prunes to the
    declared physical columns inside the pyarrow scan, and decode reuses
    the batch cast/NULL-fill path so batch and stream agree
    cell-for-cell."""

    def __init__(
        self,
        catalog: TableCatalog,
        schema: StructType,
        path: str,
        physical_naming: str,
    ) -> None:
        self.catalog = catalog
        self.out_schema = schema
        self.path = path
        self.physical_naming = physical_naming

    def initialOffset(self) -> dict:
        return {"last": ""}

    # -- file watermark ----------------------------------------------------
    def _names(self) -> list[str]:
        if not os.path.isdir(self.path):
            raise ValueError(f"streaming source path must be a directory: {self.path}")
        return [os.path.basename(f) for f in data_files(self.path)]

    def latestOffset(self) -> dict:
        names = self._names()
        return {"last": names[-1]} if names else {"last": ""}

    def partitions(self, start: dict, end: dict) -> list[FilePartition]:
        lo, hi = start.get("last", ""), end.get("last", "")
        return [
            FilePartition(os.path.join(self.path, n))
            for n in self._names()
            if lo < n <= hi
        ]

    def read(self, partition: FilePartition):
        rdr = HbaseKVReader(
            catalog=self.catalog,
            schema=self.out_schema,
            path=partition.path,
            physical_naming=self.physical_naming,
        )
        yield from rdr.read(partition)

    def commit(self, end: dict) -> None:
        pass


@dataclass
class FlushCommitMessage(WriterCommitMessage):
    """Per-task commit message: the staged flush file awaiting publication."""

    staged: str
    rows: int


class HbaseKVStreamWriter(DataSourceStreamWriter):
    """Streaming flush-file SINK — the write half of the changefeed story
    (the reference has no write path at all; SURVEY §2.1 S11): each
    micro-batch becomes one or more immutable, rowkey-sorted flush files,
    published under names that sort by batch id — exactly the layout
    :class:`HbaseKVStreamReader` consumes, so two jobs can be chained
    through a directory like region servers through a WAL.

    Exactly-once via the two-phase DS commit protocol: ``write()`` runs
    per task and stages its rows into a hidden ``.staging/`` temp file
    (never visible to readers), ``commit()`` runs once per successful
    batch on the driver and atomically renames staged files to their
    final ``{batchId}-{task}.parquet`` names, ``abort()`` deletes the
    stage. Names are deterministic in (batchId, task index), so a
    replayed commit overwrites the same files — idempotent. The atomic
    rename assumes a shared filesystem (local/NFS/HDFS); on object
    storage swap the rename for a manifest commit, keeping the same
    message flow."""

    def __init__(
        self,
        catalog: TableCatalog,
        schema: StructType,
        path: str,
        physical_naming: str,
    ) -> None:
        self.catalog = catalog
        self.out_schema = schema
        self.path = path
        self.physical_naming = physical_naming
        self.staging = os.path.join(path, ".staging")

    def write(self, iterator) -> FlushCommitMessage:
        return _stage_flush_file(
            self.catalog, self.out_schema, self.physical_naming, self.staging, iterator
        )

    def commit(self, messages, batchId: int) -> None:
        nonempty = [m for m in messages if m is not None and m.staged]
        for i, m in enumerate(nonempty):
            dst = os.path.join(self.path, f"{batchId:010d}-{i:04d}.parquet")
            os.replace(m.staged, dst)

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            if m is not None and m.staged and os.path.exists(m.staged):
                os.remove(m.staged)


def _stage_flush_file(
    catalog: TableCatalog,
    schema: StructType,
    physical_naming: str,
    staging: str,
    iterator,
) -> FlushCommitMessage:
    """Task-side stage: rows -> one rowkey-sorted parquet flush file in the
    hidden staging dir; shared by the batch and streaming writers."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = list(iterator)
    if not rows:
        return FlushCommitMessage(staged="", rows=0)
    names, arrays = [], []
    for f in schema.fields:
        vals = [r[f.name] for r in rows]
        arrays.append(pa.array(vals, type=_arrow_type(f.dataType)))
        names.append(physical_name(catalog, f.name, physical_naming))
    tbl = pa.table(dict(zip(names, arrays))).sort_by(
        physical_name(catalog, catalog.rowkey, physical_naming)
    )
    os.makedirs(staging, exist_ok=True)
    staged = os.path.join(staging, uuid.uuid4().hex + ".parquet")
    pq.write_table(tbl, staged)
    return FlushCommitMessage(staged=staged, rows=len(rows))


class HbaseKVBatchWriter(DataSourceWriter):
    """Batch ``df.write.format("hbasekv")`` — the same staged-flush-file
    two-phase commit as the streaming writer (tasks stage, driver
    publishes by atomic rename), with a per-job publication prefix and
    optional overwrite (SaveMode.Overwrite clears previously published
    flush files inside ``commit()``, after staging succeeded — readers
    never observe a partial state on a posix rename-atomic filesystem).
    Published names carry a job-unique token, so successive APPEND writes
    never collide (a fixed prefix would silently clobber the previous
    append's files); within one job the names are deterministic, so a
    replayed commit overwrites its own files — still idempotent.
    The reference connector is read-only; this is the write half its
    users lack (SURVEY §2.1 S11). Note the stream READER's offset
    contract (monotone digit-sorted flush names) applies to directories
    fed by the STREAM writer; a directory is one or the other."""

    def __init__(
        self,
        catalog: TableCatalog,
        schema: StructType,
        path: str,
        physical_naming: str,
        overwrite: bool = False,
    ) -> None:
        import uuid

        self.catalog = catalog
        self.out_schema = schema
        self.path = path
        self.physical_naming = physical_naming
        self.staging = os.path.join(path, ".staging")
        self.overwrite = overwrite
        # fixed at job submission on the driver; commit() reuses it, so a
        # commit retry republishes the SAME names (idempotent) while a new
        # append job gets fresh ones (no clobber)
        self.job_token = uuid.uuid4().hex[:12]

    def write(self, iterator) -> "FlushCommitMessage":
        return _stage_flush_file(
            self.catalog, self.out_schema, self.physical_naming, self.staging, iterator
        )

    def commit(self, messages) -> None:
        nonempty = [m for m in messages if m is not None and m.staged]
        if self.overwrite:
            for f in data_files(self.path):
                os.remove(f)
        for i, m in enumerate(nonempty):
            dst = os.path.join(self.path, f"batch-{self.job_token}-{i:05d}.parquet")
            os.replace(m.staged, dst)

    def abort(self, messages) -> None:
        for m in messages:
            if m is not None and m.staged and os.path.exists(m.staged):
                os.remove(m.staged)


def _arrow_type(spark_type):
    import pyarrow as pa

    from pyspark.sql import types as T

    mapping = {
        T.BooleanType(): pa.bool_(),
        T.ByteType(): pa.int8(),
        T.ShortType(): pa.int16(),
        T.IntegerType(): pa.int32(),
        T.LongType(): pa.int64(),
        T.FloatType(): pa.float32(),
        T.DoubleType(): pa.float64(),
        T.StringType(): pa.string(),
        T.BinaryType(): pa.binary(),
        T.DateType(): pa.date32(),
        T.TimestampType(): pa.timestamp("us"),
    }
    return mapping.get(spark_type)


def register_hbasekv(spark) -> None:
    """Register the source so ``spark.read.format('hbasekv')`` works. The
    reader negotiates ``pushFilters``, which Spark only calls (and
    otherwise refuses the read) with Python filter pushdown enabled."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(HbaseKVDataSource)
