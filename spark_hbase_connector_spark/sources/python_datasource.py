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
- S11 write path (the reference has none) -> both writers take Spark's
  Arrow record batches (``DataSourceArrowWriter`` and
  ``DataSourceStreamArrowWriter``); no row is converted in Python.

One Arrow schema, ``_arrow_schema`` (PySpark's own type mapping), is what
the reader casts files to and the writers cast batches to, so every
catalog type, decimal and nested ones included, keeps its declared type.

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
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
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
from spark_hbase_connector_spark.sources.layout import (
    commit,
    data_files,
    file_bounds,
    physical_name,
)

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


class _Table:
    """What every hbasekv reader and writer is built from
    (``HbaseKVDataSource._args``): the catalog, the Spark schema read or
    written, the table path and the physical column naming."""

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

    def _phys(self, logical: str) -> str:
        return physical_name(self.catalog, logical, self.physical_naming)


class HbaseKVReader(_Table, DataSourceReader):
    def __init__(self, *args, **kwargs) -> None:
        super().__init__(*args, **kwargs)
        self.pushed: list[Filter] = []

    # -- S5: pushdown negotiation ------------------------------------------
    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Accept the reference's taxonomy; yield back the rest.

        Mirrors ``HbaseScanBuilder.pushFilters``: supported shapes are kept
        (and later evaluated inside the scan); unsupported ones are returned
        so Spark evaluates them post-scan. Unlike the reference we do not
        claim correctness we don't have: everything accepted is evaluated
        with typed comparisons. An ``IN`` list holding NULL goes back to
        Spark: SQL never matches NULL there, pyarrow's ``isin`` does, and
        the NULL cannot bound a rowkey range.
        """
        for f in filters:
            inner = f.child if isinstance(f, Not) else f
            if isinstance(inner, In) and any(v is None for v in inner.value):
                yield f
            elif isinstance(inner, _SUPPORTED) and len(getattr(inner, "attribute", ("x",))) == 1:
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

        if partition is None:
            # partitions() kept no file (every file's rowkey range misses
            # the pushed bounds, or the table is empty); Spark then plans
            # one read without a partition, which has no rows to return
            return
        table, rest = self._scan(partition)
        # project to the catalog's logical columns (missing cell -> NULL)
        target = _arrow_schema(self.out_schema)
        arrays = [
            table.column(self._phys(f.name)).cast(f.type)
            if self._phys(f.name) in table.column_names
            else pa.nulls(table.num_rows, f.type)
            for f in target
        ]
        out = pa.Table.from_arrays(arrays, schema=target)
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


class HbaseKVStreamReader(_Table, DataSourceStreamReader):
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
        rdr = HbaseKVReader(self.catalog, self.out_schema, partition.path, self.physical_naming)
        yield from rdr.read(partition)

    def commit(self, end: dict) -> None:
        pass


@dataclass
class FlushCommitMessage(WriterCommitMessage):
    """Per-task commit message: the staged flush file awaiting publication
    (empty when the task had no rows)."""

    staged: str


class _FlushFileWriter(_Table):
    """What the stream and batch writers share: each task receives Spark's
    Arrow record batches, renames them to their physical names, casts
    them to the one Arrow schema of the written columns (``_arrow_schema``,
    the reader's too) and stages them as one rowkey-sorted flush file
    in the table's hidden ``.staging/`` directory (never visible to
    readers); the driver's ``commit()`` publishes the staged files with
    one manifest swap (``layout.commit``: readers see the table before or
    after, never a mix), and ``abort()`` deletes them."""

    def write(self, iterator) -> FlushCommitMessage:
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        batches = [b for b in iterator if b.num_rows]
        if not batches:
            return FlushCommitMessage(staged="")
        tbl = (
            pa.Table.from_batches(batches)
            .rename_columns([self._phys(f.name) for f in self.out_schema.fields])
            .cast(self._file_schema())
            .sort_by(self._phys(self.catalog.rowkey))
        )
        staging = os.path.join(self.path, ".staging")
        os.makedirs(staging, exist_ok=True)
        staged = os.path.join(staging, uuid.uuid4().hex + ".parquet")
        pq.write_table(tbl, staged)
        return FlushCommitMessage(staged=staged)

    def _file_schema(self):
        """The Arrow schema of every flush file: ``_arrow_schema`` under
        the physical column names."""
        import pyarrow as pa

        return pa.schema(f.with_name(self._phys(f.name)) for f in _arrow_schema(self.out_schema))

    def _publish(self, messages, name, remove=()) -> None:
        """Commit the staged files, the i-th under ``name(i)``, with the
        Spark schema Spark reads from them (zone-less timestamps read as
        ``timestamp_ntz``) and their rowkey."""
        from pyspark.sql.pandas.types import from_arrow_schema

        staged = [m.staged for m in messages if m is not None and m.staged]
        commit(
            self.path,
            {f: name(i) for i, f in enumerate(staged)},
            remove,
            schema=from_arrow_schema(self._file_schema(), prefer_timestamp_ntz=True),
            rowkey=self._phys(self.catalog.rowkey),
        )

    def abort(self, messages, batchId: int | None = None) -> None:
        for m in messages:
            if m is not None and m.staged and os.path.exists(m.staged):
                os.remove(m.staged)


class HbaseKVStreamWriter(_FlushFileWriter, DataSourceStreamArrowWriter):
    """Streaming flush-file SINK — the write half of the changefeed story
    (the reference has no write path at all; SURVEY §2.1 S11): each
    micro-batch becomes one or more immutable, rowkey-sorted flush files,
    published under names that sort by batch id — exactly the layout
    :class:`HbaseKVStreamReader` consumes, so two jobs can be chained
    through a directory like region servers through a WAL.

    Exactly-once via the two-phase DS commit protocol: tasks stage,
    ``commit()`` runs once per successful batch on the driver and
    publishes the staged files as ``{batchId}-{task}.parquet``,
    ``abort()`` deletes the stage. Names are deterministic in (batchId,
    task index), so a replayed commit republishes the same files —
    idempotent."""

    def commit(self, messages, batchId: int) -> None:
        self._publish(messages, lambda i: f"{batchId:010d}-{i:04d}.parquet")


class HbaseKVBatchWriter(_FlushFileWriter, DataSourceArrowWriter):
    """Batch ``df.write.format("hbasekv")`` — the same staged-flush-file
    two-phase commit as the streaming writer, with a per-job publication
    prefix and optional overwrite (SaveMode.Overwrite retires every live
    file in the same manifest swap that publishes the new ones, so a
    reader never sees an empty or mixed table).
    Published names carry a job-unique token, so successive APPEND writes
    never collide (a fixed prefix would silently clobber the previous
    append's files); within one job the names are deterministic, so a
    replayed commit overwrites its own files — still idempotent.
    The reference connector is read-only; this is the write half its
    users lack (SURVEY §2.1 S11). Note the stream READER's offset
    contract (monotone digit-sorted flush names) applies to directories
    fed by the STREAM writer; a directory is one or the other."""

    def __init__(self, *args, overwrite: bool = False, **kwargs) -> None:
        import uuid

        super().__init__(*args, **kwargs)
        self.overwrite = overwrite
        # fixed at job submission on the driver; commit() reuses it, so a
        # commit retry republishes the SAME names (idempotent) while a new
        # append job gets fresh ones (no clobber)
        self.job_token = uuid.uuid4().hex[:12]

    def commit(self, messages) -> None:
        # a table directory that does not exist yet has nothing to retire
        overwrite = self.overwrite and os.path.isdir(self.path)
        self._publish(
            messages,
            lambda i: f"batch-{self.job_token}-{i:05d}.parquet",
            remove=data_files(self.path) if overwrite else (),
        )


def _arrow_schema(schema: StructType):
    """The one Spark -> Arrow type mapping of the reader and both writers:
    PySpark's own, with zone-less ``timestamp[us]`` (the type flush files
    have always stored). Every field is nullable, as a Parquet column of
    sparse cells is."""
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema

    return pa.schema(f.with_nullable(True) for f in to_arrow_schema(schema, timestamp_utc=False))


def register_hbasekv(spark) -> None:
    """Register the source so ``spark.read.format('hbasekv')`` works. The
    reader negotiates ``pushFilters``, which Spark only calls (and
    otherwise refuses the read) with Python filter pushdown enabled."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(HbaseKVDataSource)
