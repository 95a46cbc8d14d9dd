"""Minor compaction for flush-file datasets — the maintenance operator a
streaming KV sink needs.

The `hbasekv` stream writer publishes one immutable rowkey-sorted flush
file per (micro-batch, task) — exactly how an HBase memstore flushes.
After days of small triggers the directory holds thousands of tiny files:
every scan pays per-file open/footer costs, rowkey-range pruning
degrades (each file covers a sliver), and the file listing itself becomes
a driver cost. HBase answers with minor compaction
(``HbaseConnectionUtil.scala:8-43`` is where the reference's live store
would do it server-side); `compact_flush_files` below is that minor
compaction: incremental, file-level, no shuffle, leaves right-sized
files alone. (A whole-table major compaction is an in-place
`write_table(load_table(...), catalog, path, num_partitions)` rewrite.)

Design for 100 TB:
- `plan_compaction` is pure FILE-LEVEL math (sizes from the filesystem
  listing, no data read): greedy bin-packing of adjacent files into
  ~target-byte groups. Planning cost is O(files), driver-side, same as
  Spark's own file-scan packing.
- `compact_flush_files` rewrites ONLY groups with >1 file (already-right-sized
  files are left in place untouched), one Spark job per group reading
  just that group's files with the schema the table's manifest records
  (no inference job) and writing ONE replacement via coalesce(1) — one
  task, no shuffle. Spark packs a group's splits by size, not by file
  order, so the task sorts its rows by the rowkey the manifest records
  (``sortWithinPartitions``): the merged file's row groups then hold
  ordered rowkey ranges, even where flushes overlapped. A table whose
  manifest records no rowkey is concatenated unsorted.

Crash contract: each group is one ``layout.commit`` (a manifest swap)
that lists the merged file, under a fresh name sorting where the group's
first file did, and retires the group. A crash leaves the inputs or the
merged file listed, never both; if a concurrent writer already removed
an input, the commit raises and nothing is published.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import SparkSession

from spark_hbase_connector_spark.sources.layout import commit, data_files, snapshot
from spark_hbase_connector_spark.sources.table import _read_files


def plan_compaction(path: str, target_bytes: int = 128 * 1024 * 1024) -> list[list[str]]:
    """Greedy size-based bin-packing of a directory's parquet files, in
    filename order (= rowkey/flush order for write_table / hbasekv
    layouts). Returns groups of file paths; only groups of >=2 files are
    worth rewriting."""
    return _pack(data_files(path), target_bytes)


def _pack(files: list[str], target_bytes: int) -> list[list[str]]:
    groups: list[list[str]] = []
    cur: list[str] = []
    cur_bytes = 0
    for f in files:
        sz = os.path.getsize(f)
        if cur and cur_bytes + sz > target_bytes:
            groups.append(cur)
            cur, cur_bytes = [], 0
        cur.append(f)
        cur_bytes += sz
    if cur:
        groups.append(cur)
    return groups


def compact_flush_files(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Compact small parquet files in ``path`` into ~target_bytes files.

    Returns {"groups_rewritten": int, "files_before": int, "files_after": int}.
    """
    # one manifest read: the groups and the schema they are read with
    # come from the same table version
    table = snapshot(path)
    groups = _pack(table.files, target_bytes)
    files_before = sum(len(g) for g in groups)
    staging = os.path.join(path, ".staging", uuid.uuid4().hex)
    rewritten = 0
    try:
        for i, group in enumerate(groups):
            if len(group) < 2:
                continue
            out_dir = os.path.join(staging, f"g{i}")
            df = _read_files(spark, group, table.schema).coalesce(1)
            if table.rowkey is not None:
                df = df.sortWithinPartitions(f"`{table.rowkey}`")
            df.write.mode("overwrite").parquet(out_dir)
            [part] = data_files(out_dir)
            # "<first>-<token>.parquet" sorts just before "<first>.parquet",
            # so the merged rows keep the group's place in file order
            first = os.path.basename(group[0]).removesuffix(".parquet")
            merged = f"{first}-{uuid.uuid4().hex[:8]}.parquet"
            commit(path, {part: merged}, group, schema=df.schema, rowkey=table.rowkey)
            rewritten += 1
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return {
        "groups_rewritten": rewritten,
        "files_before": files_before,
        "files_after": len(data_files(path)),
    }
