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
  just that group's files and writing ONE rowkey-sorted replacement via
  coalesce(1) — a map-only re-encode, no shuffle: inputs are
  rowkey-sorted and (by the writer contract) non-overlapping in
  time-order, so concatenation in file order preserves the global range
  layout.

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

from spark_hbase_connector_spark.sources.layout import commit, data_files


def plan_compaction(path: str, target_bytes: int = 128 * 1024 * 1024) -> list[list[str]]:
    """Greedy size-based bin-packing of a directory's parquet files, in
    filename order (= rowkey/flush order for write_table / hbasekv
    layouts). Returns groups of file paths; only groups of >=2 files are
    worth rewriting."""
    groups: list[list[str]] = []
    cur: list[str] = []
    cur_bytes = 0
    for f in data_files(path):
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
    groups = plan_compaction(path, target_bytes)
    files_before = sum(len(g) for g in groups)
    staging = os.path.join(path, ".staging", uuid.uuid4().hex)
    rewritten = 0
    try:
        for i, group in enumerate(groups):
            if len(group) < 2:
                continue
            out_dir = os.path.join(staging, f"g{i}")
            # file order == rowkey-range order by the writer contract, so
            # a single-task concat re-encode keeps the sorted layout
            (
                spark.read.parquet(*group)
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(out_dir)
            )
            [part] = data_files(out_dir)
            # "<first>-<token>.parquet" sorts just before "<first>.parquet",
            # so the merged rows keep the group's place in file order
            first = os.path.basename(group[0]).removesuffix(".parquet")
            merged = f"{first}-{uuid.uuid4().hex[:8]}.parquet"
            commit(path, {part: merged}, remove=group)
            rewritten += 1
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return {
        "groups_rewritten": rewritten,
        "files_before": files_before,
        "files_after": len(data_files(path)),
    }
