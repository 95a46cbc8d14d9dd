"""Minor compaction for flush-file datasets — the maintenance operator a
streaming KV sink needs.

The `hbasekv` stream writer publishes one immutable rowkey-sorted flush
file per (micro-batch, task) — exactly how an HBase memstore flushes.
After days of small triggers the directory holds thousands of tiny files:
every scan pays per-file open/footer costs, rowkey-range pruning
degrades (each file covers a sliver), and the file listing itself becomes
a driver cost. HBase answers with minor compaction
(``HbaseConnectionUtil.scala:8-43`` is where the reference's live store
would do it server-side); the engine has two granularities: `sources/table.py:compact_table`
rewrites a WHOLE table through the catalog (major compaction — one
range-shuffled job, fresh global layout), while `compact_flush_files`
below is the minor compaction: incremental, file-level, no shuffle,
leaves right-sized files alone.

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
  layout. Replacement is two-phase with a per-group MANIFEST: first the
  group's input-file list is written atomically (tmp + rename) as
  ``<dest>.parquet.compacted.manifest``, then the merged file lands as
  ``<dest>.parquet.compacted``, then the inputs are deleted, then the
  final rename publishes, then the manifest is removed. Crash contract
  (`recover_compaction` runs at the start of every `compact_flush_files`
  and is idempotent):
  - manifest only, no ``.compacted`` file: nothing was published — drop
    the orphan manifest, inputs are intact. (This state also occurs
    AFTER a successful publish rename but before manifest cleanup;
    inputs are already gone then, so dropping the manifest is correct
    in both.)
  - ``.compacted`` file present: the merged data is durable — delete
    every manifest-listed input still on disk, THEN finish the rename.
    This closes the window where the merged file and some inputs
    coexist; without the manifest delete-first step, recovery would
    permanently duplicate the surviving inputs' rows.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import SparkSession

from spark_hbase_connector_spark.sources.layout import data_files


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


_MANIFEST_SUFFIX = ".parquet.compacted.manifest"


def _write_manifest(manifest_path: str, inputs: list[str]) -> None:
    # atomic publish: a manifest is either fully present or absent
    tmp = manifest_path + ".tmp"
    with open(tmp, "w") as fh:
        fh.write("\n".join(os.path.basename(p) for p in inputs))
    os.replace(tmp, manifest_path)


def recover_compaction(path: str) -> int:
    """Finish any interrupted group publishes. Idempotent; returns the
    number of ``*.parquet.compacted`` files published.

    Recovery order per group: if the merged ``.compacted`` file exists,
    its manifest's inputs are deleted FIRST (some may survive a crash
    mid-deletion — renaming before deleting them would duplicate their
    rows), then the rename finishes, then the manifest is dropped. A
    manifest without a ``.compacted`` file is an orphan from either side
    of the publish window and is simply removed."""
    n = 0
    for f in sorted(os.listdir(path)):
        if not f.endswith(".parquet.compacted"):
            continue
        compacted = os.path.join(path, f)
        dest = compacted[: -len(".compacted")]
        manifest = compacted + ".manifest"
        if os.path.exists(manifest):
            with open(manifest) as fh:
                listed = [line for line in fh.read().splitlines() if line]
            for name in listed:
                p = os.path.join(path, name)
                # dest (group[0]) is overwritten by the rename below, but
                # delete it too so a crash here re-enters the same state
                if os.path.exists(p):
                    os.remove(p)
        os.replace(compacted, dest)
        if os.path.exists(manifest):
            os.remove(manifest)
        n += 1
    # orphan manifests: publish never started (inputs intact) or fully
    # finished (inputs gone) — either way the manifest is stale
    for f in os.listdir(path):
        if f.endswith(_MANIFEST_SUFFIX):
            os.remove(os.path.join(path, f))
    return n


def compact_flush_files(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Compact small parquet files in ``path`` into ~target_bytes files.

    Returns {"groups_rewritten": int, "files_before": int, "files_after": int}.
    """
    recover_compaction(path)
    groups = plan_compaction(path, target_bytes)
    files_before = sum(len(g) for g in groups)
    staging = os.path.join(path, f".compact-{uuid.uuid4().hex[:8]}")
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
            # publish: manifest first (names the inputs the merged file
            # replaces), then the merged file, then drop inputs, then the
            # final rename — recover_compaction can finish from any point
            dest = group[0]  # keeps sort-order naming within the dir
            _write_manifest(dest + ".compacted.manifest", group)
            os.replace(part, dest + ".compacted")
            for f in group:
                os.remove(f)
            os.replace(dest + ".compacted", dest)
            os.remove(dest + ".compacted.manifest")
            rewritten += 1
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return {
        "groups_rewritten": rewritten,
        "files_before": files_before,
        "files_after": len(data_files(path)),
    }
