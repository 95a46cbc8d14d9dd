"""Physical layout of a catalog-described KV table — the one place that
decides which files make up a table, what rowkey range each file holds,
and what a logical column is called inside a file.

The reference plans every scan from one source of region boundaries:
each region's [startKey, endKey) becomes an input partition
(``HbaseScan.scala:27-45``). Here a Parquet data file is the region
analogue and its footer the region directory entry. Every planner in the
engine — the ``hbasekv`` reader, ``stats_scan`` and minor compaction —
reads the layout through these functions, so they always agree on the
file set.

A table written by the engine also carries a manifest, ``_manifest.json``,
and every writer publishes through ``commit``, which swaps it with one
``os.replace`` — the log-over-Parquet idea of Delta Lake (Armbrust et al.,
VLDB 2020) reduced to one small file. Readers see the old table or the
new one. Its fields:

- ``files``: the live data-file names.
- ``schema``: the Spark schema (``StructType`` JSON, nullable all the way
  down, as Spark reads a file column) that every listed file has, so
  ``load_table`` reads without a schema-inference job.
- ``rowkey``: the physical rowkey column every listed file holds,
  rowkey-sorted, so compaction can keep the merged file sorted.

``schema`` and ``rowkey`` are recorded only when certain, else null: a
commit that leaves only its own files listed (an overwrite, a first
write, a compaction of every file) records what its writer passed; any
other commit keeps the recorded value only if its files carry the same
one (an append of the same schema), so a first manifest over files
already in the directory, a column subset or a differing type records
none.

Only the standard library and pyarrow are used, so Python workers
import this cheaply.
"""

from __future__ import annotations

import fcntl
import json
import os
from typing import NamedTuple

NAMINGS = ("column", "cf:col")
MANIFEST = "_manifest.json"


def _is_data(name: str) -> bool:
    # Spark's own rule: metadata, staging and checksum files are never data
    return name.endswith(".parquet") and not name.startswith(("_", "."))


def _manifest(path: str, on_disk: list[str]) -> dict | None:
    if MANIFEST not in on_disk:
        return None
    with open(os.path.join(path, MANIFEST)) as fh:
        return json.load(fh)


def _live(on_disk: list[str], manifest: dict | None) -> set[str]:
    if manifest is None:
        return set(filter(_is_data, on_disk))
    return set(manifest["files"]).intersection(on_disk)


def has_manifest(path: str) -> bool:
    return os.path.isfile(os.path.join(path, MANIFEST))


class Snapshot(NamedTuple):
    """A table as one manifest read sees it: its live data files, sorted,
    and the ``schema`` (``StructType`` JSON) and physical ``rowkey`` the
    manifest records for all of them, None when it records none."""

    files: list[str]
    schema: dict | None
    rowkey: str | None


def snapshot(path: str) -> Snapshot:
    """The table at ``path``. With a manifest: the listed files that still
    exist (a file deleted outside the protocol is skipped). Without one:
    Spark's rule, ``*.parquet`` files whose names do not start with ``_``
    or ``.``, and nothing recorded. A file path is a one-file table."""
    if not os.path.isdir(path):
        return Snapshot([path], None, None)
    on_disk = os.listdir(path)
    manifest = _manifest(path, on_disk)
    files = sorted(os.path.join(path, n) for n in _live(on_disk, manifest))
    manifest = manifest or {}
    return Snapshot(files, manifest.get("schema"), manifest.get("rowkey"))


def data_files(path: str) -> list[str]:
    """The table's live data files, sorted (``snapshot(path).files``)."""
    return snapshot(path).files


def _nullable(t):
    """Spark's ``asNullable`` over a schema's JSON: a file source reads
    every column, array element and map value as nullable."""
    if isinstance(t, list):
        return [_nullable(v) for v in t]
    if not isinstance(t, dict):
        return t
    flags = ("nullable", "containsNull", "valueContainsNull")
    return {k: True if k in flags else v if k == "metadata" else _nullable(v) for k, v in t.items()}


def _write_manifest(path: str, manifest: dict) -> None:
    tmp = os.path.join(path, MANIFEST + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, os.path.join(path, MANIFEST))


def commit(path: str, staged: dict[str, str], remove=(), schema=None, rowkey=None) -> None:
    """Publish ``staged`` (staged file -> new data-file name) and retire
    ``remove`` (live data files of ``path``) with one manifest swap.

    - Writers are serialized by ``flock`` on the table directory.
    - A new file is invisible until the manifest lists it: a first
      manifest records the current listing, the staged files are renamed
      in, the manifest is replaced (the commit point), and only then are
      the removed files deleted. A crash at any step leaves only unlisted
      files, which readers ignore and the next commit deletes.
    - A stale remove (no longer live) raises before anything changes;
      the caller deletes its staged files.
    - Listed files deleted outside the protocol are dropped, so after a
      commit the directory's data files are exactly the listed ones.
    - ``schema`` (a ``StructType``) and ``rowkey`` describe every staged
      file; the manifest records them by the rule in the module
      docstring. No footer is read.
    """
    os.makedirs(path, exist_ok=True)
    fd = os.open(path, os.O_RDONLY)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        on_disk = os.listdir(path)
        manifest = _manifest(path, on_disk)
        live = _live(on_disk, manifest)
        gone = {os.path.basename(f) for f in remove}
        if not gone <= live:
            raise RuntimeError(f"stale commit to {path}: {sorted(gone - live)} no longer live")
        if manifest is None:
            manifest = {"files": sorted(live)}
            _write_manifest(path, manifest)
        # data files no manifest lists were left by a commit that died
        for n in set(filter(_is_data, on_disk)) - live:
            os.remove(os.path.join(path, n))
        for src, name in staged.items():
            os.replace(src, os.path.join(path, name))
        kept = live - gone - set(staged.values())
        written = {"schema": None if schema is None else _nullable(schema.jsonValue()), "rowkey": rowkey}
        if kept:
            # listed files this commit did not write vouch only for what
            # the manifest already records
            written = {
                k: manifest.get(k) if not staged or v == manifest.get(k) else None
                for k, v in written.items()
            }
        _write_manifest(path, {"files": sorted(kept | set(staged.values())), **written})
        for n in gone.difference(staged.values()):
            os.remove(os.path.join(path, n))
    finally:
        os.close(fd)


class FileBounds(NamedTuple):
    """One data file's footer summary. ``rk_min``/``rk_max`` are None when
    the rowkey column is absent or any row group lacks its statistics."""

    path: str
    n_rows: int
    rk_min: object
    rk_max: object


def file_bounds(files: list[str], phys_rowkey: str) -> list[FileBounds]:
    """One driver-side footer read per file: row count plus the rowkey
    min/max over every row group's statistics. Parquet writers keep
    truncated string statistics valid bounds (min rounded down, max up),
    so pruning on them only ever keeps too many files, never too few."""
    import pyarrow.parquet as pq

    out = []
    for fp in files:
        meta = pq.ParquetFile(fp).metadata
        names = [meta.schema.column(i).name for i in range(meta.num_columns)]
        rmin = rmax = None
        if phys_rowkey in names:
            idx = names.index(phys_rowkey)
            for rg in range(meta.num_row_groups):
                st = meta.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    rmin = rmax = None
                    break
                rmin = st.min if rmin is None else min(rmin, st.min)
                rmax = st.max if rmax is None else max(rmax, st.max)
        out.append(FileBounds(fp, meta.num_rows, rmin, rmax))
    return out


def physical_name(cat, logical: str, naming: str) -> str:
    """Column name inside the data files. The rowkey lives under its
    catalog ``col`` qualifier in both namings; other columns are the bare
    qualifier (``"column"``, external datasets) or ``cf:qualifier``
    (``"cf:col"``, what ``write_table`` writes)."""
    if naming not in NAMINGS:
        raise ValueError(f"unknown physical_naming {naming!r}, expected one of {NAMINGS}")
    col = cat.columns[logical]
    if col.is_rowkey or naming == "column":
        return col.column
    return f"{col.column_family}:{col.column}"
