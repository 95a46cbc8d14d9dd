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

A table written by the engine also carries a manifest, ``_manifest.json``
(``{"files": [live data-file names]}``), and every writer publishes
through ``commit``, which swaps it with one ``os.replace`` — the
log-over-Parquet idea of Delta Lake (Armbrust et al., VLDB 2020) reduced
to a list of file names. Readers see the old table or the new one.

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


def _live(path: str, on_disk: list[str]) -> set[str]:
    if MANIFEST not in on_disk:
        return set(filter(_is_data, on_disk))
    with open(os.path.join(path, MANIFEST)) as fh:
        return set(json.load(fh)["files"]).intersection(on_disk)


def has_manifest(path: str) -> bool:
    return os.path.isfile(os.path.join(path, MANIFEST))


def data_files(path: str) -> list[str]:
    """The table's live data files, sorted. With a manifest: the listed
    files that still exist (a file deleted outside the protocol is
    skipped). Without one: Spark's rule, ``*.parquet`` files whose names
    do not start with ``_`` or ``.``. A file path is a one-file table."""
    if not os.path.isdir(path):
        return [path]
    return sorted(os.path.join(path, n) for n in _live(path, os.listdir(path)))


def _write_manifest(path: str, names) -> None:
    tmp = os.path.join(path, MANIFEST + ".tmp")
    with open(tmp, "w") as fh:
        json.dump({"files": sorted(names)}, fh)
    os.replace(tmp, os.path.join(path, MANIFEST))


def commit(path: str, staged: dict[str, str], remove=()) -> None:
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
    """
    os.makedirs(path, exist_ok=True)
    fd = os.open(path, os.O_RDONLY)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        on_disk = os.listdir(path)
        live = _live(path, on_disk)
        gone = {os.path.basename(f) for f in remove}
        if not gone <= live:
            raise RuntimeError(f"stale commit to {path}: {sorted(gone - live)} no longer live")
        if MANIFEST not in on_disk:
            _write_manifest(path, live)
        # data files no manifest lists were left by a commit that died
        for n in set(filter(_is_data, on_disk)) - live:
            os.remove(os.path.join(path, n))
        for src, name in staged.items():
            os.replace(src, os.path.join(path, name))
        _write_manifest(path, (live - gone) | set(staged.values()))
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
