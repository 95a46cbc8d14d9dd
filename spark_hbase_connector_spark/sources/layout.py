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

Only ``os`` and pyarrow are used, so Python workers import this cheaply.
"""

from __future__ import annotations

import os
from typing import NamedTuple

NAMINGS = ("column", "cf:col")


def data_files(path: str) -> list[str]:
    """The table's data files, sorted: Spark's own rule, ``*.parquet``
    files whose names do not start with ``_`` or ``.`` (metadata,
    staging and checksum files are never data). A file path is a
    one-file table."""
    if not os.path.isdir(path):
        return [path]
    return sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


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
