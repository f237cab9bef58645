"""Per-file statistics for the lakehouse committers, from parquet footers.

Every data file the Delta and Iceberg committers commit carries its row
count and per-column min / max / null count: Delta writes them as the
add action's ``stats`` JSON, Iceberg as the manifest entry's
``record_count`` and bound maps. Both formats take them from here, and
each keeps only a short encoder beside its own pruning code
(``delta_py._stats_json``, ``iceberg_py._bounds3``).

The source is the parquet FOOTER of each file — a metadata read, never
a pass over the data. Plain paths open the file directly; scheme'd
paths (``gs://``, ``file:``) hand pyarrow an ``fsio.RangeReader``, so
only the tail of the object is fetched (pyarrow's footer window, at
most 64 KiB, plus the rest of a footer that is larger), through the
owning LogStore's ranged read. The same code runs on every scheme.
Footers are read serially on the driver, one bounded read per file.

A footer that cannot be read raises: the callers commit files this
writer just produced, and a swallowed failure would commit them with
zero rows or no stats. The one known unreadable case is VARIANT-typed
parquet (pyarrow 16 does not know the logical type); the committers
check the schema first and take that case elsewhere.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

from gcs2postgres_spark.sources import fsio


@dataclass(frozen=True)
class FileStats:
    """Row count plus min / max / null count per top-level column, as
    Python values (pyarrow's logical-type conversion: ``datetime`` for
    timestamps, ``date``, ``str``, ``bytes``, ``Decimal``, ...).

    A column is absent from ``mins``/``maxs`` when a row group holding
    non-null values lacks min/max statistics or has a NaN min or max
    (an all-NULL row group contributes no range and needs none; a NaN
    bound is not valid stats JSON and the Iceberg spec forbids it), and
    absent from ``nulls`` when a row group lacks a null count. Absent
    means unknown, which every reader treats as "cannot skip". Nested
    leaves are left out."""

    rows: int
    mins: dict
    maxs: dict
    nulls: dict


def _is_nan(v) -> bool:
    return isinstance(v, float) and math.isnan(v)


def part_files(path: str) -> list[tuple[str, int]]:
    """(full path, size) of every Spark part file under ``path``,
    sorted — one bulk listing on any scheme. A missing directory
    raises ``FileNotFoundError`` (a posix walk would list nothing, and
    the commit would then add no files)."""
    if not fsio.isdir(path):
        raise FileNotFoundError(f"staging directory {path} does not exist")
    return sorted(
        (p, sz) for p, sz in fsio.list_files(path)
        if os.path.basename(p).startswith("part-") and p.endswith(".parquet")
    )


def footer(path: str, size: int | None = None):
    """The pyarrow ``FileMetaData`` of one parquet file (``size``, when
    the caller's listing knows it, spares a remote stat)."""
    import pyarrow.parquet as pq

    if fsio.has_scheme(path):
        return pq.ParquetFile(fsio.RangeReader(path, size)).metadata
    return pq.ParquetFile(path).metadata


def read(path: str, size: int | None = None) -> FileStats:
    """Fold the footer's row-group statistics into one ``FileStats``."""
    md = footer(path, size)
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    no_range: set = set()
    no_nulls: set = set()
    for rg in range(md.num_row_groups):
        group = md.row_group(rg)
        for ci in range(group.num_columns):
            col = group.column(ci)
            name = col.path_in_schema
            if "." in name:
                continue
            st = col.statistics
            n_null = st.null_count if st is not None and st.has_null_count else None
            if n_null is None:
                no_nulls.add(name)
            else:
                nulls[name] = nulls.get(name, 0) + n_null
            if st is not None and st.has_min_max and not (
                _is_nan(st.min) or _is_nan(st.max)
            ):
                lo, hi = st.min, st.max
                mins[name] = lo if name not in mins else min(mins[name], lo)
                maxs[name] = hi if name not in maxs else max(maxs[name], hi)
            elif n_null != group.num_rows:
                no_range.add(name)
    for name in no_range:
        mins.pop(name, None)
        maxs.pop(name, None)
    for name in no_nulls:
        nulls.pop(name, None)
    return FileStats(md.num_rows, mins, maxs, nulls)
