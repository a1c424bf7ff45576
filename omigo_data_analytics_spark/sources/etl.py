"""Date-partitioned scans: the reference's etl/date-range lifecycle
(reference omigo_hydra/etl.py:24-210, hydra.py:261-293,
file_paths_util.py:18-143) re-expressed as Hive-style partition discovery +
partition pruning.

The reference manually constructs `.../dt=yyyymmdd/...` path lists between
two datetimes and reads each file. On Spark the same layout IS a
partitioned table: reading the base path discovers `dt` as a partition
column, and a filter on it prunes directories at planning time — the scan
never lists, opens, or reads excluded dates. `scan_by_datetime_range`
emits exactly that plan shape (verify with .explain: PartitionFilters).

For layouts Spark cannot discover (no `dt=` prefix), `paths_for_range`
reproduces the reference's explicit path construction.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..core.dataframe import OmigoDF
from .io import _as_paths, _read_parquet

_GRAN_STEP = {"daily": timedelta(days=1), "hourly": timedelta(hours=1)}


def _parse_dt(x) -> datetime:
    if isinstance(x, datetime):
        return x
    for fmt in ("%Y-%m-%d %H:%M:%S", "%Y-%m-%d", "%Y%m%d"):
        try:
            return datetime.strptime(str(x), fmt)
        except ValueError:
            continue
    raise ValueError(f"unparseable datetime: {x!r}")


def dt_values(start, end, granularity: str = "daily") -> list[str]:
    """Partition values covered by [start, end] at the given granularity
    (reference file_paths_util.py:18-143: daily yyyymmdd / hourly
    yyyymmddHH, inclusive ends + spillover day handled by the range)."""
    s, e = _parse_dt(start), _parse_dt(end)
    step = _GRAN_STEP[granularity]
    fmt = "%Y%m%d" if granularity == "daily" else "%Y%m%d%H"
    out, cur = [], s.replace(minute=0, second=0, microsecond=0)
    if granularity == "daily":
        cur = cur.replace(hour=0)
    while cur <= e:
        out.append(cur.strftime(fmt))
        cur += step
    return out


def paths_for_range(base_path: str, start, end, granularity: str = "daily",
                    prefix: str = "dt") -> list[str]:
    """Explicit path list, for non-discoverable layouts (reference
    etl.py:24-110)."""
    return [f"{base_path}/{prefix}={v}" for v in dt_values(start, end, granularity)]


def _load(spark: SparkSession, fmt: str, path_or_paths, reader_opts: dict):
    """A parquet scan reuses an earlier read of the same files
    (``io._read_parquet``); any other format is a plain ``load``."""
    if fmt == "parquet":
        return _read_parquet(spark, _as_paths(path_or_paths), reader_opts)
    return spark.read.format(fmt).options(**reader_opts).load(path_or_paths)


def scan_by_datetime_range(spark: SparkSession, base_path: str, start, end,
                           granularity: str = "daily", fmt: str = "parquet",
                           partition_col: str = "dt", **reader_opts) -> OmigoDF:
    """Scan a `dt=`-partitioned table between two datetimes with partition
    pruning (replaces reference etl.scan_by_datetime_range's manual path
    fan-out; the filter below reaches the scan as a PartitionFilter, so
    out-of-range dates are never listed or read)."""
    df = _load(spark, fmt, base_path, reader_opts)
    vals = dt_values(start, end, granularity)
    return OmigoDF(df.where(F.col(partition_col).isin(vals)))


def read_with_filter_transform(spark: SparkSession, path_or_paths,
                               filter_transform_func=None, cols=None,
                               fmt: str = "parquet", **reader_opts) -> OmigoDF:
    """Reference hydra.py:156-257 pushed a row filter/projection into the
    per-file read loop by hand. Declaratively, `.select`/`.filter` after
    the scan compiles to scan-level pushdown (PushedFilters/ReadSchema in
    the plan) — same I/O savings, no custom read loop."""
    df = _load(spark, fmt, _as_paths(path_or_paths), reader_opts)
    odf = OmigoDF(df)
    if cols is not None:
        odf = odf.select(cols)
    if filter_transform_func is not None:
        odf = filter_transform_func(odf)
    return odf


# ------------------------------------------------- ETL path-name helpers
# Pure string formatting parity (reference hydra etl.py:104-150 — also
# surfaced through extensions etl_ext.py). The scan-side counterparts
# (paths_for_range / scan_by_datetime_range above) are the data path.

def get_etl_date_str_from_ts(ts) -> str:
    """(etl.py:105-107) epoch/str ts → 'YYYY-MM-DD'."""
    from ..functions.timefuncs import utctimestamp_to_datetime

    return utctimestamp_to_datetime(ts).strftime("%Y-%m-%d")


def get_etl_datetime_str_from_ts(ts) -> str:
    """(etl.py:110-112)"""
    from ..functions.timefuncs import utctimestamp_to_datetime

    return utctimestamp_to_datetime(ts).strftime("%Y-%m-%dT%H:%M:%S")


def get_etl_file_date_str_from_ts(ts) -> str:
    """(etl.py:115-117) filename form 'YYYYMMDD'."""
    from ..functions.timefuncs import utctimestamp_to_datetime

    return utctimestamp_to_datetime(ts).strftime("%Y%m%d")


def get_etl_file_datetime_str_from_ts(ts) -> str:
    """(etl.py:120-122) filename form 'YYYYMMDD-HHMMSS'."""
    from ..functions.timefuncs import utctimestamp_to_datetime

    return utctimestamp_to_datetime(ts).strftime("%Y%m%d-%H%M%S")


def get_etl_file_base_name_by_ts(prefix: str, start_ts, end_ts) -> str:
    """(etl.py:126-150) '<prefix>-<startYYYYMMDD-HHMMSS>-<endYYYYMMDD-
    HHMMSS>' — the reference's ETL artifact naming scheme."""
    return (f"{prefix}-{get_etl_file_datetime_str_from_ts(start_ts)}"
            f"-{get_etl_file_datetime_str_from_ts(end_ts)}")


def get_etl_file_path_by_ts(base_path: str, prefix: str, start_ts, end_ts,
                            extension: str = "tsv.gz") -> str:
    """ETL artifact full path under the dt= partition of its start day."""
    return (f"{base_path}/dt={get_etl_file_date_str_from_ts(start_ts)}/"
            f"{get_etl_file_base_name_by_ts(prefix, start_ts, end_ts)}"
            f".{extension}")


def get_file_paths_by_datetime_range(base_path: str, start, end,
                                     granularity: str = "daily",
                                     prefix: str = "dt") -> list[str]:
    """Reference-named alias (hydra etl.py:187, file_paths_util.py) of
    paths_for_range — enumerate dt= partition paths between datetimes."""
    return paths_for_range(base_path, start, end, granularity=granularity,
                           prefix=prefix)


def get_matching_etl_date_time_path(path: str, new_base_path: str,
                                    new_prefix: str,
                                    new_extension: str | None = None) -> str:
    """(hydra etl.py:96-102) rewrite an ETL artifact path onto a new base
    directory / prefix, preserving its dt= partition and time-range name
    parts: .../dt=D/<prefix>-<start_date>-<start_time>-<end_date>-
    <end_time>.<ext>."""
    parts = path.split("/")
    if len(parts) < 2 or not parts[-2].startswith("dt="):
        raise ValueError(f"not an ETL dt= path: {path}")
    date_part = parts[-2][len("dt="):]
    base = parts[-1]
    name, _, extension = base.partition(".")
    pieces = name.split("-")
    if len(pieces) < 5:
        raise ValueError(f"not an ETL artifact name: {base}")
    start_date, start_time, end_date, end_time = pieces[-4:]
    ext = new_extension if new_extension is not None else extension
    return (f"{new_base_path}/dt={date_part}/{new_prefix}-{start_date}"
            f"-{start_time}-{end_date}-{end_time}.{ext}")
