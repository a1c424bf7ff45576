"""The benchmark's workloads: which ops each runs and on what data.

An op builds one DataFrame; the harness forces it with the no-op sink in
timed passes and with ``toPandas()`` in the warm pass, where the rows are
checked.  Registry ops come from ``__spark_entry__.queries()`` and are
checked against ``oracle_sql()`` in DuckDB; the export op is defined here
and checked against DuckDB over the generated source parquet.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import functions as F


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float          # base scale factor of the generated tables
    copies: int        # key-shifted replication factor
    files: int         # parquet parts per replicated table (at most one per 1000 rows)
    passes: int        # timed passes over the ops: the work of a run is fixed
    ops: tuple[str, ...]


# Short omigo-surface ops: relational core, two Python-UDF functions, and
# small text and stats ops.  Per-op fixed costs (construction, planning,
# job launch, single-task stages) dominate.
INTERACTIVE = Workload("interactive", sf=0.01, copies=1, files=4, passes=5, ops=(
    "typed_filters", "select_regex", "inner_join_agg", "topk_per_group",
    "transform_lambda", "flatmap", "text_metrics", "quantiles",
))

# Heavy curation pipelines on key-shifted replicated data spread over
# several files per core: multi-task scans, shuffles, eager checkpoints, and
# a partitioned export that is scanned back by date range.
CURATION_SCALED = Workload("curation_scaled", sf=0.01, copies=2, files=12, passes=3, ops=(
    "ngram_jaccard",              # exact shingle Jaccard self-join
    "sessionize_bucketed",        # bucketed timeseries carry
    "etl_parquet_events_by_day",  # partitioned write_parquet + date-range scan
))

WORKLOADS = {w.name: w for w in (INTERACTIVE, CURATION_SCALED)}


def _dsum(c: str):
    """DECIMAL-exact sum shown as DOUBLE, so both engines agree bit for bit."""
    return F.sum(F.col(c).cast("decimal(18,4)")).cast("double")


def _sql_dsum(c: str) -> str:
    return f"CAST(SUM(CAST({c} AS DECIMAL(18,4))) AS DOUBLE)"


def _etl_parquet_events_by_day(ctx):
    from omigo_data_analytics_spark.core.dataframe import OmigoDF
    from omigo_data_analytics_spark.sources import etl as ETL
    from omigo_data_analytics_spark.sources import io as IO
    path = ctx.out_path("events_by_day")
    ev = ctx.load("events")
    tagged = OmigoDF(ev.df.withColumn("dt", F.date_format("ts", "yyyyMMdd")))
    ctx.write(IO.write_parquet, tagged, path, partition_by=["dt"],
              rows=ctx.rows("events"))
    week = ctx.read(ETL.scan_by_datetime_range, ctx.spark, path,
                    "2024-01-08", "2024-01-14")
    return (week.df.groupBy("dt")
            .agg(F.count(F.lit(1)).alias("n"), _dsum("value").alias("value"),
                 F.countDistinct("user_id").alias("users")))


_SQL_EVENTS_BY_DAY = f"""
SELECT CAST(strftime(ts, '%Y%m%d') AS INTEGER) AS dt, COUNT(*) AS n,
       {_sql_dsum('value')} AS value, COUNT(DISTINCT user_id) AS users
FROM events WHERE ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-15'
GROUP BY 1"""


@dataclass(frozen=True)
class EtlOp:
    build: Callable
    oracle: str


ETL_OPS = {
    "etl_parquet_events_by_day": EtlOp(_etl_parquet_events_by_day, _SQL_EVENTS_BY_DAY),
}
