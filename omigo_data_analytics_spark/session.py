"""SparkSession helpers tuned for this engine.

The engine itself never creates a session implicitly — every operator works
on whatever session the caller's DataFrame belongs to. ``get_spark`` is a
convenience for tests/benchmarks; ``prepare_session`` applies the runtime
confs the engine needs on an externally provided session (e.g. the
correctness driver's).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs the engine relies on.
_RUNTIME_CONFS = {
    # Spark can only read a TIMESTAMP(NANOS) parquet column as a long
    # (nanoseconds since epoch); io.events_ts converts it via
    # timestamp_micros(ns div 1000). The shipped events files store
    # timestamp[us] (read as timestamp_ntz), so this serves only
    # nanosecond files.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Oracle comparability: DuckDB timestamps are UTC-naive; pin the session
    # so date_format/year/etc. agree.
    "spark.sql.session.timeZone": "UTC",
    # Lambda-parity operators (filter/transform/flatmap with user callables)
    # must run arbitrary Python; Arrow batch transfer makes those UDFs
    # vectorized at the serialization layer instead of row-at-a-time pickling.
    "spark.sql.execution.pythonUDF.arrow.enabled": "true",
}


def prepare_session(spark: SparkSession) -> SparkSession:
    """Apply runtime confs this engine needs to an existing session."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    return spark


def get_spark(app_name: str = "omigo_spark", cpus: int | None = None) -> SparkSession:
    """Create (or get) a local session with scale-appropriate defaults.

    On a real cluster these confs come from spark-submit; locally we mirror
    what we would set there: AQE on (runtime re-plan, skew-join handling),
    shuffle partitions ~ cores (not the 200 default), Arrow for any
    pandas-interop, UTC timestamps for oracle comparability.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 4)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return prepare_session(spark)
