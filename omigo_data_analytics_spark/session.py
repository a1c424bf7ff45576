"""SparkSession helpers tuned for this engine.

The engine itself never creates a session implicitly — every operator works
on whatever session the caller's DataFrame belongs to. ``get_spark`` is a
convenience for tests/benchmarks; ``prepare_session`` applies the runtime
confs the engine needs on an externally provided session (e.g. the
correctness driver's).
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import socket
import tempfile

from pyspark.sql import SparkSession

# the directory holding this package: the workers import the daemon, and
# any UDF that references a package function, from here
_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Both the JVM and PySpark name a Python-worker socket
# ``<dir>/.<uuid4>.sock``, 43 bytes past the directory, and an AF_UNIX path
# holds at most 107 bytes.
_SOCK_DIR_MAX = 107 - 43


@functools.cache
def _socket_dir() -> str | None:
    """A private directory (mode 0700) for the Python workers' Unix
    sockets, made once per process and removed at exit; None when no
    short enough one can be made. It must be private: the Unix-socket
    channel sends no secret, so whoever can open a socket file there can
    connect. ``java.io.tmpdir``, the JVM's default, can be too long."""
    if not hasattr(socket, "AF_UNIX"):
        return None
    for base in (tempfile.gettempdir(), "/tmp"):
        try:
            d = tempfile.mkdtemp(prefix="omigo-uds-", dir=os.path.abspath(base))
        except OSError:
            continue
        if len(d) > _SOCK_DIR_MAX:
            os.rmdir(d)
            continue
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        return d
    return None


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
    """Apply runtime confs this engine needs to an existing session.

    Only runtime confs: the worker daemon and the worker channel are
    static confs, so an external session keeps PySpark's own daemon (each
    Python-UDF task re-reads the zip archives on the workers' path) and
    its TCP worker sockets, and its workers import this package only if
    the session's Python path already reaches it."""
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

    Python-UDF workers start from ``omigo_data_analytics_spark.pydaemon``
    and find the package root on their ``PYTHONPATH``, put in front of any
    value the session already carries (``spark.executorEnv.PYTHONPATH``),
    so UDFs run whatever the driver's working directory. They talk to the
    JVM over Unix domain sockets in a private directory (``_socket_dir``):
    on a local TCP socket every task waits about 40 ms for a delayed ACK.
    Without such a directory the channel stays on TCP.
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
        .config("spark.python.daemon.module", "omigo_data_analytics_spark.pydaemon")
    )
    sock_dir = _socket_dir()
    if sock_dir is not None:
        builder = (builder
                   .config("spark.python.unix.domain.socket.enabled", "true")
                   .config("spark.python.unix.domain.socket.dir", sock_dir))
    spark = builder.getOrCreate()
    sc = spark.sparkContext
    sc.setLogLevel("WARN")
    # the environment every Python function ships to its workers, read
    # from the spark.executorEnv.* confs at start-up; workers are pooled
    # per environment, so a second call must leave it as it is
    env = sc.environment
    path = env.get("PYTHONPATH", "")
    if _PKG_ROOT not in path.split(os.pathsep):
        env["PYTHONPATH"] = os.pathsep.join(p for p in (_PKG_ROOT, path) if p)
    return prepare_session(spark)
