"""core/jobs.py: the observe-on-checkpoint census and the asynchronous
observe() watch, including its fallback when PySpark lacks the private
bounded read."""

import logging
import threading
import time

from pyspark.sql import functions as F

from omigo_data_analytics_spark.core import jobs
from omigo_data_analytics_spark.core.jobs import checkpoint_with_metrics


def test_checkpoint_with_metrics_keep_observes_below_filter(spark):
    """``keep`` bounds the checkpoint to the kept rows while the metrics
    still see every row, and both come from one job."""
    sc = spark.sparkContext
    df = spark.range(1000).select((F.col("id") % 10).alias("g"))
    sc.setJobGroup("ckeep", "census")
    try:
        ck, m = jobs.checkpoint_with_metrics(
            df, {"n": F.count(F.lit(1)), "kept": F.count_if(F.col("g") < 3)},
            keep=F.col("g") < 3)
    finally:
        n_jobs = len(sc.statusTracker().getJobIdsForGroup("ckeep"))
        sc.setJobGroup(None, None)
    assert n_jobs == 1
    assert m == {"n": 1000, "kept": 300}
    assert ck.count() == 300
    assert "Scan ExistingRDD" in ck._jdf.queryExecution().executedPlan().toString()


def test_observe_async_without_nonblocking_read_falls_back(
        spark, monkeypatch, caplog):
    """A PySpark whose Observation has no ``_jo`` (the private handle the
    poller reads) gets no watch: the frame comes back unobserved, the
    query runs, the callback never fires, and the fallback logs once."""
    class NoHandle(jobs.Observation):
        def _on(self, df, *exprs):
            out = super()._on(df, *exprs)
            del self._jo
            return out

    monkeypatch.setattr(jobs, "Observation", NoHandle)
    monkeypatch.setattr(jobs, "_logged", set())
    n_watches = len(jobs._watches)
    calls = []
    df = spark.range(10)
    with caplog.at_level(logging.WARNING, logger=jobs.__name__):
        outs = [jobs.observe_async(df, {"n": F.count(F.lit(1))}, calls.append)
                for _ in range(2)]
    assert all(o is df for o in outs)
    assert outs[0].count() == 10
    assert len(jobs._watches) == n_watches
    time.sleep(2 * jobs._POLL_SEC)
    assert calls == []
    msgs = [r.getMessage() for r in caplog.records if r.name == jobs.__name__]
    assert len(msgs) == 1 and "getRowOrEmpty" in msgs[0]


def test_observe_async_probe_never_calls_the_read(spark, monkeypatch):
    """The capability probe finds the read by name and never calls it on
    the caller's thread: on an unexecuted plan the JVM read waits its full
    100 ms, which every plain ordered carry would pay at construction."""
    callers = []

    class Empty:
        def isDefined(self):
            return False

    class RecordingHandle:
        def getRowOrEmpty(self):
            callers.append(threading.current_thread())
            return Empty()

    class Recording(jobs.Observation):
        def _on(self, df, *exprs):
            out = super()._on(df, *exprs)
            self._jo = RecordingHandle()
            return out

    monkeypatch.setattr(jobs, "Observation", Recording)
    df = spark.range(5)
    out = jobs.observe_async(df, {"n": F.count(F.lit(1))}, lambda m: None)
    try:
        assert out is not df  # the watch was armed
        assert threading.current_thread() not in callers
    finally:
        with jobs._watch_lock:
            for item in [w for w in jobs._watches
                         if isinstance(w[0], Recording)]:
                jobs._watches.remove(item)


def test_observe_async_callback_error_logged_once(spark, monkeypatch, caplog):
    """A failing callback never fails the query and is logged once, not
    swallowed and not once per delivery."""
    monkeypatch.setattr(jobs, "_logged", set())
    calls = []

    def boom(m):
        calls.append(m)
        raise RuntimeError("diagnostic bug")

    with caplog.at_level(logging.WARNING, logger=jobs.__name__):
        for _ in range(2):
            out = jobs.observe_async(spark.range(7), {"n": F.count(F.lit(1))},
                                     boom)
            assert out.count() == 7
        deadline = time.time() + 15.0
        while len(calls) < 2 and time.time() < deadline:
            time.sleep(0.1)
        time.sleep(0.1)
    assert calls == [{"n": 7}, {"n": 7}]
    recs = [r for r in caplog.records if r.name == jobs.__name__]
    assert len(recs) == 1
    assert "boom" in recs[0].getMessage() and recs[0].exc_info


def test_checkpoint_with_metrics_matches_separate_aggregate(spark):
    df = spark.range(1000).select((F.col("id") % 13).alias("k"),
                                  F.col("id").alias("v"))
    ck, m = checkpoint_with_metrics(
        df, {"n": F.count(F.lit(1)),
             "h": F.expr("bit_xor(xxhash64(k, v))"),
             "cond": F.count(F.when(F.col("k") == 0, 1))})
    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.expr("bit_xor(xxhash64(k, v))").alias("h"),
                 F.count(F.when(F.col("k") == 0, 1)).alias("cond")).first()
    assert m["n"] == row["n"] == 1000
    assert m["h"] == row["h"]
    assert m["cond"] == row["cond"]
    # the returned frame is materialized and reusable
    assert ck.count() == 1000


def test_checkpoint_with_metrics_empty_frame(spark):
    df = spark.range(10).where("id < 0")
    ck, m = checkpoint_with_metrics(
        df, {"n": F.count(F.lit(1)),
             "h": F.expr("bit_xor(xxhash64(id))")})
    assert m["n"] == 0
    assert m["h"] is None
    assert ck.count() == 0


def test_checkpoint_with_metrics_single_job(spark):
    # the whole point: checkpoint + terminator metrics in ONE driver job
    sc = spark.sparkContext

    def _n_jobs():
        return len(sc.statusTracker().getJobIdsForGroup(None) or [])

    df = spark.range(5000).select((F.col("id") % 7).alias("g")).distinct()
    df.count()  # warm any lazy session state
    j0 = _n_jobs()
    _, m = checkpoint_with_metrics(
        spark.range(5000).select((F.col("id") % 7).alias("g")),
        {"n": F.count(F.lit(1))})
    # no exchange in this plan -> exactly one job for ckpt + metrics
    assert _n_jobs() - j0 == 1
    assert m["n"] == 5000
