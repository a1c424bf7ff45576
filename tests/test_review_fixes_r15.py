"""Round-15 focused pins: observe-fused checkpoint terminators (the
graph family's dead-end-flag pins live in tests/test_graph.py)."""

from pyspark.sql import functions as F

from omigo_data_analytics_spark.core.dataframe import OmigoDF
from omigo_data_analytics_spark.core.jobs import checkpoint_with_metrics


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


def _wait_for_warning(record, needle, timeout=15.0):
    import time
    t0 = time.time()
    while time.time() - t0 < timeout:
        if any(needle in str(w.message) for w in record):
            return True
        time.sleep(0.25)
    return False


def test_plain_hot_key_watch_warns_with_zero_extra_jobs(spark):
    # r13 verdict #3 via r14 verdict #5: the PLAIN ordered-carry paths
    # warn on hot keys by riding the main action (observe), with ZERO
    # extra jobs at construct — no eager census scan.
    import warnings

    from omigo_data_analytics_spark.operators import timeseries as TS
    sc = spark.sparkContext

    def _n_jobs():
        return len(sc.statusTracker().getJobIdsForGroup(None) or [])

    rows = [("hot", float(i)) for i in range(50)] + [("cold", 1.0)]
    d = OmigoDF(spark.createDataFrame(rows, ["k", "t"]))
    j0 = _n_jobs()
    out = TS.sessionize(d, "k", "t", gap_sec=5.0, hot_key_rows=10)
    assert _n_jobs() - j0 == 0  # construction submits no jobs
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        assert out.df.count() == 51
        assert _wait_for_warning(rec, "sessionize: a key group holds 50")
        assert any("time_buckets_sec" in str(w.message) for w in rec)


def test_plain_hot_key_watch_quiet_below_threshold(spark):
    import time
    import warnings

    from omigo_data_analytics_spark.operators import timeseries as TS
    rows = [("a", float(i)) for i in range(5)]
    d = OmigoDF(spark.createDataFrame(rows, ["k", "t"]))
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        out = TS.merge_intervals(
            OmigoDF(spark.createDataFrame(
                [("a", 0.0, 1.0), ("a", 2.0, 3.0)], ["k", "s", "e"])),
            "k", "s", "e", hot_key_rows=10)
        assert out.df.count() == 2
        r = TS.rolling_aggregate(d, "k", "t", ["t"], ["sum"],
                                 hot_key_rows=10)
        assert r.df.count() == 5
        time.sleep(2.0)  # give the poller time to (not) fire
        assert not [w for w in rec if "key group" in str(w.message)]


def test_plain_hot_key_watch_asof_and_results_unchanged(spark):
    import warnings

    from omigo_data_analytics_spark.operators import timeseries as TS
    left = OmigoDF(spark.createDataFrame(
        [("k", float(i)) for i in range(30)], ["k", "t"]))
    right = OmigoDF(spark.createDataFrame(
        [("k", float(i) + 0.5, i) for i in range(30)], ["k", "t", "v"]))
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        out = TS.asof_join(left, right, "k", "t", hot_key_rows=20)
        rows = {r["t"]: r["r:v"] for r in out.df.collect()}
        # backward as-of: t=5.0 matches right t=4.5 -> v=4
        assert rows[5.0] == 4 and rows[0.0] is None
        assert _wait_for_warning(rec, "asof_join: a key group holds 60")


def test_connected_components_signature_rides_checkpoint(spark):
    # long chain forces several propagation rounds through the fused
    # observe() signature path; labels must be the component min
    n = 8
    rows = [(f"n{i}", f"n{i+1}") for i in range(n)]
    cc = {r["id"]: r["cluster_id"]
          for r in __import__(
              "omigo_data_analytics_spark.operators.dedup",
              fromlist=["dedup"]).connected_components(
              OmigoDF(spark.createDataFrame(rows, ["id_a", "id_b"])),
              max_iter=20).df.collect()}
    assert set(cc.values()) == {"n0"} and len(cc) == n + 1


# --------------------------------------------------------------------------
# r15 order-key materialization: the plain carries order their windows by a
# REAL column now, so all window passes share ONE Sort and the hot-key
# counter collapses into an existing Window node (no extra pass).

def _phys_nodes(df, *names):
    import re
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {n: len(re.findall(rf"\b{n}\b", plan)) for n in names}


def test_plain_carries_single_sort_fused_counter(spark):
    from omigo_data_analytics_spark.operators import timeseries as TS
    d = OmigoDF(spark.createDataFrame(
        [(1, float(i % 50), float(i % 50) + 5.0) for i in range(200)],
        "k INT, s DOUBLE, e DOUBLE"))
    sess = TS.sessionize(d, "k", "s", gap_sec=2.0).df
    n = _phys_nodes(sess, "Sort", "WindowExec|Window")
    assert n["Sort"] == 1, n
    mi = TS.merge_intervals(d, "k", "s", "e").df
    assert _phys_nodes(mi, "Sort")["Sort"] == 1
    ra = TS.rolling_aggregate(d, "k", "s", ["e"], ["sum"], window_rows=3).df
    assert _phys_nodes(ra, "Sort")["Sort"] == 1
