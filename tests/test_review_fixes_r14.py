"""r14 optimization-round fixes: the rolling_bucketed exactness guard
moved in-plan (no construct-time full-input probe job), and the
merge_intervals -0.0 canonicalization caught by the widened parity hunt
(Spark's min/max keep the FIRST-SEEN of the IEEE-equal pair
{-0.0, 0.0}, so the emitted island bound was accumulation-order- and
plan-shape-dependent)."""

import math

import pytest
from pyspark.sql import functions as F

from omigo_data_analytics_spark import OmigoDF
from omigo_data_analytics_spark.operators import timeseries as TS


def test_rolling_bucketed_guard_construction_is_lazy(spark):
    """Constructing the bucketed rolling plan must submit ZERO Spark
    jobs (hot_key_rows=None: no census): the old time_buckets_sec-too-
    small probe was a construct-time limit(1).count() over the full
    input — a separate job per call whose result nothing reused."""
    d = OmigoDF(spark.createDataFrame(
        [("a", float(i), 1.0) for i in range(40)],
        "k string, t double, v double"))
    sc = spark.sparkContext
    sc.setJobGroup("rollbuild", "r14 guard laziness probe")
    try:
        out = TS.rolling_aggregate(d, "k", "t", ["v"], ["sum"],
                                   window_rows=4, tiebreak_cols=["v"],
                                   time_buckets_sec=1.0,
                                   hot_key_rows=None)
        n_jobs = len(sc.statusTracker().getJobIdsForGroup("rollbuild"))
    finally:
        sc.setJobGroup(None, None)
    assert n_jobs == 0, f"plan construction launched {n_jobs} job(s)"
    # ...and the guard still fires at execution. BOTH actions matter:
    # under count() column pruning collapses the windows and the
    # __halo__==0 filter constant-folds the halo branch away, which
    # silently pruned a guard folded into the halo join's __nxt__ (the
    # first r14 attempt); the kept fold point is the final halo-drop
    # filter, which no action can prune.
    with pytest.raises(Exception, match="time_buckets_sec too small"):
        out.df.count()
    with pytest.raises(Exception, match="time_buckets_sec too small"):
        out.df.collect()


def test_rolling_bucketed_guard_ok_span_matches_plain(spark):
    """With a span wide enough, the in-plan guard is an identity: the
    bucketed output still equals the plain single-window plan."""
    rows = [("a", float(i % 13), float(i % 7)) for i in range(60)]
    d = OmigoDF(spark.createDataFrame(rows, "k string, t double, v double"))
    kw = dict(order_col="t", agg_cols=["v"], agg_funcs=["sum"],
              window_rows=3, tiebreak_cols=["v"])
    plain = sorted(map(tuple, TS.rolling_aggregate(d, "k", **kw).df.collect()))
    buck = sorted(map(tuple, TS.rolling_aggregate(
        d, "k", time_buckets_sec=1e6, hot_key_rows=None, **kw).df.collect()))
    assert buck == plain


def test_merge_intervals_negative_zero_canonical(spark):
    """An island holding both -0.0 and 0.0 bounds reports +0.0
    deterministically — in the plain plan, in the bucketed plan, and
    regardless of row order (parity-hunt trial 21: min/{max} returned
    whichever IEEE-equal representative arrived first)."""
    rows = [("a", -0.0, 5.0), ("a", 0.0, 3.0),   # island: starts {-0.0, 0.0}
            ("b", -9.0, -0.0), ("b", -7.0, 0.0)]  # island: ends {-0.0, 0.0}
    for order in (rows, rows[::-1]):
        df = spark.createDataFrame(order, "k string, s double, e double")
        for kw in ({}, {"time_buckets_sec": 17.0, "hot_key_rows": None},
                   {"time_buckets_sec": 17.0, "hot_key_rows": 1}):
            out = {r["k"]: r for r in
                   TS.merge_intervals(OmigoDF(df), "k", "s", "e",
                                      **kw).df.collect()}
            sa = out["a"]["island_start"]
            eb = out["b"]["island_end"]
            assert sa == 0.0 and math.copysign(1.0, sa) > 0, \
                f"kw={kw} island_start={sa!r} not canonical +0.0"
            assert eb == 0.0 and math.copysign(1.0, eb) > 0, \
                f"kw={kw} island_end={eb!r} not canonical +0.0"


def test_merge_intervals_negative_zero_only_island(spark):
    """A bound that is ONLY -0.0 is canonicalized to +0.0 too (the
    contract: one representative for the IEEE-equal class), while
    NULL / NaN / ±Inf pass through untouched."""
    df = spark.createDataFrame(
        [("a", -0.0, -0.0), ("n", None, float("inf"))],
        "k string, s double, e double")
    out = {r["k"]: r for r in
           TS.merge_intervals(OmigoDF(df), "k", "s", "e").df.collect()}
    sa = out["a"]["island_start"]
    assert sa == 0.0 and math.copysign(1.0, sa) > 0
    assert out["n"]["island_start"] is None
    assert out["n"]["island_end"] == float("inf")
