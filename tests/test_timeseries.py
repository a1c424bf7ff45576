"""Time-series operators: as-of join, range join, sessionization —
semantics checked against hand-computed expectations on synthetic frames
and against brute-force joins on real testdata."""

import math

import pytest
from pyspark.sql import functions as F

from omigo_data_analytics_spark import OmigoDF
from omigo_data_analytics_spark.operators import timeseries as TS


@pytest.fixture(scope="module")
def quotes(spark):
    # (key, t, px): the right side of the as-of join
    rows = [("a", 1.0, 10.0), ("a", 5.0, 11.0), ("a", 9.0, 12.0),
            ("b", 2.0, 20.0)]
    return OmigoDF(spark.createDataFrame(rows, "k string, t double, px double"))


@pytest.fixture(scope="module")
def trades(spark):
    rows = [("a", 0.5), ("a", 1.0), ("a", 6.0), ("a", 100.0),
            ("b", 1.0), ("c", 3.0)]
    return OmigoDF(spark.createDataFrame(rows, "k string, t double"))


def test_asof_backward_inclusive(trades, quotes):
    out = TS.asof_join(trades, quotes, on="k", left_time="t",
                       right_time="t", suffix="q").df
    got = {(r["k"], r["t"]): r["q:px"] for r in out.collect()}
    assert got == {
        ("a", 0.5): None,       # before first quote
        ("a", 1.0): 10.0,       # same-timestamp quote visible
        ("a", 6.0): 11.0,       # latest at-or-before
        ("a", 100.0): 12.0,     # carries arbitrarily far forward
        ("b", 1.0): None,       # b's quote is at t=2 (future)
        ("c", 3.0): None,       # key with no right rows at all
    }
    assert out.count() == 6  # left join: every left row survives


def test_asof_tolerance(trades, quotes):
    out = TS.asof_join(trades, quotes, on="k", left_time="t",
                       suffix="q", tolerance_sec=10.0).df
    got = {(r["k"], r["t"]): r["q:px"] for r in out.collect()}
    assert got[("a", 100.0)] is None  # match is 91s stale > 10s horizon
    assert got[("a", 6.0)] == 11.0


def test_asof_vs_bruteforce_events(spark, events):
    """purchase events vs the latest view event per user — union-window
    result must equal the brute-force inequality-join result."""
    ev = events.df.select("user_id", "event_id", "ts", "event_type",
                          "value").limit(4000)
    left = OmigoDF(ev.where("event_type = 'purchase'"))
    right = OmigoDF(ev.where("event_type = 'view'")
                    .select("user_id", "ts", F.col("event_id").alias("view_id")))
    out = TS.asof_join(left, right, on="user_id", left_time="ts",
                       suffix="v").df
    # brute force: max view ts <= purchase ts, then its id
    l, r = ev.where("event_type = 'purchase'").alias("l"), \
        ev.where("event_type = 'view'").alias("r")
    bf = (l.join(r, (F.col("l.user_id") == F.col("r.user_id"))
                 & (F.col("r.ts") <= F.col("l.ts")), "left")
          .groupBy("l.event_id")
          .agg(F.max_by(F.col("r.event_id"), F.col("r.ts")).alias("view_id")))
    got = {r["event_id"]: r["v:view_id"] for r in out.collect()}
    want = {r["event_id"]: r["view_id"] for r in bf.collect()}
    assert got == want


def test_range_join_binned_equals_bruteforce(spark):
    pts = OmigoDF(spark.createDataFrame(
        [(i, float(i * 7 % 100)) for i in range(200)], "pid long, x double"))
    iv = OmigoDF(spark.createDataFrame(
        [(j, float(j * 13 % 90), float(j * 13 % 90 + 12)) for j in range(50)],
        "iid long, lo double, hi double"))
    out = TS.range_join(pts, iv, "x", "lo", "hi", bin_width=8.0).df
    got = {(r["pid"], r["iid"]) for r in out.collect()}
    bf = (pts.df.alias("p").join(
        iv.df.alias("i"),
        (F.col("p.x") >= F.col("i.lo")) & (F.col("p.x") <= F.col("i.hi"))))
    want = {(r["pid"], r["iid"]) for r in bf.select("pid", "iid").collect()}
    assert got == want and len(got) > 0


def test_range_join_with_keys(spark):
    pts = OmigoDF(spark.createDataFrame(
        [("a", 1, 5.0), ("a", 2, 50.0), ("b", 3, 5.0)],
        "k string, pid long, x double"))
    iv = OmigoDF(spark.createDataFrame(
        [("a", 10, 0.0, 10.0), ("b", 11, 40.0, 60.0)],
        "k string, iid long, lo double, hi double"))
    out = TS.range_join(pts, iv, "x", "lo", "hi", on=["k"], bin_width=10.0).df
    got = {(r["pid"], r["iid"]) for r in out.collect()}
    assert got == {(1, 10)}  # key must match AND range must contain


def test_range_join_left_preserves_unmatched_points(spark):
    # the range predicate rides the join condition: a left join keeps
    # every point, with NULL interval cols for non-contained points
    pts = OmigoDF(spark.createDataFrame(
        [(1, 5.0), (2, 50.0), (3, 7.0)], "pid long, x double"))
    iv = OmigoDF(spark.createDataFrame(
        [(10, 0.0, 10.0)], "iid long, lo double, hi double"))
    out = TS.range_join(pts, iv, "x", "lo", "hi", bin_width=8.0,
                        how="left").df
    got = {(r["pid"], r["iid"]) for r in out.collect()}
    assert got == {(1, 10), (3, 10), (2, None)}
    with pytest.raises(ValueError, match="unsupported"):
        TS.range_join(pts, iv, "x", "lo", "hi", how="full")


def test_sessionize_gaps(spark):
    rows = [("u", 0.0), ("u", 100.0), ("u", 5000.0), ("u", 5100.0),
            ("u", 99999.0), ("v", 1.0)]
    d = OmigoDF(spark.createDataFrame(rows, "k string, t double"))
    out = TS.sessionize(d, "k", "t", gap_sec=1800.0).df
    got = {(r["k"], r["t"]): r["session_id"] for r in out.collect()}
    assert got == {("u", 0.0): 1, ("u", 100.0): 1,
                   ("u", 5000.0): 2, ("u", 5100.0): 2,
                   ("u", 99999.0): 3, ("v", 1.0): 1}


def test_session_stats(spark):
    rows = [("u", 0.0), ("u", 100.0), ("u", 5000.0)]
    d = OmigoDF(spark.createDataFrame(rows, "k string, t double"))
    out = TS.session_stats(d, "k", "t", gap_sec=1800.0).df
    got = {r["session_id"]: (r["session_start"], r["session_end"],
                             r["duration_sec"], r["n_events"])
           for r in out.collect()}
    assert got == {1: (0.0, 100.0, 100.0, 2), 2: (5000.0, 5000.0, 0.0, 1)}


def test_asof_plan_single_window_exchange(trades, quotes):
    """The as-of join must compile to ONE hash-partitioned exchange +
    window — no inequality join, no cartesian."""
    out = TS.asof_join(trades, quotes, on="k", left_time="t").df
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Window") >= 1


def test_asof_forward(trades, quotes):
    out = TS.asof_join(trades, quotes, on="k", left_time="t",
                       suffix="q", direction="forward").df
    got = {(r["k"], r["t"]): r["q:px"] for r in out.collect()}
    assert got == {
        ("a", 0.5): 10.0,      # earliest at-or-after
        ("a", 1.0): 10.0,      # same-timestamp inclusive
        ("a", 6.0): 12.0,
        ("a", 100.0): None,    # nothing after
        ("b", 1.0): 20.0,
        ("c", 3.0): None,
    }


def test_asof_forward_tolerance(trades, quotes):
    out = TS.asof_join(trades, quotes, on="k", left_time="t", suffix="q",
                       direction="forward", tolerance_sec=2.0).df
    got = {(r["k"], r["t"]): r["q:px"] for r in out.collect()}
    assert got[("a", 6.0)] is None    # next quote is 3s ahead > 2s horizon
    assert got[("a", 0.5)] == 10.0    # 0.5s ahead, inside horizon


def test_rolling_aggregate(spark):
    rows = [("u", float(t), float(v)) for t, v in
            [(1, 10), (2, 20), (3, 30), (4, 40), (5, 50), (6, 60), (7, 70)]]
    d = OmigoDF(spark.createDataFrame(rows, "k string, t double, v double"))
    out = TS.rolling_aggregate(d, "k", "t", ["v"], ["mean"], window_rows=3).df
    got = {r["t"]: r["v:rolling_mean"] for r in out.collect()}
    assert got[1.0] == 10.0          # window of 1
    assert got[2.0] == 15.0          # (10+20)/2
    assert got[7.0] == 60.0          # (50+60+70)/3


def test_merge_intervals_islands(spark):
    rows = [("u", 0.0, 10.0), ("u", 5.0, 12.0), ("u", 20.0, 25.0),
            ("v", 1.0, 2.0)]
    d = OmigoDF(spark.createDataFrame(rows, "k string, lo double, hi double"))
    out = TS.merge_intervals(d, "k", "lo", "hi").df
    got = {(r["k"], r["island_id"]): (r["island_start"], r["island_end"],
                                      r["n_intervals"])
           for r in out.collect()}
    assert got[("u", 1)] == (0.0, 12.0, 2)   # overlapping pair merged
    assert got[("u", 2)] == (20.0, 25.0, 1)
    assert got[("v", 1)] == (1.0, 2.0, 1)


def test_merge_intervals_contained(spark):
    # an interval fully inside an earlier one must not split the island
    rows = [("u", 0.0, 100.0), ("u", 10.0, 20.0), ("u", 50.0, 200.0)]
    d = OmigoDF(spark.createDataFrame(rows, "k string, lo double, hi double"))
    out = TS.merge_intervals(d, "k", "lo", "hi").df.collect()
    assert len(out) == 1 and out[0]["island_end"] == 200.0


def test_asof_nearest(trades, quotes):
    out = TS.asof_join(trades, quotes, on="k", left_time="t",
                       suffix="q", direction="nearest").df
    got = {(r["k"], r["t"]): r["q:px"] for r in out.collect()}
    assert got == {
        ("a", 0.5): 10.0,     # only forward exists
        ("a", 1.0): 10.0,     # exact hit
        ("a", 6.0): 11.0,     # back 1s vs fwd 3s -> backward
        ("a", 100.0): 12.0,   # only backward exists
        ("b", 1.0): 20.0,
        ("c", 3.0): None,
    }


def test_asof_nearest_tolerance_and_tie(spark):
    q = OmigoDF(spark.createDataFrame(
        [("a", 1.0, 1.0), ("a", 5.0, 2.0)], "k string, t double, px double"))
    l = OmigoDF(spark.createDataFrame(
        [("a", 3.0), ("a", 50.0)], "k string, t double"))
    out = TS.asof_join(l, q, on="k", left_time="t", suffix="q",
                       direction="nearest", tolerance_sec=10.0).df
    got = {r["t"]: r["q:px"] for r in out.collect()}
    assert got[3.0] == 1.0     # tie (2s both ways) -> backward row
    assert got[50.0] is None   # both sides beyond tolerance


def test_asof_nearest_single_exchange(trades, quotes):
    plan = (TS.asof_join(trades, quotes, on="k", left_time="t",
                         direction="nearest").df
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan


def test_range_join_rejects_shared_nonkey_names(spark):
    """Shared non-key column names would produce duplicate output names
    (unselectable downstream) and an ambiguous range predicate — reject
    up front, like the core join's collision rule."""
    p = OmigoDF(spark.createDataFrame([(1, 5.0, "x")], ["k", "ts", "name"]))
    i = OmigoDF(spark.createDataFrame(
        [(1, 0.0, 10.0, "y")], ["k", "s", "e", "name"]))
    with pytest.raises(ValueError, match="both sides"):
        TS.range_join(p, i, "ts", "s", "e", on=["k"])


def test_rolling_aggregate_overflow_raises(spark):
    """A value that parses as double but overflows DECIMAL(28,8) must
    raise, not silently vanish from the window sum while the count
    denominator keeps it."""
    df = OmigoDF(spark.createDataFrame(
        [("a", 1, 1.0), ("a", 2, 1e22), ("a", 3, 2.0)],
        ["k", "t", "v"]))
    with pytest.raises(Exception, match="decimal overflow"):
        (TS.rolling_aggregate(df, "k", "t", ["v"], ["mean"], window_rows=2)
         .df.collect())


def test_asof_nearest_plain_carry_arms_hot_key_watch(spark):
    """direction='nearest' honours hot_key_rows on the plain carry like
    the directional carries do: the watch's row counter rides the
    backward window (no Sort of its own) and a key group at the
    threshold warns on the first action; results are unchanged."""
    import time
    import warnings

    left = OmigoDF(spark.createDataFrame(
        [("k", float(i)) for i in range(30)], ["k", "t"]))
    right = OmigoDF(spark.createDataFrame(
        [("k", float(i) + 0.5, i) for i in range(30)], ["k", "t", "v"]))
    out = TS.asof_join(left, right, "k", "t", direction="nearest",
                       hot_key_rows=20)
    plan = out.df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("CollectMetrics") == 1
    assert plan.count("Sort [") == 2  # backward + forward windows only
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        rows = {r["t"]: r["r:v"] for r in out.df.collect()}
        # equidistant t=5.0 prefers the backward match (t=4.5 -> v=4);
        # t=0.0 has only the forward match (t=0.5 -> v=0)
        assert rows[5.0] == 4 and rows[0.0] == 0
        deadline = time.time() + 15.0
        while time.time() < deadline and not any(
                "asof_join: a key group holds 60" in str(w.message)
                for w in rec):
            time.sleep(0.25)
        assert any("asof_join: a key group holds 60" in str(w.message)
                   for w in rec)


# ---------------------------------------------------------------- hot-key
# router: the census's observed counts decide the plan. Every case must
# equal both the all-bucketed (hot_key_rows=None) and the plain plan.

def _shape(df):
    """Optimized plan with expression ids and observation details
    stripped, so two builds of the same plan compare equal."""
    import re
    s = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"CollectMetrics[^\n]*", "CollectMetrics",
                  re.sub(r"#\d+L?", "", s))


def _carry(op, d, **kw):
    if op == "sessionize":
        return TS.sessionize(d, "k", "t", gap_sec=25.0, **kw).df
    if op == "rolling_aggregate":
        return TS.rolling_aggregate(d, "k", "t", ["t"], ["sum"],
                                    window_rows=2, **kw).df
    return TS.merge_intervals(d.withColumn("e", F.col("t") + 15.0),
                              "k", "t", "e", **kw).df


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


@pytest.fixture(scope="module")
def skewed(spark):
    # key "h": 40 rows (a session break halfway), "c" and NULL: 3 rows
    rows = [("h", float(i * 10 + (100 if i >= 20 else 0))) for i in range(40)]
    rows += [("c", 5.0), ("c", 15.0), ("c", 200.0)]
    rows += [(None, 1.0), (None, 2.0), (None, 500.0)]
    return spark.createDataFrame(rows, "k string, t double")


@pytest.mark.parametrize("op", ["sessionize", "rolling_aggregate",
                                "merge_intervals"])
def test_router_census_decides_plan(skewed, op):
    """All hot → the hot plan alone (the hot_key_rows=None plan, no
    semi/anti split or union); none hot → the plain plan alone; only a
    mixed census splits and unions. Results equal both references."""
    bucketed = _carry(op, skewed, time_buckets_sec=60.0, hot_key_rows=None)
    plain = _carry(op, skewed)
    want = _rows(plain)
    assert _rows(bucketed) == want
    for thr, ref in ((1, bucketed), (10_000, plain)):
        out = _carry(op, skewed, time_buckets_sec=60.0, hot_key_rows=thr)
        assert _shape(out) == _shape(ref)
        assert "LeftSemi" not in _shape(out)
        assert _rows(out) == want
    mixed = _carry(op, skewed, time_buckets_sec=60.0, hot_key_rows=10)
    plan = _shape(mixed)
    assert "LeftSemi" in plan and "LeftAnti" in plan and "Union" in plan
    assert _rows(mixed) == want


def test_router_empty_input_takes_plain_plan(spark):
    """Empty input: the census counts 0 keys and 0 hot keys, and the
    no-hot test comes first, so even hot_key_rows=1 runs the plain
    plan."""
    empty = spark.createDataFrame([], "k string, t double")
    out = TS.sessionize(empty, "k", "t", time_buckets_sec=60.0,
                        hot_key_rows=1).df
    assert _shape(out) == _shape(TS.sessionize(empty, "k", "t").df)
    assert out.collect() == []
    assert out.columns == ["k", "t", "session_id"]


def test_router_threshold_one_probes_emptiness(spark, skewed):
    """At hot_key_rows=1 every present key is hot, so construction runs
    one emptiness probe instead of the two-job census, and the rows
    equal the all-bucketed hot_key_rows=None plan."""
    import time
    import uuid

    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "router construction")
    try:
        out = TS.sessionize(skewed, "k", "t", gap_sec=25.0,
                            time_buckets_sec=60.0, hot_key_rows=1).df
    finally:
        sc.setJobGroup(None, None)
    n, prev = -1, None
    while n != prev:
        prev = n
        time.sleep(0.2)
        n = len(sc.statusTracker().getJobIdsForGroup(group) or [])
    assert n == 1, f"construction launched {n} jobs"
    assert _rows(out) == _rows(TS.sessionize(
        skewed, "k", "t", gap_sec=25.0, time_buckets_sec=60.0,
        hot_key_rows=None).df)


def test_router_hot_null_key_group(spark):
    """A NULL key is a real group and can be the hot one: the census
    counts it, the null-safe split routes its rows to the hot side, and
    the mixed plan equals both references."""
    rows = [(None, float(i)) for i in range(12)] + [("a", 1.0), ("b", 2.0)]
    d = spark.createDataFrame(rows, "k string, t double")
    hot_keys, counts = TS._hot_keys_census(d, ["k"], 5)
    assert counts == {"keys": 3, "hot": 1}
    assert [r["k"] for r in hot_keys.collect()] == [None]
    hot, cold = TS._hot_key_split(d, ["k"], 5, hot_keys)
    assert hot.count() == 12 and cold.count() == 2
    out = TS.sessionize(d, "k", "t", gap_sec=3.0, time_buckets_sec=4.0,
                        hot_key_rows=5).df
    assert "LeftSemi" in _shape(out)
    want = _rows(TS.sessionize(d, "k", "t", gap_sec=3.0).df)
    assert _rows(out) == want
    assert _rows(TS.sessionize(d, "k", "t", gap_sec=3.0,
                               time_buckets_sec=4.0,
                               hot_key_rows=None).df) == want


def test_asof_router_counts_both_inputs(spark):
    """asof_join censuses the COMBINED left and right keys: key "x" holds
    3 left + 3 right rows, hot only together at threshold 5, so with
    "x" alone every key is hot and the bucketed carry runs unsplit;
    adding a cold key "y" makes the census mixed."""
    left = [("x", 1.0), ("x", 5.0), ("x", 9.0)]
    right = [("x", 0.5, 1), ("x", 4.0, 2), ("x", 8.5, 3)]

    def run(lrows, rrows, **kw):
        lf = spark.createDataFrame(lrows, "k string, t double")
        rf = spark.createDataFrame(rrows, "k string, t double, v int")
        return TS.asof_join(lf, rf, "k", "t", **kw).df

    for extra_l, extra_r, mixed in (([], [], False),
                                    ([("y", 2.0)], [("y", 1.0, 9)], True)):
        lr, rr = left + extra_l, right + extra_r
        want = _rows(run(lr, rr))
        bucketed = run(lr, rr, time_buckets_sec=3.0, hot_key_rows=None)
        assert _rows(bucketed) == want
        out = run(lr, rr, time_buckets_sec=3.0, hot_key_rows=5)
        assert _rows(out) == want
        assert ("LeftSemi" in _shape(out)) == mixed
        if not mixed:
            assert _shape(out) == _shape(bucketed)


def test_router_cold_side_watches_at_callers_threshold(spark, monkeypatch):
    """A mixed census runs the cold keys' plain plan with the caller's
    hot_key_rows, not the "auto" default. A cold group is below that
    threshold by definition, so a caller who already passed
    time_buckets_sec is never told to pass it."""
    import time
    import warnings

    from omigo_data_analytics_spark.core import jobs

    monkeypatch.setattr(TS, "AUTO_HOT_KEY_ROWS", 4)
    rows = [("h", float(i)) for i in range(12)]
    rows += [("c", float(i)) for i in range(6)]
    d = spark.createDataFrame(rows, "k string, t double")
    before = list(jobs._watches)
    out = TS.sessionize(d, "k", "t", time_buckets_sec=100.0,
                        hot_key_rows=10).df
    new = [w for w in jobs._watches if not any(w is b for b in before)]
    assert "LeftSemi" in _shape(out) and len(new) == 1

    def pending():
        return any(w is x for w in new for x in list(jobs._watches))

    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        assert len(out.collect()) == 18
        deadline = time.time() + 15.0
        while time.time() < deadline and pending():
            time.sleep(0.1)
        assert not pending()  # the watch's callback has run
        assert not [w for w in rec if "key group" in str(w.message)]


def test_asof_checks_arguments_before_census(spark):
    """With time_buckets_sec set, asof_join rejects bad tiebreak_cols
    and returns left for a payload-free right side without submitting
    a job: both are decided before the census. A bad span still
    raises on a payload-free right side."""
    sc = spark.sparkContext

    def n_jobs():
        return len(sc.statusTracker().getJobIdsForGroup(None) or [])

    left = spark.createDataFrame([("x", 1.0), ("y", 2.0)],
                                 "k string, t double")
    right = spark.createDataFrame([("x", 0.5, 1)], "k string, t double, v int")
    keys_only = right.select("k")
    j0 = n_jobs()
    with pytest.raises(ValueError, match="tiebreak_cols"):
        TS.asof_join(left, right, "k", "t", tiebreak_cols=["nope"],
                     time_buckets_sec=3.0, hot_key_rows=1)
    out = TS.asof_join(left, keys_only, "k", "t", time_buckets_sec=3.0,
                       hot_key_rows=1).df
    assert out.columns == ["k", "t"]
    assert n_jobs() - j0 == 0
    with pytest.raises(ValueError, match="time_buckets_sec must be positive"):
        TS.asof_join(left, keys_only, "k", "t", time_buckets_sec=0.0)
    assert _rows(out) == _rows(left)


def test_hot_key_census_broadcast_hint_guarded(spark):
    """threshold below BROADCAST_HINT_MIN_THRESHOLD → census may be every
    distinct key, so the explicit broadcast hint (which bypasses AQE's
    size check) is withheld; above it the hint applies (r12 advice)."""
    from omigo_data_analytics_spark.operators.timeseries import (
        _hot_key_split, _hot_keys_census)

    df = spark.createDataFrame([("k%d" % i, i) for i in range(10)], ["k", "v"])
    hot_lo, _ = _hot_key_split(df, ["k"], 1,
                               _hot_keys_census(df, ["k"], 1)[0])
    assert "ResolvedHint" not in hot_lo._jdf.queryExecution().analyzed().toString()
    hot_hi, _ = _hot_key_split(df, ["k"], 4096,
                               _hot_keys_census(df, ["k"], 4096)[0])
    assert "ResolvedHint" in hot_hi._jdf.queryExecution().analyzed().toString()
    # routing still exact under the low threshold
    assert hot_lo.count() == 10


def test_hot_key_census_runs_once_localcheckpointed(spark):
    """the census is localCheckpointed: its aggregation does not re-run
    per semi/anti join (r12 advice: lineage re-evaluation)."""
    from omigo_data_analytics_spark.operators.timeseries import _hot_keys_census

    df = spark.createDataFrame([("a", 1)] * 5 + [("b", 2)], ["k", "v"])
    hk, counts = _hot_keys_census(df, ["k"], 3)
    assert counts == {"keys": 2, "hot": 1}
    # a checkpointed frame's plan is a scan of materialized blocks
    assert "Scan ExistingRDD" in hk._jdf.queryExecution().executedPlan().toString()
    assert [r["k"] for r in hk.collect()] == ["a"]


def test_merge_intervals_bucketed_bit_identical(spark):
    """r13: the bucketed two-phase gaps-and-islands plan is exact vs the
    plain single-window plan — NULL starts/ends, zero-length intervals,
    bucket-spanning intervals, NULL keys, across spans."""
    import random

    from omigo_data_analytics_spark.operators.timeseries import merge_intervals

    random.seed(13)
    rows = []
    for k in ["a", "b", None]:
        for _ in range(random.randint(10, 40)):
            s0 = random.choice([None] + list(range(0, 500, 7)))
            ln = random.choice([0, 1, 3, 50, 400])
            e0 = None if (s0 is None and random.random() < .5) else \
                ((s0 or 0) + ln if random.random() > .1 else None)
            rows.append((k, float(s0) if s0 is not None else None,
                         float(e0) if e0 is not None else None))
    df = spark.createDataFrame(rows, "k string, s double, e double")
    plain = merge_intervals(OmigoDF(df), "k", "s", "e").df

    def canon(frame):
        return sorted((tuple((v is None, v) for v in r) for r in
                       map(tuple, frame.collect())))

    pa = canon(plain)
    for span in (10.0, 63.0, 1000.0):
        b = merge_intervals(OmigoDF(df), "k", "s", "e",
                            time_buckets_sec=span, hot_key_rows=1).df
        assert canon(b) == pa, f"span={span} diverged"


def test_merge_intervals_bucketed_no_raw_key_window(spark):
    """the bucketed plan's windows only partition by (key, bucket) or
    run over the tiny summary frame — never by the bare key over raw
    rows (the straggler shape the path exists to remove)."""
    from omigo_data_analytics_spark.operators.timeseries import merge_intervals

    df = spark.createDataFrame([("a", 1.0, 2.0)], "k string, s double, e double")
    out = merge_intervals(OmigoDF(df), "k", "s", "e",
                          time_buckets_sec=60.0, hot_key_rows=None).df
    import re

    plan = out._jdf.queryExecution().optimizedPlan().toString()
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        spec = m.group(1)
        assert "__b__" in spec or "__me__" in spec or "__nb__" in spec, spec


def test_merge_intervals_bucketed_rejects_bad_span(spark):
    from omigo_data_analytics_spark.operators.timeseries import merge_intervals

    df = spark.createDataFrame([("a", 1.0, 2.0)], "k string, s double, e double")
    with pytest.raises(ValueError, match="time_buckets_sec"):
        merge_intervals(OmigoDF(df), "k", "s", "e", time_buckets_sec=0.0)


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


def _mk(spark, rows, schema):
    return OmigoDF(spark.createDataFrame(rows, schema))


def test_asof_null_payload_cell_not_backfilled(spark):
    """Winning right row carries a NULL cell -> output keeps it NULL
    (torn-row advice fix). Earlier right row has a non-NULL value in
    that column; the old per-column carry leaked it through."""
    left = _mk(spark, [("k", 10.0)], "k string, t double")
    right = _mk(spark, [("k", 1.0, "old_a", "old_b"),
                        ("k", 5.0, None, "new_b")],
                "k string, t double, a string, b string")
    out = TS.asof_join(left, right, on="k", left_time="t",
                       suffix="q").df.collect()[0]
    assert out["q:b"] == "new_b"     # winning row's non-NULL cell
    assert out["q:a"] is None        # winning row's NULL cell stays NULL
    assert out["q:t"] == 5.0


def test_asof_null_payload_atomic_under_tiebreak(spark):
    """Same torn-row hazard at EQUAL times with tiebreak_cols: the
    max-tiebreak row wins as a whole row, NULL cells included."""
    left = _mk(spark, [("k", 10.0)], "k string, t double")
    right = _mk(spark, [("k", 5.0, 1, "lo"),
                        ("k", 5.0, 2, None)],
                "k string, t double, seq int, v string")
    out = TS.asof_join(left, right, on="k", left_time="t",
                       suffix="q", tiebreak_cols=["seq"]).df.collect()[0]
    assert out["q:seq"] == 2
    assert out["q:v"] is None        # the winner's NULL, not 'lo'


def test_asof_nearest_null_payload_atomic(spark):
    """direction='nearest' picks one whole row per direction too."""
    left = _mk(spark, [("k", 10.0)], "k string, t double")
    # forward match (t=11) is nearer than backward (t=1); its NULL cell
    # must survive, not fall back to the backward row's value
    right = _mk(spark, [("k", 1.0, "b_val", "x"),
                        ("k", 11.0, None, "y")],
                "k string, t double, a string, b string")
    out = TS.asof_join(left, right, on="k", left_time="t",
                       direction="nearest", suffix="q").df.collect()[0]
    assert out["q:b"] == "y"
    assert out["q:a"] is None


def test_asof_empty_right_payload_returns_left(spark):
    """Right side with only the key column: nothing to carry, left
    comes back unchanged (degenerate guard on the struct carry)."""
    left = _mk(spark, [("k", 1.0), ("z", 2.0)], "k string, t double")
    right = _mk(spark, [("k",)], "k string")
    out = TS.asof_join(left, right, on="k", left_time="t").df
    assert sorted(out.columns) == ["k", "t"]
    assert out.count() == 2
