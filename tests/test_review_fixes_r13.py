"""r13 review fixes: de-skewed analytic aggregate/group_count (groupBy +
null-safe join-back instead of Window.partitionBy(group) — the hot-key
window partition is the one shuffle-skew shape AQE cannot split), and
the analytic forms that the window path rejected (quantiles, Python
callables) now working."""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from omigo_data_analytics_spark import OmigoDF

SF = "/root/testdata/sf0.001"


def _plan(spark, name):
    df = entry.queries()[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_aggregate_analytic_has_no_window(spark):
    """collapse=False compiles to partial-agg groupBy + join-back: no
    WindowExec anywhere in the plan (a hot group would be ONE task)."""
    p = _plan(spark, "aggregate_analytic")
    assert "Window" not in p
    assert "HashAggregate" in p  # partial-aggregated census


def test_group_count_analytic_has_no_window(spark):
    df = entry.queries()["group_count"](spark, SF)  # uses collapse inside
    li = OmigoDF(df.sparkSession.read.parquet(f"{SF}/lineitem.parquet"))
    out = li.group_count(["l_returnflag"], prefix="g", collapse=False)
    p = out.df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in p


def test_aggregate_analytic_values_match_window_semantics(spark):
    """Join-back parity with the old window path, including NULL group
    keys (eqNullSafe: NULL is a real group, same as partitionBy)."""
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), (None, 10.0), (None, 20.0), ("b", 5.0)],
        ["g", "v"])
    out = OmigoDF(df).aggregate(["g"], ["v"], ["sumfloat"], collapse=False)
    assert out.num_rows() == 5
    got = {(r["g"], r["v"]): r["v:sumfloat"] for r in out.df.collect()}
    assert got[("a", 1.0)] == 3.0 and got[("a", 2.0)] == 3.0
    assert got[(None, 10.0)] == 30.0 and got[(None, 20.0)] == 30.0
    assert got[("b", 5.0)] == 5.0


def test_aggregate_analytic_replaces_colliding_output_name(spark):
    """withColumn semantics: an existing column named like the output is
    replaced in place, not duplicated."""
    df = spark.createDataFrame([("a", 1.0, 99.0), ("a", 2.0, 99.0)],
                               ["g", "v", "v:sumfloat"])
    out = OmigoDF(df).aggregate(["g"], ["v"], ["sumfloat"], collapse=False)
    assert out.columns == ["g", "v", "v:sumfloat"]
    assert all(r["v:sumfloat"] == 3.0 for r in out.df.collect())


def test_aggregate_analytic_quantile_now_supported(spark):
    """quantile/median were _WINDOW_UNSUPPORTED; the groupBy+join-back
    path runs every registry aggregate (reference parity: its analytic
    mode reuses the same funcs, dataframe.py:1080-1123)."""
    df = spark.createDataFrame(
        [("a", "1"), ("a", "2"), ("a", "3"), ("b", "10")], ["g", "v"])
    out = OmigoDF(df).aggregate(["g"], ["v"], ["median"], collapse=False)
    got = {r["g"]: r["v:median"] for r in out.df.collect()}
    assert got["a"] == 2.0 and got["b"] == 10.0


def test_aggregate_analytic_python_callable_now_supported(spark):
    def span(vals):
        fs = [float(v) for v in vals if v != ""]
        return max(fs) - min(fs)

    df = spark.createDataFrame([("a", "1"), ("a", "4"), ("b", "7")],
                               ["g", "v"])
    out = OmigoDF(df).aggregate(["g"], ["v"], [span], collapse=False)
    got = {r["g"]: r["v:span"] for r in out.df.collect()}
    assert got["a"] == "3.0" and got["b"] == "0.0"


def test_aggregate_analytic_empty_grouping_is_broadcast_total(spark):
    df = spark.createDataFrame([(1.0,), (2.0,), (3.0,)], ["v"])
    out = OmigoDF(df).aggregate([], ["v"], ["sumfloat"], collapse=False)
    assert sorted(r["v:sumfloat"] for r in out.df.collect()) == [6.0] * 3
    p = out.df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in p


def test_group_by_key_hot_group_census_warns(spark):
    """r12 verdict #4: applyInPandas materializes each group as one
    pandas frame; the census warns on a hot group, names aggregate()
    as the remedy, stays silent on normal corpora, and None opts out."""
    import warnings

    def f(rows):
        return {"n": len(rows)}

    hot = OmigoDF(spark.createDataFrame([("a", str(i)) for i in range(50)],
                                        ["k", "v"]))
    with pytest.warns(UserWarning, match="aggregate\\(\\)"):
        hot.group_by_key(["k"], ["v"], f, warn_group_rows=10).df.collect()
    # silent below the threshold and when opted out
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        hot.group_by_key(["k"], ["v"], f, warn_group_rows=1000).df.collect()
        hot.group_by_key(["k"], ["v"], f, warn_group_rows=None).df.collect()


def test_session_stats_bucketed_passthrough(spark):
    """session_stats forwards the sessionize scale-path params and the
    collapsed stats stay bit-identical."""
    from omigo_data_analytics_spark.operators.timeseries import session_stats

    rows = [("u", float(t)) for t in [0, 10, 20, 5000, 5030, 99999]] + \
           [("w", float(t)) for t in [100, 90000]]
    df = spark.createDataFrame(rows, "k string, t double")
    plain = session_stats(OmigoDF(df), "k", "t", gap_sec=60.0).df
    buck = session_stats(OmigoDF(df), "k", "t", gap_sec=60.0,
                         time_buckets_sec=3600.0, hot_key_rows=1).df
    assert sorted(map(tuple, plain.collect())) == \
        sorted(map(tuple, buck.collect()))


def test_inverted_index_windowgrouplimit_engages(spark):
    """r13 window audit: the old unordered doc_freq count-window in the
    rank partition DEFEATED WindowGroupLimit (a stopword term landed
    every posting in one task). With doc_freq as a groupBy join-back,
    the rank window carries only row_number + filter and the map-side
    pre-limit engages."""
    p = _plan(spark, "inverted_index")
    assert "WindowGroupLimit" in p


def test_bucketed_ops_nan_time_parity(spark):
    """r13 extreme-values sweep: Spark's floor(NaN/span) is 0, but NaN
    sorts GREATER than every double in the plain windows — bucket 0
    silently misplaced NaN rows. _time_bucket pins NaN to the LAST
    bucket; all four bucketed ops must stay bit-identical to their
    plain plans on a NaN/Inf-laced corpus."""
    from omigo_data_analytics_spark.operators import timeseries as TS

    nan, inf = float("nan"), float("inf")
    ts = [1.0, 2.0, 100.0, 5000.0, nan, nan, inf, -inf, None, 7.0]
    rows = [("k", float(i), t) for i, t in enumerate(ts)] + \
           [("j", 99.0, nan), ("j", 98.0, 3.0)]
    df = spark.createDataFrame(rows, "k string, v double, t double")
    odf = OmigoDF(df)

    def canon(frame):
        return sorted(tuple(str(x) for x in r) for r in
                      map(tuple, frame.collect()))

    # sessionize
    a = TS.sessionize(odf, "k", "t", gap_sec=10.0).df
    b = TS.sessionize(odf, "k", "t", gap_sec=10.0,
                      time_buckets_sec=60.0, hot_key_rows=1).df
    assert canon(a) == canon(b), "sessionize NaN divergence"
    # rolling (needs dense buckets -> huge span keeps one bucket + NaN bucket)
    a = TS.rolling_aggregate(odf, "k", "t", ["v"], ["mean"], window_rows=2,
                             tiebreak_cols=["v"]).df
    b = TS.rolling_aggregate(odf, "k", "t", ["v"], ["mean"], window_rows=2,
                             tiebreak_cols=["v"], time_buckets_sec=1e9,
                             hot_key_rows=1).df
    assert canon(a) == canon(b), "rolling NaN divergence"
    # asof backward + nearest
    left = OmigoDF(df.select("k", F.col("v").alias("lv"),
                             F.col("t").alias("lt")))
    right = OmigoDF(df.select("k", F.col("v").alias("rv"),
                              F.col("t").alias("rt")))
    for direction in ("backward", "nearest"):
        a = TS.asof_join(left, right, "k", "lt", "rt", suffix="q",
                         direction=direction, tiebreak_cols=["rv"]).df
        b = TS.asof_join(left, right, "k", "lt", "rt", suffix="q",
                         direction=direction, tiebreak_cols=["rv"],
                         time_buckets_sec=60.0, hot_key_rows=1).df
        assert canon(a) == canon(b), f"asof {direction} NaN divergence"
    # merge_intervals (the op that caught it)
    iv = OmigoDF(df.select("k", F.col("t").alias("s"),
                           (F.col("t") + 5.0).alias("e")))
    a = TS.merge_intervals(iv, "k", "s", "e").df
    b = TS.merge_intervals(iv, "k", "s", "e",
                           time_buckets_sec=60.0, hot_key_rows=1).df
    assert canon(a) == canon(b), "merge_intervals NaN divergence"


def test_timeseries_hostile_column_names(spark):
    """r13 hostile-name sweep extension to the time-series family:
    F.col/partitionBy/groupBy/select PARSE bare strings, so dots and
    backticks in user column names were struct accesses / syntax
    errors. All name entry points now quote."""
    from omigo_data_analytics_spark.operators import timeseries as TS

    wk, ws_, we = "k`ey.one", "s`t.art", "e`n.d"
    iv = spark.createDataFrame(
        [("a", 1.0, 2.0), ("a", 1.5, 9.0), (None, 4.0, 5.0)]) \
        .toDF(wk, ws_, we)
    a = TS.merge_intervals(OmigoDF(iv), wk, ws_, we).df
    b = TS.merge_intervals(OmigoDF(iv), wk, ws_, we,
                           time_buckets_sec=10.0, hot_key_rows=1).df
    canon = lambda f: sorted(tuple(str(x) for x in r)
                             for r in map(tuple, f.collect()))
    assert canon(a) == canon(b) and a.count() == 2

    ev = spark.createDataFrame(
        [("u", 1.0, 10.0), ("u", 2.0, 20.0), ("u", 500.0, 30.0)]) \
        .toDF(wk, "t`s.x", "v.a`l")
    s = TS.sessionize(OmigoDF(ev), wk, "t`s.x", gap_sec=60.0,
                      time_buckets_sec=120.0, hot_key_rows=1).df
    assert sorted(r["session_id"] for r in s.collect()) == [1, 1, 2]
    r = TS.rolling_aggregate(OmigoDF(ev), wk, "t`s.x", ["v.a`l"], ["sum"],
                             window_rows=2, tiebreak_cols=["v.a`l"]).df
    assert {x["v.a`l:rolling_sum"] for x in r.collect()} == {10.0, 30.0, 50.0}
    left = OmigoDF(ev.select(F.col("`k``ey.one`"), F.col("`t``s.x`")))
    right = OmigoDF(ev)
    aj = TS.asof_join(left, right, wk, "t`s.x", suffix="q",
                      tiebreak_cols=["v.a`l"],
                      time_buckets_sec=60.0, hot_key_rows=1).df
    assert aj.count() == 3 and "q:v.a`l" in aj.columns


def test_group_by_key_hostile_column_names(spark):
    """pyspark's applyInPandas resolves input columns via the PARSING
    bracket accessor — the input now runs under sanitized placeholder
    names, the output schema keeps the originals (both collapse modes)."""
    wk, wv = "k`ey.one", "v:al.ue`x"
    df = spark.createDataFrame([("a", 1.0), ("a", 2.0), (None, 5.0)]) \
        .toDF(wk, wv)

    def f(rows):
        return {"n": len(rows)}

    out = OmigoDF(df).group_by_key([wk], [wv], f, warn_group_rows=None)
    got = {r[wk]: r["n:f"] for r in out.df.collect()}
    assert got == {"a": "2", None: "1"}
    keep = OmigoDF(df).group_by_key([wk], [wv], f, collapse=False,
                                    warn_group_rows=None)
    assert keep.columns == [wk, wv, "n:f"]
    assert keep.df.count() == 3


def test_range_join_hostile_column_names(spark):
    """range_join used the PARSING bracket accessor (p[k]); now
    alias-qualified quoted refs."""
    from omigo_data_analytics_spark.operators import timeseries as TS

    pts = spark.createDataFrame([("a", 5.0), ("a", 50.0)]) \
        .toDF("k`ey.one", "p`t.x")
    ivs = spark.createDataFrame([("a", 0.0, 10.0)]) \
        .toDF("k`ey.one", "l`o.x", "h`i.x")
    out = TS.range_join(OmigoDF(pts), OmigoDF(ivs), "p`t.x", "l`o.x",
                        "h`i.x", on=["k`ey.one"], bin_width=10.0).df
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["p`t.x"] == 5.0


def test_operator_family_hostile_column_names(spark):
    """r13 package-wide hostile-name sweep: dotted/backticked user column
    names (JSON-flattened telemetry) through the operator families'
    quoted entry points."""
    from omigo_data_analytics_spark.operators import dedup as DD
    from omigo_data_analytics_spark.operators import graph as G
    from omigo_data_analytics_spark.operators import similarity as SIM
    from omigo_data_analytics_spark.operators import text as TX
    from omigo_data_analytics_spark.operators import trends as TR

    did, dtxt = "doc.id`x", "te`xt.col"
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps"),
         (3, "completely different words here")]).toDF(did, dtxt)
    od = OmigoDF(docs)

    m = TX.text_metrics(od, col=dtxt).df
    assert m.count() == 3 and "token_count" in m.columns
    ex = DD.dedup_exact(od, cols=[dtxt], keep_col=did).df
    assert ex.count() == 2
    tf = TX.tfidf_top_terms(od, id_col=did, col=dtxt, k=2).df
    assert tf.count() > 0

    vid, vcol = "vec.id`x", "em`b.x"
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])]).toDF(vid, vcol)
    top = SIM.cosine_topk(OmigoDF(vecs), OmigoDF(vecs), k=2,
                          id_col=vid, vec_col=vcol, query_id_col=vid).df
    assert top.count() == 6

    es, ed_ = "sr`c.x", "ds`t.x"
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c")]).toDF(es, ed_)
    lv = G.bfs_levels(OmigoDF(edges), ["a"], src_col=es, dst_col=ed_).df
    assert {(r["node_id"], r["level"]) for r in lv.collect()} == \
        {("a", 0), ("b", 1), ("c", 2)}

    kk, vv = "gr`p.x", "va`l.x"
    ev = spark.createDataFrame(
        [("g", "x"), ("g", "x"), ("g", "y")]).toDF(kk, vv)
    ds = TR.category_distribution_stats(OmigoDF(ev), [kk], vv).df
    assert ds.count() == 1


def test_viz_family_hostile_column_names(spark):
    """hostile names through dot_lines / sankey_links / geomap_prepare."""
    from omigo_data_analytics_spark.operators import dot as DOT
    from omigo_data_analytics_spark.operators import geomap as GEO
    from omigo_data_analytics_spark.operators import sankey as SK

    vid, es, ed = "no`de.id", "sr`c.x", "ds`t.x"
    v = spark.createDataFrame([("a",), ("b",), ("c",)]).toDF(vid)
    e = spark.createDataFrame([("a", "b"), ("b", "c")]).toDF(es, ed)
    lines = DOT.dot_lines(OmigoDF(v), OmigoDF(e), vid, es, ed)
    txt = " ".join(str(x) for r in lines.df.collect() for x in r)
    assert "->" in txt
    assert SK.sankey_links(OmigoDF(e), es, ed).df.count() >= 1
    g = spark.createDataFrame([(10.0, 20.0)]).toDF("la`t.x", "lo`n.x")
    assert GEO.geomap_prepare(OmigoDF(g), lat_col="la`t.x",
                              lon_col="lo`n.x").df.count() == 1
