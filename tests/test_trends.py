"""Round-5 trends operators: categorical distribution stats (entropy) and
time-paired distribution drift (cosine/jaccard across adjacent buckets) —
the reference TrendsAnalysis.scala stats/pairedStats semantics."""

import math

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from omigo_data_analytics_spark import OmigoDF
from omigo_data_analytics_spark.operators import trends as TR

SF = "/root/testdata/sf0.001"


def test_distribution_stats_known_entropy(spark):
    # key a: values x,x,y,y -> uniform over 2 -> entropy 1 bit
    # key b: values x,x,x,x -> entropy 0
    d = OmigoDF(spark.createDataFrame(
        [("a", "x"), ("a", "x"), ("a", "y"), ("a", "y"),
         ("b", "x"), ("b", "x"), ("b", "x"), ("b", "x")],
        "k string, v string"))
    got = {r["k"]: r for r in
           TR.category_distribution_stats(d, ["k"], "v").df.collect()}
    assert got["a"]["total_count"] == 4 and got["a"]["uniq_count"] == 2
    assert got["a"]["entropy"] == 1.0
    assert got["b"]["entropy"] == 0.0


def test_distribution_drift_known_values(spark):
    # key a: bucket 1 {x:1, y:1}, bucket 2 {x:1, y:1} -> identical:
    #   cosine 1, jaccard 1
    # key a: bucket 3 {z:1} -> vs bucket 2: no overlap -> 0, 0
    rows = [("a", 1, "x"), ("a", 1, "y"), ("a", 2, "x"), ("a", 2, "y"),
            ("a", 3, "z")]
    d = OmigoDF(spark.createDataFrame(rows, "k string, b int, v string"))
    out = {(r["k"], r["b"]): r for r in
           TR.distribution_drift(d, ["k"], "b", "v").df.collect()}
    assert out[("a", 1)]["cosine_sim"] == 1.0
    assert out[("a", 1)]["jaccard_sim"] == 1.0
    assert out[("a", 1)]["jsd"] == 0.0       # identical distributions
    assert out[("a", 1)]["bucket_next"] == 2
    assert out[("a", 2)]["cosine_sim"] == 0.0
    assert out[("a", 2)]["jaccard_sim"] == 0.0
    assert out[("a", 2)]["jsd"] == 1.0       # disjoint support = 1 bit
    # partial overlap: bucket 1 {x:2} vs 2 {x:1, y:1}:
    # cos = 2 / (2 * sqrt(2)); jac = 1 / 2
    d2 = OmigoDF(spark.createDataFrame(
        [("c", 1, "x"), ("c", 1, "x"), ("c", 2, "x"), ("c", 2, "y")],
        "k string, b int, v string"))
    r2 = TR.distribution_drift(d2, ["k"], "b", "v").df.collect()[0]
    assert r2["cosine_sim"] == round(2 / (2 * math.sqrt(2)), 6)
    assert r2["jaccard_sim"] == 0.5
    # {x:1} vs {x:.5,y:.5}: H(m)=-(0.75 log2 .75 + .25 log2 .25),
    # H(a)=0, H(b)=1 -> jsd = H(m) - 0.5
    hm = -(0.75 * math.log2(0.75) + 0.25 * math.log2(0.25))
    assert r2["jsd"] == round(hm - 0.5, 6)


def test_distribution_drift_matches_duckdb(spark):
    ev = OmigoDF(spark.read.parquet(f"{SF}/events.parquet")
                 .selectExpr("event_type", "user_id % 10 AS uv",
                             "CAST(CAST(date_trunc('WEEK', CAST(ts AS "
                             "TIMESTAMP)) AS DATE) AS STRING) AS wk"))
    sp = (TR.distribution_drift(ev, ["event_type"], "wk", "uv").df
          .toPandas().sort_values(["event_type", "wk"])
          .reset_index(drop=True))
    con = duckdb.connect()
    con.execute(f"""CREATE VIEW t AS SELECT event_type, user_id % 10 AS uv,
        CAST(CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE)
             AS VARCHAR) AS wk FROM '{SF}/events.parquet'""")
    du = con.execute(
        "SELECT * FROM ("
        + TR.distribution_drift_sql_duck("t", ["event_type"], "wk", "uv")
        + ") ORDER BY 1, 2").df()
    pd.testing.assert_frame_equal(sp, du, check_dtype=False)


def test_distribution_drift_null_key_and_value_pair_up(spark):
    """A NULL key (or value) is a group like 'a': two identical buckets
    read cosine 1, jaccard 1, jsd 0 in the engine and in the oracle."""
    rows = [(None, 1, "x"), (None, 2, "x"), ("a", 1, "x"), ("a", 2, "x"),
            ("v", 1, None), ("v", 2, None)]
    d = spark.createDataFrame(rows, "k string, b int, v string")
    sp = (TR.distribution_drift(OmigoDF(d), ["k"], "b", "v").df.toPandas()
          .sort_values("k", na_position="first").reset_index(drop=True))
    assert sp["k"].tolist() == [None, "a", "v"]
    assert sp["cosine_sim"].tolist() == [1.0] * 3
    assert sp["jaccard_sim"].tolist() == [1.0] * 3
    assert sp["jsd"].tolist() == [0.0] * 3
    con = duckdb.connect()
    con.register("t", d.toPandas())
    du = con.execute("SELECT * FROM ("
                     + TR.distribution_drift_sql_duck("t", ["k"], "b", "v")
                     + ") ORDER BY k NULLS FIRST").df()
    pd.testing.assert_frame_equal(sp, du, check_dtype=False)


def test_distribution_drift_plan_partial_aggregation(spark):
    """The count aggregation must be partial+final (map-side combine) —
    the shuffle carries (key,bucket,value) partial counts, not rows."""
    ev = OmigoDF(spark.read.parquet(f"{SF}/events.parquet")
                 .selectExpr("event_type", "user_id % 10 AS uv",
                             "CAST(ts AS STRING) AS wk"))
    p = (TR.distribution_drift(ev, ["event_type"], "wk", "uv")
         .df._jdf.queryExecution().executedPlan().toString())
    assert "partial_count" in p or "HashAggregate" in p
    assert "CartesianProduct" not in p


def test_distribution_drift_partition_invariant(spark):
    """Float entropy/JSD sums must survive a different shuffle layout —
    guards the round-6 canonicalization against partial-sum reordering."""
    ev = OmigoDF(spark.read.parquet(f"{SF}/events.parquet")
                 .selectExpr("event_type", "user_id % 10 AS uv",
                             "CAST(CAST(ts AS DATE) AS STRING) AS day"))
    a = (TR.distribution_drift(ev, ["event_type"], "day", "uv").df
         .toPandas().sort_values(["event_type", "day"])
         .reset_index(drop=True))
    ev2 = OmigoDF(ev.df.repartition(17, "uv"))
    b = (TR.distribution_drift(ev2, ["event_type"], "day", "uv").df
         .toPandas().sort_values(["event_type", "day"])
         .reset_index(drop=True))
    pd.testing.assert_frame_equal(a, b)


def test_trend_scores_known_values(spark):
    # key a: buckets 1..5 with counts 2,2,2,2,10 -> at bucket 5 the
    # learning window [2,2,2,2]: mean 2, median 2 (idx floor(4*.5)=2 ->
    # 3rd sorted value), stddev 0, mad 0 -> spikes 0 (guarded); at
    # bucket 4 window [2,2,2]: stddev 0 -> spike 0
    rows = []
    for b, n in [(1, 2), (2, 2), (3, 2), (4, 2), (5, 10)]:
        rows += [("a", b)] * n
    # key c has variance: counts 1,5,3 -> at bucket 3, window [1,5]:
    # mean 3, median (idx 1) = 5, sd = 2, mad = s[floor(2*.75)=1 -> 2nd]
    # - s[floor(2*.25)=0 -> 1st] = 5-1 = 4; cnt 3 -> spike_sd = 0,
    # spike_mad = max((3-5)/4, 0) = 0
    for b, n in [(1, 1), (2, 5), (3, 3)]:
        rows += [("c", b)] * n
    from omigo_data_analytics_spark.operators.trends import trend_scores

    d = OmigoDF(spark.createDataFrame(rows, "k string, b int"))
    out = {(r["k"], r["b"]): r for r in
           trend_scores(d, ["k"], "b", learning_window=4).df.collect()}
    r5 = out[("a", 5)]
    assert r5["learning_mean"] == 2.0 and r5["learning_median"] == 2.0
    assert r5["learning_stddev"] == 0.0 and r5["spike_stddev"] == 0.0
    r1 = out[("a", 1)]  # empty window -> all zeros
    assert (r1["learning_mean"], r1["spike_stddev"], r1["spike_mad"]) \
        == (0.0, 0.0, 0.0)
    rc = out[("c", 3)]
    assert rc["learning_mean"] == 3.0 and rc["learning_median"] == 5.0
    assert rc["learning_stddev"] == 2.0 and rc["learning_mad"] == 4.0
    assert rc["spike_stddev"] == 0.0 and rc["spike_mad"] == 0.0
    # a real spike: key c bucket 2 (cnt 5) vs window [1]: sd 0 -> 0; but
    # mean 1, median 1, mad = s[0]-s[0] = 0 -> guarded 0
    rc2 = out[("c", 2)]
    assert rc2["learning_mean"] == 1.0 and rc2["spike_stddev"] == 0.0


def test_trend_scores_detects_spike(spark):
    # stable series then a 10x day: spike_stddev must light up
    rows = []
    for b in range(1, 9):
        rows += [("k", b)] * (3 + (b % 2))  # counts 4,3,4,3,...
    rows += [("k", 9)] * 40
    from omigo_data_analytics_spark.operators.trends import trend_scores

    d = OmigoDF(spark.createDataFrame(rows, "k string, b int"))
    out = {r["b"]: r for r in
           trend_scores(d, ["k"], "b", learning_window=7).df.collect()}
    assert out[9]["spike_stddev"] > 10
    assert out[8]["spike_stddev"] < 1


def test_trends_job_e2e_matches_oracle(spark):
    """The executed TrendsAnalysis composition (hierarchy → stats →
    drift → trend scores → export join) hash-matches its DuckDB oracle
    at sf0.001 — the same comparison the driver gate runs at sf0.01."""
    import os

    import __spark_entry__ as entry

    got = (entry.q_trends_job_e2e(spark, SF).toPandas()
           .sort_values("grp").reset_index(drop=True))
    con = duckdb.connect()
    for t in ["orders", "lineitem"]:
        con.execute(f"CREATE VIEW {t} AS FROM '{os.path.join(SF, t)}.parquet'")
    want = (con.execute(entry._sql_trends_job_e2e()).df()
            .sort_values("grp").reset_index(drop=True))
    assert list(got.columns) == list(want.columns) or \
        set(got.columns) == set(want.columns)
    want = want[got.columns]
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    assert len(got) == 10  # one row per customer-segment digit
    assert (got["total_count"] > 0).all()


def test_sequence_stats_matches_duck_and_reference_semantics(spark):
    """sequence_stats (generateDict/StatsSequenceStats): Spark output ==
    DuckDB helper bit-for-bit, and both == a brute-force replay of the
    reference's computeStats + percIncreaseMax closures."""
    import duckdb as ddb

    rows = [("a", 1, 4, 10), ("a", 2, 3, 12), ("a", 3, 8, 9),
            ("a", 4, 2, 30), ("a", 5, 9, 11),
            ("b", 1, 5, 5), ("b", 2, 5, 5)]
    pdf = pd.DataFrame(rows, columns=["k", "b", "cnt", "tot"])
    d = OmigoDF(spark.createDataFrame(pdf))
    got = (TR.sequence_stats(d, ["k"], "b", ["cnt", "tot"], minus_window=3,
                             inference_col="cnt")
           .df.toPandas().sort_values(["k", "minus_window_value"])
           .reset_index(drop=True))
    con = ddb.connect()
    con.register("t", pdf)
    want = (con.execute(TR.sequence_stats_sql_duck(
                "t", ["k"], "b", ["cnt", "tot"], minus_window=3,
                inference_col="cnt")).df()
            .sort_values(["k", "minus_window_value"]).reset_index(drop=True))
    assert list(got.columns) == list(want.columns)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)

    def compute_stats(vals):
        s = sorted(vals)
        n = len(s)
        mean = sum(s) / n
        sd = (sum((x - mean) ** 2 for x in s) / n) ** 0.5
        return mean, s[int(n * 0.5)], sd, s[int(n * 0.75)] - s[int(n * 0.25)]

    seq = [4, 3, 8, 2, 9]  # cnt for key a, in b order
    for w in range(0, 4):
        pfx, sfx = seq[:len(seq) - w], seq[len(seq) - w:]
        mean, med, sd, mad = compute_stats(pfx)
        mx = max(pfx)
        infs = sorted((c / mx if mx > 0 else c) if c > mx else 0.0
                      for c in sfx)
        r = got[(got.k == "a") & (got.minus_window_value == w)].iloc[0]
        assert r["num_count"] == len(pfx)
        assert abs(r["cnt_mean"] - round(mean, 6)) < 1e-9
        assert (r["cnt_median"], r["cnt_min"], r["cnt_max"], r["cnt_mad"]) \
            == (med, min(pfx), mx, mad)
        assert abs(r["cnt_stddev"] - round(sd, 6)) < 1e-9
        pm = sum(infs) / len(infs) if infs else -1.0
        pmed = infs[int(len(infs) * 0.5)] if infs else -1.0
        assert abs(r["perc_over_max_mean"] - round(pm, 6)) < 1e-9
        assert abs(r["perc_over_max_median"] - round(pmed, 6)) < 1e-9
    # constant sequence -> stddev 0 -> the reference's -1 sentinel
    rb = got[(got.k == "b") & (got.minus_window_value == 0)].iloc[0]
    assert rb["cnt_stddev"] == 0.0 and rb["cnt_mean_over_stddev"] == -1.0


def test_sequence_stats_validates_inference_col(spark):
    d = OmigoDF(spark.createDataFrame([("a", 1, 2)], "k string, b int, c int"))
    import pytest as _pt
    with _pt.raises(ValueError, match="inference_col"):
        TR.sequence_stats(d, ["k"], "b", ["c"], inference_col="b")


def test_sequence_stats_single_shuffle_plan(spark):
    """The whole operator rides ONE hash exchange (the per-key array
    build); every window/stat after it is a map-side slice expression —
    the property that separates it from the reference's groupByKey."""
    import re

    d = OmigoDF(spark.createDataFrame([("a", 1, 2)],
                                      "k string, b int, cnt int"))
    out = TR.sequence_stats(d, ["k"], "b", ["cnt"], inference_col="cnt")
    p = out.df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 1


def test_null_bucket_excluded_engine_and_oracle_agree(spark):
    """A NULL bucket has no adjacency/window position — and Spark orders
    NULLS FIRST where DuckDB orders NULLS LAST, so keeping NULL buckets
    would pair DIFFERENT neighbors in the engine and the oracle (r10
    review). Both dialects now exclude them; with NULLs present the two
    sides must still agree cell-for-cell."""
    rows = [("a", "w1", 1), ("a", "w1", 2), ("a", "w2", 1),
            ("a", None, 9), ("a", None, 1),
            ("b", "w1", 3), ("b", None, 3), ("b", "w2", 3), ("b", "w3", 4)]
    ev = OmigoDF(spark.createDataFrame(rows, "grp string, wk string, uv int"))
    sp_drift = (TR.distribution_drift(ev, ["grp"], "wk", "uv").df
                .toPandas().sort_values(["grp", "wk"]).reset_index(drop=True))
    con = duckdb.connect()
    con.execute("CREATE TABLE t (grp VARCHAR, wk VARCHAR, uv INT)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    du_drift = con.execute(
        "SELECT * FROM (" + TR.distribution_drift_sql_duck("t", ["grp"], "wk", "uv")
        + ") ORDER BY 1, 2").df()
    pd.testing.assert_frame_equal(sp_drift, du_drift, check_dtype=False)
    assert not sp_drift["wk"].isna().any()
    assert "None" not in set(sp_drift["bucket_next"])

    sp_tr = (TR.trend_scores(ev, ["grp"], "wk", learning_window=2).df
             .toPandas().sort_values(["grp", "wk"]).reset_index(drop=True))
    du_tr = con.execute(
        "SELECT * FROM (" + TR.trend_scores_sql_duck("t", ["grp"], "wk", 2)
        + ") ORDER BY 1, 2").df()
    pd.testing.assert_frame_equal(sp_tr, du_tr, check_dtype=False)
    assert not sp_tr["wk"].isna().any()


def test_distribution_drift_hostile_column_names(spark):
    """Dots and backticks in the key, bucket and value names are names,
    not struct accesses: the result equals the plain-named run."""
    rows = [("a", 1, "x"), ("a", 1, "y"), ("a", 2, "x"), ("a", 3, "z"),
            (None, 1, "x"), (None, 2, "x"), ("b", 1, None), ("b", 2, None)]
    plain = spark.createDataFrame(rows, "k string, b int, v string")
    hostile = plain.toDF("k.x", "b.y", "v`z")
    want = TR.distribution_drift(OmigoDF(plain), ["k"], "b", "v").df
    got = TR.distribution_drift(OmigoDF(hostile), ["k.x"], "b.y", "v`z").df
    assert got.columns == ["k.x", "b.y", "bucket_next", "cosine_sim",
                           "jaccard_sim", "jsd"]
    assert (sorted(map(tuple, got.collect()), key=repr)
            == sorted(map(tuple, want.collect()), key=repr))
