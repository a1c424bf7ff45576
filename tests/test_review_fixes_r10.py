"""Regression tests for the r10 self-review findings over core/dataframe.py:
ANSI cast edges, NULL-slot key hashing, group_by_key missing-value contract,
reorder's use_existing_order, cols_as_map NULLs, normalize's broadcast,
and the int(float(x)) convention in cumulative_sum."""

from pyspark.sql import functions as F

from omigo_data_analytics_spark import OmigoDF


def test_to_int_nan_overflow_yields_null_not_throw(spark):
    """Under Spark 4 ANSI mode, double->long CAST throws on NaN/overflow;
    to_int must instead produce NULL (the missing-value convention)."""
    df = spark.createDataFrame(
        [(1, "3.7"), (2, "NaN"), (3, "1e300"), (4, "junk"), (5, None)],
        "id long, v string")
    out = {r["id"]: r["v"] for r in
           OmigoDF(df).to_int("v").df.collect()}
    assert out == {1: 3, 2: None, 3: None, 4: None, 5: None}


def test_typed_filter_int_survives_nan_rows(spark):
    """eq_int over a column containing NaN text must not abort the job."""
    df = spark.createDataFrame(
        [(1, "5"), (2, "NaN"), (3, "1e300")], "id long, v string")
    got = [r["id"] for r in OmigoDF(df).eq_int("v", 5).df.collect()]
    assert got == [1]


def test_replicate_rows_nan_drops_row(spark):
    df = spark.createDataFrame(
        [(1, "2"), (2, "NaN")], "id long, n string")
    got = sorted(r["id"] for r in
                 OmigoDF(df).replicate_rows("n").df.collect())
    assert got == [1, 1]


def test_cumulative_sum_as_int_floats_like_reference(spark):
    """as_int=True follows int(float(x)): '3.5' contributes 3, never a
    silent NULL (a bare try_cast('long') nulls float-formatted text)."""
    df = spark.createDataFrame([(1, "3.5"), (2, "2")], "id long, v string")
    out = {r["id"]: r["cs"] for r in
           OmigoDF(df).cumulative_sum("v", "cs", sort_cols=["id"],
                                      as_int=True, exact=False).df.collect()}
    assert out == {1: 3, 2: 5}


def test_generate_key_hash_null_position_distinct(spark):
    """('x', NULL) and (NULL, 'x') are different rows and MUST hash
    differently (concat_ws alone would skip the NULL and collide them);
    whitespace normalization is the reference's tab/newline->space, not
    trim."""
    df = spark.createDataFrame(
        [(1, "x", None), (2, None, "x"), (3, "a\tb", None), (4, "a b", None)],
        "id long, c1 string, c2 string")
    out = {r["id"]: r["key_hash"] for r in
           OmigoDF(df).generate_key_hash(["c1", "c2"]).df.collect()}
    assert out[1] != out[2]
    assert out[3] == out[4]  # embedded tab normalizes to one space
    # NULL and '' occupy the slot identically (both are "missing")
    df2 = spark.createDataFrame([(5, "", "x")], "id long, c1 string, c2 string")
    h5 = OmigoDF(df2).generate_key_hash(["c1", "c2"]).df.collect()[0]["key_hash"]
    assert h5 == out[2]


def test_arg_max_null_arg_keeps_topk_slot(spark):
    """A NULL arg value must occupy its position in the top-k list as ''
    (concat_ws alone would drop it and shift ranks)."""
    df = spark.createDataFrame(
        [("g", None, 10.0), ("g", "bob", 5.0)],
        "g string, name string, score double")
    out = OmigoDF(df).arg_max(["g"], ["name"], ["score"], topk=2).df.collect()
    assert out[0]["name:score:arg_max"] == ",bob"


def test_group_by_key_null_cells_are_empty_strings(spark):
    """agg_func receives NULL cells as '' (the missing marker), never the
    literal strings 'None'/'nan'."""
    seen = []

    def agg(rows):
        seen.extend(rows)
        return {"joined": "|".join(r["a"] for r in rows)}

    df = spark.createDataFrame(
        [("g1", "v"), ("g1", None)], "g string, a string")
    out = OmigoDF(df).group_by_key(["g"], ["a"], agg, suffix="agg")
    row = out.df.collect()[0]
    assert row["joined:agg"] in ("v|", "|v")
    assert all(r["a"] in ("v", "") for r in seen)


def test_group_by_key_numeric_null_not_nan_string(spark):
    def agg(rows):
        return {"cat": ",".join(sorted(r["x"] for r in rows))}

    df = spark.createDataFrame(
        [("g1", 1.5), ("g1", None)], "g string, x double")
    row = OmigoDF(df).group_by_key(["g"], ["x"], agg, suffix="agg").df.collect()[0]
    assert "nan" not in row["cat:agg"]
    assert row["cat:agg"] == ",1.5"


def test_reorder_use_existing_order(spark):
    df = spark.createDataFrame([(1, 2, 3)], "a long, b long, c long")
    # default (reference False): argument order in front
    assert OmigoDF(df).reorder(["b", "a"]).columns == ["b", "a", "c"]
    # True: matched cols move to the front in HEADER order
    assert (OmigoDF(df).reorder(["b", "a"], use_existing_order=True)
            .columns == ["a", "b", "c"])


def test_cols_as_map_null_is_empty_string(spark):
    df = spark.createDataFrame([("k", None)], "k string, v string")
    assert OmigoDF(df).cols_as_map("k", "v") == {"k": ""}


def test_normalize_grouped_no_forced_broadcast(spark):
    """Per-group stats must not be force-broadcast (OOM at high group
    cardinality) — AQE picks broadcast when actually small."""
    from omigo_data_analytics_spark.sources.io import load_testdata

    ev = load_testdata(spark, "/root/testdata/sf0.001", "events")
    out = ev.normalize(["value"], group_cols=["user_id"])
    pre = out.df._jdf.queryExecution().optimizedPlan().toString()
    # the logical plan carries no user ResolvedHint for the grouped join
    assert "UnresolvedHint" not in pre and "broadcast" not in pre.lower()
    assert out.df.count() == ev.df.count()


def test_profile_handles_hostile_column_names(spark):
    """Names with quotes/backticks must survive profile's generated SQL
    (stack literals, named_struct refs) in both exact and approx paths."""
    df = (spark.createDataFrame([(1, "x")], ["id", "v"])
          .withColumnRenamed("v", "we`ird'name"))
    for exact in (False, True):
        rows = {r["column"]: r for r in
                OmigoDF(df).profile(exact=exact).df.collect()}
        assert set(rows) == {"id", "we`ird'name"}
        assert rows["we`ird'name"]["n_rows"] == 1


def test_explode_json_all_null_clear_error(spark):
    df = spark.createDataFrame([(1, None), (2, "")], "id long, j string")
    import pytest as _pt
    with _pt.raises(ValueError, match="explode_json.*schema"):
        OmigoDF(df).explode_json("j")


# ---------------------------------------------------------------- dedup.py
def test_connected_components_star_nonconvergence_guard(spark):
    from omigo_data_analytics_spark.operators import dedup as DD

    pairs = OmigoDF(spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "id_a long, id_b long"))
    import pytest as _pt
    with _pt.raises(RuntimeError, match="still changing"):
        DD.connected_components_star(pairs, max_iter=0)
    import warnings as W
    with W.catch_warnings(record=True) as rec:
        W.simplefilter("always")
        DD.connected_components_star(pairs, max_iter=0,
                                     on_nonconverged="warn").df.collect()
    assert any("still changing" in str(w.message) for w in rec)
    # and a normal run still converges to one component
    out = DD.connected_components_star(pairs).df.collect()
    assert {r["cluster_id"] for r in out} == {1}


# ----------------------------------------------------------------- text.py
def test_text_metrics_empty_doc_no_ansi_crash(spark):
    """Empty / whitespace-only documents must not crash text_metrics
    under ANSI (DIVIDE_BY_ZERO on the ratio denominators) — ratios go
    NULL, matching what the DuckDB oracle already returned."""
    import duckdb

    from omigo_data_analytics_spark.operators import text as T

    rows = [(1, "the quick fox"), (2, ""), (3, "   "), (4, None), (5, "\t\n")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = (T.text_metrics(OmigoDF(df)).df.toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    assert list(out["token_count"].fillna(-1)) == [3, 0, 0, -1, 1]
    assert out["quality_score"].isna().tolist() == [False, True, True,
                                                    True, False]
    assert list(out["lang_guess"]) == ["en", "und", "und", "und", "und"]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    cols = ", ".join(f"{T.metric_sql('duckdb', m)} AS {m}" for m in T.METRICS)
    duck = con.execute(
        f"SELECT doc_id, {cols} FROM t ORDER BY doc_id").df()
    for m in T.METRICS:
        a = out[m].reset_index(drop=True)
        b = duck[m].reset_index(drop=True)
        assert ((a.isna() & b.isna()) | (a == b)).all(), (m, list(a), list(b))


def test_inverted_index_bounded_buffer(spark):
    """max_postings truncation happens BEFORE collection (a frequent
    term must never materialize its full posting list in one agg
    buffer), with output identical to the collect-then-slice
    semantics: full doc_freq, first-k ascending. r13 update: the plan
    is now two bounded term exchanges (rank path WindowGroupLimit-
    pre-limited + partial-agg doc_freq) — the r10 single-exchange
    shape's in-partition count window defeated WindowGroupLimit and
    landed a stopword's whole posting list in one task."""
    import re as _re

    from omigo_data_analytics_spark.operators import text as T

    rows = [(i, "common filler") for i in range(200)] + [(500, "rare")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    inv = T.inverted_index(OmigoDF(df), max_postings=3).df
    plan = inv._jdf.queryExecution().executedPlan().toString()
    assert len(_re.findall(r"Exchange hashpartitioning", plan)) == 2, plan
    assert "WindowGroupLimit" in plan
    got = {r["term"]: (r["doc_freq"], r["postings"]) for r in inv.collect()}
    assert got["common"] == (200, "0,1,2")
    assert got["filler"] == (200, "0,1,2")
    assert got["rare"] == (1, "500")


# ----------------------------------------------------------- timeseries.py
def test_asof_join_null_time_right_rows_never_match(spark):
    """A right row with NULL time sorted first in the carry window and
    leaked its payload into every left row with no earlier real match
    (while r:rt stayed NULL) — it must never match, both directions."""
    from omigo_data_analytics_spark.operators import timeseries as TS

    left = spark.createDataFrame([("k", 10.0), ("k", 100.0)],
                                 "k string, t double")
    right = spark.createDataFrame(
        [("k", None, "PHANTOM"), ("k", 50.0, "real")],
        "k string, rt double, v string")
    back = {r["t"]: (r["r:rt"], r["r:v"]) for r in
            TS.asof_join(left, right, on="k", left_time="t",
                         right_time="rt").df.collect()}
    assert back[10.0] == (None, None)
    assert back[100.0] == (50.0, "real")
    fwd = {r["t"]: (r["r:rt"], r["r:v"]) for r in
           TS.asof_join(left, right, on="k", left_time="t", right_time="rt",
                        direction="forward").df.collect()}
    assert fwd[10.0] == (50.0, "real")
    assert fwd[100.0] == (None, None)
    near = {r["t"]: (r["r:rt"], r["r:v"]) for r in
            TS.asof_join(left, right, on="k", left_time="t", right_time="rt",
                         direction="nearest").df.collect()}
    assert near[10.0] == (50.0, "real") and near[100.0] == (50.0, "real")
    # NULL-time LEFT rows keep left-join semantics: present, no match
    left2 = spark.createDataFrame([("k", None)], "k string, t double")
    out2 = TS.asof_join(left2, right, on="k", left_time="t",
                        right_time="rt").df.collect()
    assert len(out2) == 1 and out2[0]["r:v"] is None


def test_rolling_aggregate_tiebreak_cols(spark):
    """With duplicate (key, order) rows, tiebreak_cols makes the frame
    contents deterministic across partitionings."""
    from omigo_data_analytics_spark.operators import timeseries as TS

    rows = [("k", 1.0, i, float(i)) for i in range(6)]
    df = spark.createDataFrame(rows, "k string, t double, id long, x double")
    for parts in (1, 4):
        out = TS.rolling_aggregate(
            OmigoDF(df.repartition(parts)), "k", "t", ["x"], ["sum"],
            window_rows=2, tiebreak_cols=["id"]).df
        got = {r["id"]: r["x:rolling_sum"] for r in out.collect()}
        assert got == {0: 0.0, 1: 1.0, 2: 3.0, 3: 5.0, 4: 7.0, 5: 9.0}, got


# ------------------------------------------------------------- streaming
def test_stream_lsh_null_text_no_phantom_candidates(spark, tmp_path):
    """NULL-text docs minhash to the '' band key — they must produce no
    candidates and no hot state bucket (mirror of the batch LSH fix)."""
    import pandas as pd

    from omigo_data_analytics_spark.streaming import stream as ST

    src = tmp_path / "in"
    src.mkdir()
    pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": ["the quick brown fox jumps",
                 "the quick brown fox jumps", None, None],
    }).to_parquet(src / "b0.parquet")
    schema = "doc_id bigint, text string"
    sdf = ST.file_source(spark, str(src), schema)
    cands = ST.stream_near_dup_candidates(sdf)
    q = (cands.writeStream.format("memory").queryName("r10_null_lsh")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("SELECT DISTINCT doc_id, first_id "
                     "FROM r10_null_lsh").collect()
    assert {(r["doc_id"], r["first_id"]) for r in rows} == {(2, 1)}


# ----------------------------------------------------------- multimodal.py
def test_image_features_empty_array_no_ansi_crash(spark):
    from omigo_data_analytics_spark.operators import multimodal as MM

    df = spark.createDataFrame(
        [(1, [0.2, 0.4]), (2, []), (3, None)],
        "id long, pixels array<double>")
    out = {r["id"]: r["img:mean"] for r in
           MM.image_features(OmigoDF(df)).df.collect()}
    assert abs(out[1] - 0.3) < 1e-9
    assert out[2] is None and out[3] is None


def test_asof_join_tiebreak_cols_deterministic(spark):
    """Duplicate right (key, time) rows made the as-of carry partition-
    order dependent (the rolling_aggregate hazard class); tiebreak_cols
    totalizes the window order — max tiebreak tuple wins in EVERY
    direction, stable across partitionings."""
    from omigo_data_analytics_spark.operators.timeseries import asof_join

    left = OmigoDF(spark.createDataFrame(
        [("k", 10.0), ("k", 4.0)], "k string, t double"))
    rows = [("k", 5.0, f"p{i}") for i in range(3)] + [("k", 2.0, "old")]
    right = spark.createDataFrame(rows, "k string, t double, v string")
    want = {"backward": ("old", "p2"), "forward": ("p2", None),
            "nearest": ("p2", "p2")}
    for d, expect in want.items():
        for npart in (1, 3, 7):
            out = asof_join(left, OmigoDF(right.repartition(npart)),
                            "k", "t", direction=d,
                            tiebreak_cols=["v"]).df.orderBy("t").collect()
            assert tuple(r["r:v"] for r in out) == expect, (d, npart)
    import pytest

    with pytest.raises(ValueError, match="tiebreak_cols"):
        asof_join(left, OmigoDF(right), "k", "t", tiebreak_cols=["zz"])
