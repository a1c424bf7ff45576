"""Round-12 review fixes (the five r11 ADVICE items).

1. similarity._buckets: zero-length embeddings pass a vacuous
   isfinite().all() and then kill the whole Arrow batch in np.stack —
   mask them out like NULL/non-finite vectors (its test lives with the
   cosine family in tests/test_operators.py).
2. dedup._should_collapse: enforce the True/False/'auto' tri-state
   (unknown values used to fall through to the census silently) and
   warn when an explicit True is overridden by the threshold>1.0 guard
   (its tests live with the text near-dup family in
   tests/test_operators.py).
3. dedup._exact_rep_mapping: fingerprint = md5 ++ xxhash64 ++ length,
   not md5 alone — the collapse contract is byte-identity and md5
   collisions are adversarially constructible.
4. timeseries._asof_nearest: validate tiebreak_cols BEFORE the empty-
   payload early return, matching asof_join's directional paths.
5. OmigoDF.profile: dedupe the column list (duplicates doubled exact-
   path rows / made approx-path aliases ambiguous) and short-circuit an
   empty list to the typed empty profile.
"""

import pytest
from pyspark.sql import functions as F

from omigo_data_analytics_spark import OmigoDF
from omigo_data_analytics_spark.operators import dedup as DD
from omigo_data_analytics_spark.operators import timeseries as TS


def _mk(spark, rows, schema):
    return OmigoDF(spark.createDataFrame(rows, schema))


# 3. collision-resistant exact fingerprint -----------------------------

def test_exact_rep_mapping_grouping_and_null_exclusion(spark):
    """Identical texts share a rep (min id); distinct same-length texts
    do not; NULL-text rows are absent from the mapping entirely."""
    d = spark.createDataFrame(
        [(1, "abc"), (2, "abc"), (3, "abd"), (4, None)],
        "doc_id long, text string")
    m = {r["doc_id"]: r["__rep__"]
         for r in DD._exact_rep_mapping(d, "doc_id", "text").collect()}
    assert m == {1: 1, 2: 1, 3: 3}


def test_exact_fingerprint_uses_more_than_md5(spark):
    """The r12 fingerprint concatenates md5, xxhash64 and length, so an
    md5-only collision can no longer merge two distinct documents.
    Checked structurally: the mapping plan's fingerprint expression
    contains all three primitives."""
    d = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    plan = DD._exact_rep_mapping(d, "doc_id", "text") \
        ._jdf.queryExecution().analyzed().toString().lower()
    for prim in ("md5", "xxhash64", "length"):
        assert prim in plan, f"fingerprint lost {prim}"


# 4. asof_nearest tiebreak validation ----------------------------------

def test_asof_nearest_invalid_tiebreak_raises_on_empty_payload(spark):
    """A right side with no payload columns used to early-return before
    tiebreak validation in the nearest direction, while backward/forward
    raised ValueError for the same input."""
    left = _mk(spark, [("k", 10.0)], "k string, t double")
    right = _mk(spark, [("k",)], "k string")     # keys only, no payload
    for direction in ("backward", "forward", "nearest"):
        with pytest.raises(ValueError, match="tiebreak_cols"):
            TS.asof_join(left, right, on="k", left_time="t",
                         right_time="t" if direction != "nearest" else None,
                         direction=direction, tiebreak_cols=["nope"])


# 5. profile dedupe + empty short-circuit ------------------------------

def test_profile_duplicate_cols_deduped(spark):
    d = _mk(spark, [(1, "a"), (2, None)], "x long, s string")
    for exact in (False, True):
        out = d.profile(["s", "s", "x", "s"], exact=exact).df.collect()
        assert [r["column"] for r in out] == ["s", "x"]
        by = {r["column"]: r for r in out}
        assert by["s"]["n_rows"] == 2 and by["s"]["n_null"] == 1
        assert by["x"]["n_distinct"] == 2


def test_profile_empty_col_list_typed_empty(spark):
    d = _mk(spark, [(1,)], "x long")
    for exact in (False, True):
        out = d.profile([], exact=exact).df
        assert out.count() == 0
        assert [f.name for f in out.schema.fields] == \
            ["column", "n_rows", "n_null", "n_distinct", "min_str", "max_str"]


# 6. fingerprint case_fold knob (r11 verdict optional #7) --------------

def test_fingerprint_ascii_fold_cross_engine_stable(spark):
    """case_fold='ascii' eliminates the SpecialCasing divergence: the
    Spark fingerprint byte-matches DuckDB's on the exact codepoints the
    r11 Unicode probe pinned as divergent under full folding."""
    import duckdb
    from omigo_data_analytics_spark.operators import text as TX
    hostile = ["İstanbul  ANKARA", "STRASSE ß gross", "ǅungla Mix",
               "ﬁle FLAG", "plain ASCII Text"]
    d = _mk(spark, [(i, t) for i, t in enumerate(hostile)],
            "doc_id long, text string")
    got = {r["doc_id"]: r["fingerprint"] for r in
           TX.fingerprint(d, case_fold="ascii").df.collect()}
    con = duckdb.connect()
    expr = TX.fingerprint_sql_duck("text", case_fold="ascii")
    for i, t in enumerate(hostile):
        want = con.execute(
            f"SELECT {expr} FROM (SELECT ? AS text)", [t]).fetchone()[0]
        assert got[i] == want, f"ascii fold diverges on {t!r}"
    # default stays the engine's full Unicode lower (unchanged behavior)
    full = {r["doc_id"]: r["fingerprint"] for r in
            TX.fingerprint(d).df.collect()}
    assert full[4] == got[4]            # pure-ASCII text: modes agree
    assert full[0] != got[0]            # 'İ' folds differently by design
    with pytest.raises(ValueError, match="case_fold"):
        TX.fingerprint(d, case_fold="turkic")


# 7. wide-schema (1,000-column) hardening ------------------------------
# The r12 probe found chained withColumn/withColumnRenamed loops that
# cost O(cols²) analysis and overflow Catalyst's CollapseProject
# recursion (JVM StackOverflowError) at ~1,000 columns — the
# reference's own design target is "100s or 1000s of columns". Every
# bulk column op is now ONE aliased select.

def _wide(spark, n_cols=1000, n_rows=5):
    exprs = ["id AS row_id"] + [
        f"CAST((id * {i}) % 97 AS STRING) AS c{i:04d}"
        for i in range(1, n_cols)]
    return OmigoDF(spark.range(n_rows).selectExpr(*exprs))


def test_wide_bulk_ops_survive_1000_cols(spark):
    """add_prefix over 1,000 columns crashed with a JVM StackOverflow
    before the single-Project rewrite; now the whole §2.2 bulk family
    runs. Values spot-checked to prove the rewrite is behavior-neutral."""
    d = _wide(spark)
    p = d.add_prefix("p")
    assert p.columns[:2] == ["p:row_id", "p:c0001"]
    rp = p.remove_prefix("p")
    assert rp.columns == d.columns
    cols = [f"c{i:04d}" for i in range(1, 1000)]
    num = rp.to_numeric(cols[:500])
    row = num.df.where("row_id = 2").collect()[0]
    assert row["c0001"] == 2.0 and row["c0003"] == 6.0
    filled = rp.set_missing_values(cols, "NA")
    assert filled.df.count() == 5
    ren = rp.rename({c: f"r_{c}" for c in cols[:500]})
    assert "r_c0001" in ren.columns and "c0501" in ren.columns
    added = rp.add_empty_cols_if_missing(["x1", "x2", "x1"])
    assert added.columns.count("x1") == 1
    assert added.df.select("x1").first()[0] == ""


def test_wide_join_suffix_single_project(spark):
    """join suffixing over a wide right side goes through one aliased
    select now (was a per-column withColumnRenamed loop)."""
    d = _wide(spark, n_cols=300)
    j = d.inner_join(d, lkeys=["row_id"], lsuffix="l", rsuffix="r")
    assert "c0001:l" in j.columns and "c0001:r" in j.columns
    assert j.df.count() == 5


def test_rename_dict_validation(spark):
    d = _mk(spark, [(1, 2)], "a int, b int")
    assert d.rename({"a": "x", "b": "y"}).columns == ["x", "y"]
    # swap through the bulk form is simultaneous, not sequential
    assert d.rename({"a": "b", "b": "a"}).columns == ["b", "a"]
    with pytest.raises(ValueError, match="already exist"):
        d.rename({"a": "b"})
    with pytest.raises(ValueError, match="duplicate target"):
        d.rename({"a": "z", "b": "z"})
    with pytest.raises(KeyError):
        d.rename({"nope": "x"})
    with pytest.raises(ValueError, match="new_col"):
        d.rename({"a": "x"}, "y")


def test_drop_empty_rows_flat_predicate(spark):
    d = _mk(spark, [("", None, ""), ("a", None, ""), (None, "b", "c")],
            "x string, y string, z string")
    out = d.drop_empty_rows().df.collect()
    assert sorted((r["x"] or "", r["y"] or "") for r in out) == \
        [("", "b"), ("a", "")]
    # wide frame: flat concat_ws predicate, no depth-1000 boolean tree
    w = _wide(spark)
    assert w.drop_empty_rows().df.count() == 5


def test_resolve_url_encoded_list_cols_single_project(spark):
    d = _mk(spark, [("a%20b,c%3Dd", "x")],
            "`v:url_encoded:mkstr` string, plain string")
    out = d.resolve_url_encoded_list_cols()
    assert out.columns == ["v:mkstr", "plain"]
    assert out.df.first()[0] == "a b,c=d"


def test_wide_profile_and_drop_empty_cols(spark):
    """profile() OOMed the JVM at 1,000 columns (5 aggregate buffers per
    column in one operator -> 106 MiB of generated code); wide frames
    now take the stack-to-pairs shape. Values must match the narrow
    path exactly on the overlap."""
    d = _wide(spark, n_cols=250, n_rows=20)
    prof = {r["column"]: r for r in d.profile().df.collect()}
    assert len(prof) == 250
    assert prof["c0001"]["n_rows"] == 20 and prof["c0001"]["n_null"] == 0
    # overlap check: same 3 columns through the narrow (1-row agg) path
    narrow = {r["column"]: r for r in
              d.profile(["row_id", "c0001", "c0002"]).df.collect()}
    for c in narrow:
        for f in ("n_rows", "n_null", "n_distinct", "min_str", "max_str"):
            assert narrow[c][f] == prof[c][f], (c, f)
    # drop_empty_cols wide path: plant two all-empty columns
    d2 = OmigoDF(d.df.selectExpr(
        "*", "CAST(NULL AS STRING) AS all_null", "'' AS all_empty"))
    kept = d2.drop_empty_cols().columns
    assert "all_null" not in kept and "all_empty" not in kept
    assert len(kept) == 250


def test_join_hostile_column_names(spark):
    """Joins resolve keys/columns literally (side-aliased quoted refs):
    dotted keys and backtick-bearing names used to fail in the bracket
    accessor's name parser — pre-existing, caught by the r12 wide/
    hostile-name sweep."""
    d = _mk(spark, [(1, 2)], "`a.b` int, `c:d` int")
    out = d.inner_join(d, lkeys=["a.b"], rsuffix="r")
    assert out.columns == ["a.b", "c:d", "c:d:r"]
    assert out.df.collect() == [(1, 2, 2)]
    d2 = _mk(spark, [(1, 2)], "k int, `x``y` int")
    assert d2.inner_join(d2, lkeys=["x`y"], rsuffix="r").columns == \
        ["x`y", "k", "k:r"]
    # outer fill still types correctly through the quoted path
    l = _mk(spark, [(1, "a")], "k int, v string")
    r = _mk(spark, [(2, "b")], "k2 int, w string")
    rows = l.outer_join(r, lkeys=["k"], rkeys=["k2"]).df.collect()
    assert sorted((x["v"], x["w"]) for x in rows) == [("", "b"), ("a", "")]


# 8. skew-safe two-phase sessionize ------------------------------------

def test_sessionize_bucketed_equals_plain(spark):
    """The time-bucketed scale path must be bit-identical to the
    single-window plan: random corpus with a hot key, NULL times,
    boundary-straddling sessions, NULL keys; several bucket spans
    including ones that slice sessions across many buckets."""
    import random
    rnd = random.Random(20260816)
    rows = []
    for i in range(3000):
        k = "hot" if rnd.random() < 0.4 else f"u{rnd.randrange(40)}"
        if rnd.random() < 0.05:
            k = None
        t = None if rnd.random() < 0.05 else float(rnd.randrange(0, 50_000))
        rows.append((i, k, t))
    d = _mk(spark, rows, "event_id long, k string, t double")
    plain = {(r["event_id"]): r["session_id"] for r in
             TS.sessionize(d, key_cols=["k"], time_col="t",
                           gap_sec=600.0).df.collect()}
    for span in (250.0, 1000.0, 7919.0, 1e9):
        got = {(r["event_id"]): r["session_id"] for r in
               TS.sessionize(d, key_cols=["k"], time_col="t", gap_sec=600.0,
                             time_buckets_sec=span,
                             hot_key_rows=None).df.collect()}
        assert got == plain, f"bucketed(span={span}) diverges from plain"
    # hybrid routing: only the hot key (and any NULL-key group above
    # the threshold) takes the bucketed plan, the rest stay plain —
    # result still identical
    got = {(r["event_id"]): r["session_id"] for r in
           TS.sessionize(d, key_cols=["k"], time_col="t", gap_sec=600.0,
                         time_buckets_sec=1000.0,
                         hot_key_rows=500).df.collect()}
    assert got == plain, "hybrid hot-key routing diverges from plain"
    with pytest.raises(ValueError, match="time_buckets_sec"):
        TS.sessionize(d, key_cols=["k"], time_col="t", time_buckets_sec=0)


def test_sessionize_bucketed_column_contract(spark):
    d = _mk(spark, [(1, "a", 10.0), (2, "a", 5000.0)],
            "event_id long, k string, t double")
    out = TS.sessionize(d, key_cols="k", time_col="t", gap_sec=60.0,
                        time_buckets_sec=100.0)
    assert out.columns == ["event_id", "k", "t", "session_id"]
    got = {r["event_id"]: r["session_id"] for r in out.df.collect()}
    assert got == {1: 1, 2: 2}


# 9. skew-safe halo two-phase rolling_aggregate ------------------------

def test_rolling_bucketed_equals_plain(spark):
    """Halo path bit-identical to the single-window plan on random
    data with a hot key, ties (tiebreak_cols given), and several spans;
    spans too small for the interior-bucket guard must raise."""
    import random
    rnd = random.Random(7)
    rows = []
    for i in range(6000):
        k = "hot" if rnd.random() < 0.4 else f"u{rnd.randrange(4)}"
        t = float(rnd.randrange(0, 40_000))
        rows.append((i, k, t, float(rnd.randrange(-50, 50))))
    d = _mk(spark, rows, "event_id long, k string, t double, v double")
    kw = dict(key_cols=["k"], order_col="t", agg_cols=["v", "v"],
              agg_funcs=["mean", "count"], window_rows=5,
              tiebreak_cols=["event_id"])
    plain = {r["event_id"]: (r["v:rolling_mean"], r["v:rolling_count"])
             for r in TS.rolling_aggregate(d, **kw).df.collect()}
    for span in (4000.0, 9973.0, 1e9):
        got = {r["event_id"]: (r["v:rolling_mean"], r["v:rolling_count"])
               for r in TS.rolling_aggregate(
                   d, time_buckets_sec=span, hot_key_rows=None,
                   **kw).df.collect()}
        assert got == plain, f"halo(span={span}) diverges"
    # hybrid routing: hot key only through the halo plan
    got = {r["event_id"]: (r["v:rolling_mean"], r["v:rolling_count"])
           for r in TS.rolling_aggregate(
               d, time_buckets_sec=4000.0, hot_key_rows=1000,
               **kw).df.collect()}
    assert got == plain, "hybrid hot-key routing diverges"
    # a span so small that interior buckets hold < W-1 rows must raise,
    # not silently truncate boundary frames (in-plan since r14: the
    # guard fires at execution as a Spark error, not a construct-time
    # ValueError — the message is the contract)
    with pytest.raises(Exception, match="time_buckets_sec too small"):
        TS.rolling_aggregate(d, time_buckets_sec=1.0, hot_key_rows=None,
                             **kw).df.count()
    with pytest.raises(ValueError, match="positive"):
        TS.rolling_aggregate(d, time_buckets_sec=0.0, hot_key_rows=None,
                             **kw)


def test_rolling_bucketed_window_rows_1(spark):
    """W=1 needs no halo at all; both paths are a frame of self."""
    d = _mk(spark, [(1, "a", 1.0, 3.0), (2, "a", 2.0, 5.0)],
            "e long, k string, t double, v double")
    out = TS.rolling_aggregate(d, key_cols="k", order_col="t",
                               agg_cols=["v"], agg_funcs=["sum"],
                               window_rows=1, time_buckets_sec=0.5)
    assert {r["e"]: r["v:rolling_sum"] for r in out.df.collect()} == \
        {1: 3.0, 2: 5.0}


# 10. hostile column names across the core surface ---------------------
# The r12 wide/hostile-name sweep replaced every bracket accessor
# (df[c] PARSES the name: a dotted name fails to resolve and a stray
# backtick anywhere in the schema poisons every access) with quoted
# F.col — names behave literally, like the reference's TSV headers.

def test_hostile_names_across_core_surface(spark):
    d = _mk(spark, [(1, "x", 2.5), (2, "", None)],
            "k long, `a.b` string, `x``y` double")
    assert d.select(["a.b"]).columns == ["a.b"]
    assert d.drop_cols(["x`y"]).columns == ["k", "a.b"]
    assert d.eq_str("a.b", "x").df.count() == 1
    assert d.copy("x`y", "z").df.where("z = 2.5").count() == 1
    agg = d.aggregate(["a.b"], ["x`y"], ["sumfloat"]).df.collect()
    assert {(r[0], r[1]) for r in agg} == {("x", 2.5), ("", None)}
    assert d.reorder(["x`y"]).columns[0] == "x`y"
    assert d.to_numeric(["x`y"]).df.count() == 2
    assert [r["column"] for r in d.profile(["x`y"], exact=True)
            .df.collect()] == ["x`y"]
    assert d.drop_empty_cols().columns == ["k", "a.b", "x`y"]
    assert d.drop_empty_rows().df.count() == 2
    assert d.sort(["x`y"]).df.count() == 2
    assert d.group_count(["a.b"]).df.count() == 2


# 11. skew-safe bucketed asof carry ------------------------------------

def test_asof_bucketed_equals_plain(spark):
    """Bucketed directional carry bit-identical to the single-window
    plan: random hot-key corpus, NULL left times, NULL payload cells
    (atomic struct carry must survive bucketing), duplicate right
    (key, t) rows under tiebreak_cols, tolerance, both directions,
    several spans, plus hybrid hot-key routing."""
    import random
    rnd = random.Random(11)
    lrows, rrows = [], []
    for i in range(2000):
        k = "hot" if rnd.random() < 0.5 else f"u{rnd.randrange(6)}"
        t = None if rnd.random() < 0.04 else float(rnd.randrange(0, 30_000))
        lrows.append((i, k, t))
    for j in range(1500):
        k = "hot" if rnd.random() < 0.5 else f"u{rnd.randrange(6)}"
        t = float(rnd.randrange(0, 30_000) - (rnd.randrange(0, 2)))
        v = None if rnd.random() < 0.2 else f"v{j}"
        rrows.append((k, t, j, v))
    left = _mk(spark, lrows, "event_id long, k string, t double")
    right = _mk(spark, rrows, "k string, t double, seq long, v string")

    for direction in ("backward", "forward", "nearest"):
        for tol in (None, 500.0):
            kw = dict(on="k", left_time="t", suffix="q",
                      direction=direction, tolerance_sec=tol,
                      tiebreak_cols=["seq"])
            plain = {r["event_id"]: (r["q:seq"], r["q:v"], r["q:t"])
                     for r in TS.asof_join(left, right, **kw).df.collect()}
            for span in (1000.0, 7919.0, 1e9):
                got = {r["event_id"]: (r["q:seq"], r["q:v"], r["q:t"])
                       for r in TS.asof_join(
                           left, right, time_buckets_sec=span,
                           hot_key_rows=None, **kw).df.collect()}
                assert got == plain, \
                    f"bucketed asof diverges ({direction}, tol={tol}, span={span})"
            hyb = {r["event_id"]: (r["q:seq"], r["q:v"], r["q:t"])
                   for r in TS.asof_join(
                       left, right, time_buckets_sec=2000.0,
                       hot_key_rows=400, **kw).df.collect()}
            assert hyb == plain, f"hybrid asof diverges ({direction}, {tol})"


def test_asof_bucketed_validation(spark):
    left = _mk(spark, [("k", 1.0)], "k string, t double")
    right = _mk(spark, [("k", 1.0, "x")], "k string, t double, v string")
    with pytest.raises(ValueError, match="positive"):
        TS.asof_join(left, right, on="k", left_time="t",
                     time_buckets_sec=-1.0)
    # nearest runs the bucketed carry in both directions (no raise)
    out = TS.asof_join(left, right, on="k", left_time="t",
                       direction="nearest", time_buckets_sec=100.0,
                       hot_key_rows=None)
    assert out.df.collect()[0]["r:v"] == "x"


def test_asof_nearest_null_left_time_never_matches(spark):
    """A NULL-time left row can be near nothing: the plain forward
    window's NULLS-LAST desc order used to phantom-match it to the
    EARLIEST right row (no-tolerance case) — surfaced by the bucketed
    carry, which correctly produced no match."""
    left = _mk(spark, [(1, "k", None), (2, "k", 10.0)],
               "event_id long, k string, t double")
    right = _mk(spark, [("k", 1.0, "early"), ("k", 9.0, "near")],
                "k string, t double, v string")
    for kw in ({}, {"time_buckets_sec": 100.0, "hot_key_rows": None}):
        got = {r["event_id"]: r["q:v"] for r in TS.asof_join(
            left, right, on="k", left_time="t", suffix="q",
            direction="nearest", **kw).df.collect()}
        assert got == {1: None, 2: "near"}, kw
