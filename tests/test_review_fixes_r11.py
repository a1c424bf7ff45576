"""Round-11 review fixes.

1. asof_join atomic payload carry (r10 ADVICE): when the winning right
   row has a NULL payload cell, that cell must come back NULL — the old
   per-column last(ignorenulls) carries backfilled it from an EARLIER
   right row, producing a torn row mixing payloads of two source rows.
2. semdedup auto-scaled num_clusters default (r10 verdict #2).
3. decontaminate_semantic num_clusters="auto" (r10 verdict #3).
4. ngram_jaccard_pairs candidate-pair census warning default-on
   (r10 verdict #4; its tests live with the text near-dup family in
   tests/test_operators.py).

The tests of 2 and 3, and the cosine family's empty, NULL and
non-finite vector fixes, live with that family in tests/test_kmeans.py
and tests/test_operators.py.
"""

from pyspark.sql import functions as F

from omigo_data_analytics_spark import OmigoDF
from omigo_data_analytics_spark.operators import timeseries as TS


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


# ---------------------------------------------------------------- r11
# empty-input sweep fixes: the full registry was driven against 0-row
# copies of every table (real schemas); these pin the fixes that came
# out of the 22 findings (the rest are documented contract raises).


def test_profile_exact_total_on_empty(spark):
    """profile(exact=True) on an empty table still emits one row per
    column with zero counts (schema-independent row set)."""
    e = OmigoDF(spark.createDataFrame([], "a string, b long"))
    rows = {r["column"]: r for r in e.profile(exact=True).df.collect()}
    assert set(rows) == {"a", "b"}
    assert rows["a"]["n_rows"] == 0 and rows["a"]["n_distinct"] == 0
    assert rows["b"]["min_str"] is None
    # non-empty parity with the approx path's row set
    d = OmigoDF(spark.createDataFrame([("x", 1), (None, 2)], "a string, b long"))
    got = {r["column"]: r for r in d.profile(exact=True).df.collect()}
    assert got["a"]["n_rows"] == 2 and got["a"]["n_null"] == 1
    assert got["a"]["n_distinct"] == 1 and got["b"]["n_distinct"] == 2


def test_split_str_pinned_width(spark):
    """width= pins the part-column schema independent of the data (and
    skips the width-discovery job); empty input keeps the columns."""
    d = OmigoDF(spark.createDataFrame([("a,b",), ("c",)], "v string"))
    out = d.split_str("v", prefix="p", width=3).df
    assert [c for c in out.columns if c.startswith("p:")] == \
        ["p:1", "p:2", "p:3"]
    got = {tuple(r) for r in out.select("p:1", "p:2", "p:3").collect()}
    assert got == {("a", "b", ""), ("c", "", "")}
    e = OmigoDF(spark.createDataFrame([], "v string"))
    assert "p:2" in e.split_str("v", prefix="p", width=2).df.columns


def test_reverse_transpose_pinned_values(spark):
    """key_values= pins pivot columns: no distinct-discovery job, stable
    schema on empty/filtered input, absent keys come back NULL."""
    d = OmigoDF(spark.createDataFrame(
        [("g1", "en", 5), ("g1", "fr", 7)], "g string, k string, n long"))
    out = d.reverse_transpose(["g"], "k", ["n"], key_values=["en", "fr", "zh"]).df
    assert sorted(out.columns) == ["g", "n:k:en", "n:k:fr", "n:k:zh"]
    r = out.collect()[0]
    assert r["n:k:en"] == 5 and r["n:k:zh"] is None
    e = OmigoDF(spark.createDataFrame([], "g string, k string, n long"))
    oute = e.reverse_transpose(["g"], "k", ["n"], key_values=["en"]).df
    assert sorted(oute.columns) == ["g", "n:k:en"] and oute.count() == 0
    # and the pinned plan really skips the distinct-values job: the
    # unpinned path must run >= 1 extra job to discover columns
    sc = spark.sparkContext
    t0 = sc.statusTracker().getJobIdsForGroup(None)
    _ = d.reverse_transpose(["g"], "k", ["n"], key_values=["en", "fr"]).df.schema
    jobs_pinned = len(spark.sparkContext.statusTracker().getJobIdsForGroup(None) or []) - len(t0 or [])
    assert jobs_pinned == 0  # schema known without touching the data


def test_unicode_case_fold_cross_engine_boundary(spark):
    """r11 unicode probe: a 60-doc multilingual hostile corpus (CJK,
    Cyrillic, Arabic, Hebrew, emoji, astral plane, combining marks,
    fullwidth, ligatures, Turkish) ran through all 22 text-family
    registry oracles: 18/22 hash-exact. The 4 misses all reduce to ONE
    token ('İstanbul') hitting Unicode SpecialCasing, where the JVM and
    utf8proc legitimately differ. This test pins the divergence class
    so a future change that WIDENS it (or an engine upgrade that closes
    it) is noticed."""
    from pyspark.sql import functions as F
    import duckdb
    s = "İ ß ﬁ Привет 日本語 ĞI"
    r = spark.range(1).select(F.lower(F.lit(s)).alias("lo")).collect()[0]["lo"]
    d = duckdb.sql("SELECT lower('İ ß ﬁ Привет 日本語 ĞI') ").fetchone()[0]
    # agreement everywhere except the SpecialCasing dot: stripping the
    # combining dot (U+0307) reconciles the two engines exactly
    assert r.replace("̇", "") == d.replace("̇", "")
    # the only divergent codepoint in the probe corpus is U+0130's map
    assert r.startswith("i̇"), "JVM SpecialCasing changed — re-probe"
    assert d.startswith("i "), "duckdb casing changed — re-probe"


# ---------------------------------------------------------------- r11
# NULL-heavy sweep fixes (full registry against a 20%-NULL-payload copy
# of every table; keys kept intact).

def test_normalize_null_values_score_null(spark):
    """NULL x (or junk via try_cast) must yield a NULL score, not the
    constant-group 0.0/0.5 fallback; NULL group keys (no stats match
    via the left join) likewise."""
    rows = [("A", "10"), ("A", "20"), ("A", None), ("A", "junk"),
            (None, "30")]
    d = OmigoDF(spark.createDataFrame(rows, "g string, v string"))
    z = {(r["g"], r["v"]): r["v:norm"] for r in
         d.normalize(["v"], method="zscore", group_cols=["g"]).df.collect()}
    assert z[("A", None)] is None and z[("A", "junk")] is None
    assert z[(None, "30")] is None          # NULL group: no stats row
    assert z[("A", "10")] is not None
    mm = {(r["g"], r["v"]): r["v:norm"] for r in
          d.normalize(["v"], method="minmax", group_cols=["g"]).df.collect()}
    assert mm[("A", None)] is None and mm[(None, "30")] is None
    assert mm[("A", "10")] == 0.0 and mm[("A", "20")] == 1.0
    # row preservation: no row is dropped
    assert d.normalize(["v"], group_cols=["g"]).df.count() == 5


def test_ws_placeholder_null_substitutes_empty(spark):
    """NULL cells substitute as '' in templates (reference TSV model) —
    literal 'None' must never leak into a request URL."""
    from omigo_data_analytics_spark.operators.enrich import _resolve
    assert _resolve("http://svc/{a}?q={b}", {"a": None, "b": 7}) == \
        "http://svc/?q=7"


# ---------------------------------------------------------------- r11
# extreme-values sweep fixes (NaN/±Inf/1e308/-0.0 planted in numeric
# payloads and inside embedding vectors).


def test_minmax_int_aggs_nonfinite_null_not_crash(spark):
    """minint/maxint on NaN/Inf/1e308: the second cast step is try_cast
    now — one corrupt cell must not kill the whole aggregation job."""
    rows = [("g", "1.5"), ("g", "nan"), ("g", "inf"), ("g", "1e308"),
            ("g", "7.2")]
    d = OmigoDF(spark.createDataFrame(rows, "k string, v string"))
    r = d.aggregate(["k"], ["v", "v", "v"],
                    ["minint", "maxint", "get_range_int"]).df.collect()[0]
    assert r["v:minint"] == 1 and r["v:maxint"] == 7
    assert r["v:get_range_int"] == 6
