"""Tests: generic explode UDTF, existence filters, uniq-value sampling."""

import pytest

from omigo_data_analytics_spark import OmigoDF


def test_explode_udtf_basic(spark):
    df = spark.createDataFrame([(1, "a,b"), (2, "c")], ["id", "tags"])

    def expand(d):
        return [{"tag": t, "n": len(t)} for t in d["tags"].split(",")]

    out = OmigoDF(df).explode_udtf(["tags"], expand, prefix="e")
    assert set(out.columns) == {"id", "e:tag", "e:n"}
    rows = sorted((r["id"], r["e:tag"], r["e:n"]) for r in out.df.collect())
    assert rows == [(1, "a", "1"), (1, "b", "1"), (2, "c", "1")]


def test_explode_udtf_keeps_cols_when_not_collapse(spark):
    df = spark.createDataFrame([(1, "x")], ["id", "v"])
    out = OmigoDF(df).explode_udtf(["v"], lambda d: [{"k": d["v"]}],
                                   prefix="p", collapse=False)
    assert set(out.columns) == {"id", "v", "p:k"}


def test_explode_udtf_missing_key_gets_default(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])

    def expand(d):
        # key 'extra' only for value 'a'
        return [{"k": d["v"], "extra": "!"}] if d["v"] == "a" else [{"k": d["v"]}]

    out = OmigoDF(df).explode_udtf(["v"], expand, prefix="p",
                                   out_keys=["k", "extra"], default_val="")
    rows = {r["id"]: (r["p:k"], r["p:extra"]) for r in out.df.collect()}
    assert rows == {1: ("a", "!"), 2: ("b", "")}


def test_select_rows_with_cond_exists(spark):
    df = spark.createDataFrame([(1, "x", ""), (2, "", ""), (3, "", "y")],
                               ["id", "a", "b"])
    out = OmigoDF(df).select_rows_with_cond_exists(["a", "b"], lambda v: v != "")
    assert sorted(r["id"] for r in out.df.collect()) == [1, 3]


def test_select_cols_with_cond_exists(spark):
    df = spark.createDataFrame([(1, "", "y"), (2, "", "z")], ["id", "a", "b"])
    out = OmigoDF(df).select_cols_with_cond_exists(["a", "b"], lambda v: v != "")
    assert out.columns == ["b"]


def test_sample_group_by_max_uniq_values_exact(spark):
    rows = [("g1", f"v{i}") for i in range(10)] + [("g2", "v0")]
    df = spark.createDataFrame(rows * 2, ["g", "v"])  # dup rows too
    out = OmigoDF(df).sample_group_by_max_uniq_values_exact(["g"], "v", 3)
    got = out.df.collect()
    from collections import defaultdict
    uniq = defaultdict(set)
    for r in got:
        uniq[r["g"]].add(r["v"])
    assert len(uniq["g1"]) == 3
    assert uniq["g2"] == {"v0"}
    # all rows of a kept value survive (2 copies each)
    assert len(got) == 3 * 2 + 2


def test_sample_group_by_max_uniq_values_approx_caps(spark):
    rows = [("g", f"v{i}") for i in range(100)]
    df = spark.createDataFrame(rows, ["g", "v"])
    out = OmigoDF(df).sample_group_by_max_uniq_values_approx(["g"], "v", 10)
    n = out.df.select("v").distinct().count()
    assert 0 < n <= 30  # hash-ratio approximation around the cap of 10


def test_sample_column_by_max_uniq_values(spark):
    df = spark.createDataFrame([(i, f"v{i % 7}") for i in range(50)], ["id", "v"])
    out = OmigoDF(df).sample_column_by_max_uniq_values("v", 2)
    assert out.df.select("v").distinct().count() == 2


def test_sample_group_by_col_value(spark):
    rows = [("g", "hot")] * 100 + [("g", "cold")] * 5
    df = spark.createDataFrame(rows, ["g", "v"])
    out = OmigoDF(df).sample_group_by_col_value(["g"], "v", "hot", 0.1, seed=7)
    hot = out.df.where("v = 'hot'").count()
    cold = out.df.where("v = 'cold'").count()
    assert cold == 5          # untouched
    assert hot < 50           # downsampled


def test_select_first_param_agg_deterministic(spark):
    # parameterized 'select_first(ord)' compiles to min_by — deterministic
    # regardless of partitioning; bare select_first stays partition-order
    df = OmigoDF(spark.createDataFrame(
        [("g1", 3, "c"), ("g1", 1, "a"), ("g1", 2, ""), ("g2", 9, "z")],
        ["g", "ord", "v"]).repartition(8))
    out = (df.aggregate(["g"], ["v", "v", "v"],
                        ["select_first(ord)", "select_last(ord)",
                         "select_first_non_empty(ord)"])
           .rename("v:select_first(ord)", "first_v")
           .rename("v:select_last(ord)", "last_v")
           .rename("v:select_first_non_empty(ord)", "first_ne"))
    rows = {r["g"]: (r["first_v"], r["last_v"], r["first_ne"])
            for r in out.df.collect()}
    assert rows == {"g1": ("a", "c", "a"), "g2": ("z", "z", "z")}
    # non-empty skip: earliest value is empty -> picks next by order
    df2 = OmigoDF(spark.createDataFrame(
        [("g", 1, ""), ("g", 2, "b")], ["g", "ord", "v"]).repartition(4))
    out2 = df2.aggregate(["g"], ["v"], ["select_first_non_empty(ord)"])
    assert out2.df.collect()[0][1] == "b"
    # analytic (collapse=False) form works too
    out3 = df.aggregate(["g"], ["v"], ["select_first(ord)"], collapse=False)
    assert all(r["v:select_first(ord)"] == ("a" if r["g"] == "g1" else "z")
               for r in out3.df.collect())


def test_filter_json_by_xpath_forms(spark):
    from omigo_data_analytics_spark.core.dataframe import OmigoDF
    df = spark.createDataFrame(
        [(1, '{"a": {"b": 5}, "tag": "x"}'),
         (2, '{"a": {"b": 7}}'),
         (3, '{"tag": "x"}'),
         (4, None)], ["id", "j"])
    o = OmigoDF(df)
    # str form: path exists
    assert sorted(r["id"] for r in o.filter_json_by_xpath("j", "a.b").df.collect()) == [1, 2]
    # dict form: equality on extracted string
    assert sorted(r["id"] for r in o.filter_json_by_xpath("j", {"a.b": 5}).df.collect()) == [1]
    assert sorted(r["id"] for r in o.filter_json_by_xpath(
        "j", {"a.b": 5, "tag": "x"}).df.collect()) == [1]
    # callable form
    assert sorted(r["id"] for r in o.filter_json_by_xpath(
        "j", ("a.b", lambda s: s is not None and int(s) > 5)).df.collect()) == [2]
    # exclude inverts
    assert sorted(r["id"] for r in o.filter_json_by_xpath(
        "j", "a.b", exclude=True).df.collect()) == [3, 4]
    # $-prefixed path accepted
    assert sorted(r["id"] for r in o.filter_json_by_xpath("j", "$.tag").df.collect()) == [1, 3]


def test_sample_n_per_group_exact_and_deterministic(spark, documents):
    a = documents.sample_n_per_group(["lang"], 2, key_cols=["doc_id"])
    b = documents.sample_n_per_group(["lang"], 2, key_cols=["doc_id"])
    rows_a = sorted((r["lang"], r["doc_id"]) for r in a.df.collect())
    assert rows_a == sorted((r["lang"], r["doc_id"]) for r in b.df.collect())
    from pyspark.sql import functions as F
    per = {r["lang"]: r["n"] for r in
           a.df.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    full = {r["lang"]: r["n"] for r in
            documents.df.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, n in per.items():
        assert n == min(2, full[lang])
    # different seed -> (almost surely) different pick
    c = documents.sample_n_per_group(["lang"], 2, key_cols=["doc_id"], seed=9)
    assert rows_a != sorted((r["lang"], r["doc_id"]) for r in c.df.collect())


def test_sample_n_per_group_check_unique_warns(spark, documents):
    import warnings

    # duplicate-key identity: lang does NOT uniquely identify rows
    with pytest.warns(UserWarning, match="does not uniquely identify"):
        documents.sample_n_per_group(["lang"], 2, key_cols=["lang"],
                                     check_unique=True)
    # unique key: silent
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        documents.sample_n_per_group(["lang"], 2, key_cols=["doc_id"],
                                     check_unique=True)


def test_sample_n_per_group_check_unique_null_reads_as_empty(spark):
    """The guard keys a NULL part as '': two rows whose keys differ only
    as NULL vs '' are one key, so it warns."""
    df = OmigoDF(spark.createDataFrame([(1, None), (1, "")], "g int, k string"))
    with pytest.warns(UserWarning, match=r"\(2 rows, 1 distinct keys\)"):
        df.sample_n_per_group(["g"], 1, key_cols=["k"], check_unique=True)


def test_sample_n_per_group_dotted_group_col(spark):
    """A group column named ``g.x`` partitions the window by that column,
    with the rows the same call picks on a plain name."""
    rows = [(1, "a"), (1, "b"), (2, "c")]

    def picks(g):
        df = OmigoDF(spark.createDataFrame(rows, f"`{g}` int, k string"))
        return sorted(tuple(r) for r in
                      df.sample_n_per_group([g], 1, key_cols=["k"]).df.collect())

    got = picks("g.x")
    assert got == picks("gx") and len(got) == 2


# Every sampler that takes column names, called through a name map ``n``
# (group g, key k, value v, weight w, sort s) on ``_sampler_frame``.
_SAMPLERS = {
    "class": lambda d, n: d.sample_class(n["v"], "y", 0.0),
    "group_by_key": lambda d, n: d.sample_group_by_key([n["g"], n["k"]], 0.5),
    "group_by_key_xxhash": lambda d, n: d.sample_group_by_key(
        [n["g"], n["k"]], 0.5, portable=False),
    "class_by_max_values": lambda d, n: d.sample_class_by_max_values(n["g"], 1),
    "class_by_min_class_count": lambda d, n: d.sample_class_by_min_class_count(
        n["g"]),
    "group_by_topk": lambda d, n: d.sample_group_by_topk(
        [n["g"]], n["s"], 1, tie_break_cols=[n["k"]]),
    "group_by_topk_typed": lambda d, n: d.sample_group_by_topk(
        [n["g"]], n["w"], 1, reverse=False, tie_break_cols=[n["k"]]),
    "split_batches": lambda d, n: d.split_batches(2, cols=[n["k"]]),
    "split_batches_uniform": lambda d, n: d.split_batches(2),
    "weighted": lambda d, n: d.sample_weighted(n["w"], [n["k"]]),
    "n_per_group": lambda d, n: d.sample_n_per_group([n["g"]], 1,
                                                     key_cols=[n["k"]]),
    "hash_split": lambda d, n: d.hash_split([n["k"]]),
    "group_by_col_value": lambda d, n: d.sample_group_by_col_value(
        [n["g"]], n["v"], "y", 0.0),
    "exact": lambda d, n: d.sample_group_by_max_uniq_values_exact(
        [n["g"]], n["v"], 1),
    "exact_xxhash": lambda d, n: d.sample_group_by_max_uniq_values_exact(
        [n["g"]], n["v"], 1, portable=False),
    "approx": lambda d, n: d.sample_group_by_max_uniq_values_approx(
        [n["g"]], n["v"], 1),
    "column": lambda d, n: d.sample_column_by_max_uniq_values(n["v"], 1),
}
_PLAIN = {c: c for c in "gkvws"}


def _sampler_frame(spark, n):
    from omigo_data_analytics_spark.core import colutils

    types = dict(g="int", k="string", v="string", w="double", s="string")
    return OmigoDF(spark.createDataFrame(
        [(1, "a", "x", 1.0, "3"), (1, "b", "y", 1.0, "1"),
         (1, "c", "y", 0.0, "2"), (2, "d", "z", 1.0, "5"),
         (2, "e", "x", 0.5, "4")],
        ", ".join(f"{colutils.quote(n[c])} {t}" for c, t in types.items())))


def test_sampler_family_hostile_names(spark):
    """Group, key, value, weight and sort columns named ``g.x``, ``k`y``,
    ``v.y``, ``w`t`` and ``s.o`` are plain names in every sampler: each
    keeps the rows the same call keeps on plain names."""
    def kept(n, call):
        out = call(_sampler_frame(spark, n), n)
        return [sorted(tuple(r) for r in o.df.collect())
                for o in (out if isinstance(out, list) else [out])]

    hostile = dict(g="g.x", k="k`y", v="v.y", w="w`t", s="s.o")
    for name, call in _SAMPLERS.items():
        got = kept(hostile, call)
        assert got == kept(_PLAIN, call) and all(got), name


def test_sampler_construction_jobs(spark, jobs_in_group):
    """Two samplers run Spark jobs while they build their frame:
    sample_class_by_min_class_count reads the minority class count (3
    jobs), and sample_group_by_topk sniffs a string sort column for
    all-numeric values (2 jobs; none on a typed one). Every other sampler
    is lazy. The same at local[2], [4] and [8]."""
    d = _sampler_frame(spark, _PLAIN)
    eager = {"class_by_min_class_count": 3, "group_by_topk": 2}
    for name, call in _SAMPLERS.items():
        assert jobs_in_group(lambda: call(d, _PLAIN))[1] == eager.get(name, 0), name


def test_driver_bridges_hostile_names(spark):
    """The six driver bridges read ``g.x`` and ``v`y`` as plain names."""
    from omigo_data_analytics_spark.core import colutils

    def bridges(g, v, f):
        d = OmigoDF(spark.createDataFrame(
            [(1, "a", 0.5), (2, None, 1.5)],
            f"{colutils.quote(g)} int, {colutils.quote(v)} string, "
            f"{colutils.quote(f)} double"))
        return [sorted(d.to_tuples([g, v])), sorted(d.col_as_array(v)),
                sorted(d.col_as_array_uniq(v)), sorted(d.col_as_float_array(f)),
                d.cols_as_map([g], [v, f]),
                d.first_value_with_default_if_missing(v, "-")]

    want = [[(1, "a"), (2, None)], ["", "a"], ["", "a"], [0.5, 1.5],
            {"1": ("a", "0.5"), "2": ("", "1.5")}, "a"]
    assert bridges("g.x", "v`y", "f.z") == want
    assert bridges("g", "v", "f") == want


def test_sample_n_per_group_mapside_limit(spark, documents):
    d = documents.sample_n_per_group(["lang"], 2, key_cols=["doc_id"])
    p = d.df._jdf.queryExecution().executedPlan().toString()
    import re
    i = p.index("Exchange hashpartitioning")
    assert re.search(r"WindowGroupLimit.*Partial", p[i:])


def test_replicate_rows_zero_and_negative_counts_drop(spark):
    """count <= 0 drops the row (reference range(int(v))); a bare
    sequence(1, 0) would auto-step BACKWARDS and emit [1, 0]."""
    df = OmigoDF(spark.createDataFrame(
        [(1, "3"), (2, "1"), (3, "0"), (4, "-2")], ["id", "cnt"]))
    got = sorted(r["id"] for r in df.replicate_rows("cnt").df.collect())
    assert got == [1, 1, 1, 2]


def test_not_eq_keeps_missing_is_nonzero_drops(spark):
    """'ne' filters keep NULL/unparseable rows ('' != 'x' is True in the
    reference's string-first model, like every sibling negative filter);
    is_nonzero* drops them (missing is not a nonzero number)."""
    df = OmigoDF(spark.createDataFrame(
        [(1, "x", "5"), (2, None, None), (3, "y", "0"), (4, "", "junk")],
        ["id", "s", "v"]))
    assert sorted(r["id"] for r in
                  df.not_eq_str("s", "x").df.collect()) == [2, 3, 4]
    assert sorted(r["id"] for r in
                  df.is_nonzero_float("v").df.collect()) == [1]


def test_split_literal_separator(spark):
    """split_str / explode_list_col treat sep as a LITERAL (reference
    str.split) — '|' or '.' must not be interpreted as a regex."""
    df = OmigoDF(spark.createDataFrame([(1, "a|b|c")], ["id", "s"]))
    out = df.split_str("s", "p", "|")
    row = out.df.first()
    assert (row["p:1"], row["p:2"], row["p:3"]) == ("a", "b", "c")
    ex = df.explode_list_col("s", "e", sep="|")
    assert sorted(r["e"] for r in ex.df.collect()) == ["a", "b", "c"]


def test_reverse_transpose_underscore_pivot_values(spark):
    """Pivot values containing '_' must parse by matching the KNOWN agg
    alias suffix, not by splitting on the first underscore."""
    df = OmigoDF(spark.createDataFrame(
        [("g1", "NORTH_AMERICA", "1", "2"), ("g1", "EU", "3", "4")],
        ["g", "k", "a", "b"]))
    out = df.reverse_transpose(["g"], "k", ["a", "b"])
    assert "a:k:NORTH_AMERICA" in out.columns
    assert "b:k:NORTH_AMERICA" in out.columns
    row = out.df.first()
    assert row["a:k:NORTH_AMERICA"] == "1"
    assert row["b:k:EU"] == "4"


def test_add_seq_num_stable_on_nondeterministic_upstream(spark):
    """The counts job and the assign job must see the SAME partitioning
    (localCheckpoint) — a sampled upstream previously risked duplicate/
    skipped numbers between the two executions."""
    base = OmigoDF(spark.range(2000).toDF("id").sample(0.5, seed=None))
    out = base.add_seq_num("sno")
    nums = sorted(r["sno"] for r in out.df.select("sno").collect())
    assert nums == list(range(1, len(nums) + 1))


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


def test_split_batches_uniform_is_stable_across_actions(spark):
    """cols=None buckets come from monotonically_increasing_id; without
    the unconditional checkpoint each returned batch would re-execute the
    plan with fresh ids and rows could appear in 0 or 2 batches."""
    df = spark.range(2000).withColumnRenamed("id", "k").repartition(8)
    batches = OmigoDF(df).split_batches(4)
    ids = [sorted(r["k"] for r in b.df.collect()) for b in batches]
    flat = sorted(x for part in ids for x in part)
    assert flat == list(range(2000))  # every row exactly once
    # second action sees the identical assignment
    ids2 = [sorted(r["k"] for r in b.df.collect()) for b in batches]
    assert ids == ids2


def test_sample_group_by_col_value_delegates(spark):
    df = spark.createDataFrame(
        [("g", "spam"), ("g", "ham")], "g string, v string")
    out = OmigoDF(df).sample_group_by_col_value(
        ["g"], "v", "spam", 0.0, seed=1)
    assert [r["v"] for r in out.df.collect()] == ["ham"]


def test_abs64_min_value_saturates_not_ansi_overflow(spark):
    """F.abs(Long.MinValue) throws ARITHMETIC_OVERFLOW under ANSI — a
    2^-64 per-row hazard for every xxhash64 bucket/sort site. abs64
    saturates MinValue to MaxValue and is identity-abs elsewhere."""
    from pyspark.sql import functions as F

    from omigo_data_analytics_spark.core.dataframe import abs64

    df = spark.createDataFrame(
        [(-(1 << 63),), (-7,), (0,), (7,), ((1 << 63) - 1,)], "h long")
    got = [r["a"] for r in df.select(abs64(F.col("h")).alias("a")).collect()]
    assert got == [(1 << 63) - 1, 7, 0, 7, (1 << 63) - 1]
