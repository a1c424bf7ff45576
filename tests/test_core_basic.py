"""Core operator tests: projections, filters, transforms, sort, slicing."""

import logging

import pytest

from omigo_data_analytics_spark import OmigoDF


def test_select_literal_and_pattern(iris):
    assert iris.select(["class", "petal_length"]).columns == ["class", "petal_length"]
    assert iris.select("petal.*").columns == ["petal_length", "petal_width"]
    assert iris.select(["class", "sepal.*"]).columns == ["class", "sepal_length", "sepal_width"]


def test_select_missing_raises_eagerly(iris):
    with pytest.raises(KeyError):
        iris.select("nope")
    # ignore_if_missing downgrades to no-op
    assert iris.select("nope", ignore_if_missing=True).columns == iris.columns


def test_ignore_if_missing_warning_on_package_logger(iris, caplog):
    """The ignore_if_missing warning logs inside the package logger tree,
    so a level set on ``omigo_data_analytics_spark`` governs it."""
    pkg = logging.getLogger("omigo_data_analytics_spark")
    with caplog.at_level(logging.WARNING, logger=pkg.name):
        iris.select("nope", ignore_if_missing=True)
    recs = [r for r in caplog.records if r.name.startswith(pkg.name + ".")]
    assert any("ignore_if_missing" in r.getMessage() for r in recs)
    caplog.clear()
    with caplog.at_level(logging.ERROR, logger=pkg.name):
        iris.select("nope", ignore_if_missing=True)
    assert not [r for r in caplog.records if "ignore_if_missing" in r.getMessage()]


def test_drop_and_namespace_ops(iris):
    assert "class" not in iris.drop_cols("class").columns
    pref = iris.add_prefix("x", ["sepal_length"])
    assert "x:sepal_length" in pref.columns
    assert "sepal_length" in pref.remove_prefix("x").columns
    suf = iris.add_suffix("raw")
    assert all(c.endswith(":raw") for c in suf.columns)
    ren = suf.rename_suffix("raw", "v2")
    assert all(c.endswith(":v2") for c in ren.columns)


def test_typed_predicates(iris):
    n = iris.num_rows()
    setosa = iris.eq_str("class", "Iris-setosa")
    assert setosa.num_rows() == 50
    assert iris.not_eq_str("class", "Iris-setosa").num_rows() == n - 50
    big = iris.gt_float("petal_length", 3.0)
    small = iris.le_float("petal_length", 3.0)
    assert big.num_rows() + small.num_rows() == n
    # eq_int truncates like int(float(x)) — reference dataframe.py:283
    assert iris.eq_int("petal_length", 3).num_rows() == \
        iris.where("try_cast(petal_length as double) >= 3 and try_cast(petal_length as double) < 4").num_rows()


def test_regex_and_membership(iris):
    assert iris.regex_match("class", "Iris-v.*").num_rows() == 100
    assert iris.not_regex_match("class", "Iris-v.*").num_rows() == 50
    assert iris.values_in("class", ["Iris-setosa", "Iris-virginica"]).num_rows() == 100
    assert iris.startswith("class", "Iris-").num_rows() == 150
    assert iris.endswith("class", "osa").num_rows() == 50


def test_lambda_filter_and_transform(iris):
    odd = iris.filter(["petal_length"], lambda v: float(v) > 3.0)
    assert odd.num_rows() == iris.gt_float("petal_length", 3.0).num_rows()
    ex = iris.exclude_filter(["petal_length"], lambda v: float(v) > 3.0)
    assert ex.num_rows() == iris.num_rows() - odd.num_rows()

    t = iris.transform(["sepal_length", "sepal_width"],
                       lambda a, b: float(a) * float(b), "area")
    assert "area" in t.columns
    row = t.df.select("sepal_length", "sepal_width", "area").first()
    assert abs(float(row["area"]) - float(row["sepal_length"]) * float(row["sepal_width"])) < 1e-9

    m = iris.transform(["sepal_length"], lambda a: (a, a + "x"), ["c1", "c2"])
    r = m.df.select("sepal_length", "c1", "c2").first()
    assert r["c1"] == r["sepal_length"] and r["c2"] == r["sepal_length"] + "x"


def test_transform_inline_and_math(iris):
    t = iris.transform_inline(["class"], lambda v: v.upper())
    assert t.df.select("class").first()[0].startswith("IRIS-")
    lg = iris.transform_inline_log10(["sepal_length"])
    v = lg.df.select("sepal_length").first()[0]
    assert 0 < float(v) < 1  # log10 of 4..8


def test_ratio_and_const_ops(iris):
    r = iris.ratio("petal_length", "petal_width", "plr", default=-1.0)
    assert "plr" in r.columns
    c = iris.add_const("k", "v1").add_const_if_missing("k", "v2")
    assert c.df.select("k").first()[0] == "v1"
    cap = iris.cap_max_inline("petal_length", 2.0)
    assert cap.df.agg({"petal_length": "max"}).first()[0] <= 2.0


def test_sort_numeric_sniff(iris):
    s = iris.sort("petal_length")
    vals = [float(v) for v in s.col_as_array("petal_length")]
    assert vals == sorted(vals)
    r = iris.reverse_sort("petal_length")
    rvals = [float(v) for v in r.col_as_array("petal_length")]
    assert rvals == sorted(rvals, reverse=True)
    # lexicographic for non-numeric col
    c = iris.sort("class")
    cv = c.col_as_array("class")
    assert cv == sorted(cv)


def test_take_skip_last(iris):
    assert iris.take(10).num_rows() == 10
    assert iris.skip_rows(140).num_rows() == 10
    assert iris.last(5).num_rows() == 5


def test_add_seq_num_and_cumsum(iris):
    s = iris.add_seq_num("sno")
    nums = sorted(int(v) for v in s.col_as_array("sno"))
    assert nums == list(range(1, 151))
    c = OmigoDF(iris.df.select("petal_length")).add_seq_num("i") \
        .cumulative_sum("i", "run", sort_cols=["i"])
    arr = c.df.orderBy("i").select("run").collect()
    assert [r[0] for r in arr[:3]] == [1, 3, 6]


def test_distinct_and_union(iris):
    u = iris.union(iris)
    assert u.num_rows() == 300
    assert u.distinct().num_rows() == iris.distinct().num_rows()


def test_merge_union_schema_evolution(iris, spark):
    a = iris.select(["class", "petal_length"])
    b = iris.select(["class", "sepal_length"])
    m = a.merge_union(b, def_val_map={"petal_length": "-1"})
    assert set(m.columns) == {"class", "petal_length", "sepal_length"}
    assert m.num_rows() == 300
    assert m.where("petal_length = '-1'").num_rows() == 150
    i = a.merge_intersect(b)
    assert i.columns == ["class"] and i.num_rows() == 300


def test_set_missing_and_empty(spark):
    from pyspark.sql import types as T

    df = spark.createDataFrame(
        [("a", ""), ("b", None), ("c", "x")],
        T.StructType([T.StructField("k", T.StringType()), T.StructField("v", T.StringType())]))
    o = OmigoDF(df)
    assert o.is_empty_str("v").num_rows() == 2
    assert o.is_nonempty_str("v").num_rows() == 1
    filled = o.set_missing_values(["v"], "zz")
    assert filled.where("v = 'zz'").num_rows() == 2


def test_codecs(iris):
    b = iris.base64_encode("class", "b64").base64_decode("b64", "back")
    r = b.df.select("class", "back").first()
    assert r["class"] == r["back"]
    u = iris.url_encode("class", "enc").url_decode("enc", "dec")
    r = u.df.select("class", "dec").first()
    assert r["class"] == r["dec"]


def test_generate_key_hash(iris):
    h = iris.generate_key_hash(["class"], "kh")
    assert h.select(["class", "kh"]).distinct().num_rows() == 3


def test_resolve_template_col(spark):
    from pyspark.sql import types as T

    df = spark.createDataFrame(
        [("u1", "q={user}", )],
        T.StructType([T.StructField("user", T.StringType()), T.StructField("tpl", T.StringType())]))
    out = OmigoDF(df).resolve_template_col("tpl", "resolved")
    assert out.df.first()["resolved"] == "q=u1"


def test_to_clipboard_env_gated(region):
    """Clipboard copy keeps the fluent chain alive: where a backend
    exists it copies up to n rows; headless it degrades to a warning —
    the reference's display chains never abort the pipeline."""
    out = region.to_clipboard(n=5)
    assert out is region
