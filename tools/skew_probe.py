"""Hot-key skew probe (r12 — the sixth hostile rig): one key owning
~30% of a corpus is the normal shape of web/event data at 100 TB
(one bot account, one empty-string user-agent, one default lang).
Shuffle-key skew splits into three structural classes on Spark:

1. PARTIAL-AGGREGATED ops (groupBy aggregates, our two-phase
   cumulative_sum, count-table curation ops) — map-side combine means
   the hot key reaches the reduce as one partial row per map task.
   Structurally skew-free; the probe verifies walls are flat.
2. JOINS — AQE's skew-join splitting handles sort-merge skew at
   runtime (spark.sql.adaptive.skewJoin), `salted_join` covers the
   both-sides-large extreme. The probe measures plain vs salted on a
   hot key and checks the AQE plan marker.
3. WINDOW functions partitioned by the hot key — THE hard class: a
   window partition cannot be split, so the hot group lands in ONE
   task. Spark's WindowGroupLimit rescues exactly the
   row_number()+filter(rn<=k) shape (map-side per-group limit before
   the exchange) — our top-k family (sample_group_by_topk,
   sample_n_per_group, arg_min/max) is written in that shape on
   purpose. Ordered carries (sessionize, rolling_aggregate, asof)
   fundamentally need the whole group sorted in one place; the probe
   QUANTIFIES their hot-key cost so the boundary is documented, not
   discovered in production.

Usage: python tools/skew_probe.py [n_rows] [hot_frac] [label_filter]
label_filter: only run ops whose label contains the substring
Prints per-op wall seconds on a hot-key corpus vs a uniform control
with identical row count and schema, plus plan-marker checks.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from omigo_data_analytics_spark import OmigoDF, get_spark  # noqa: E402

N = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
HOT_FRAC = float(sys.argv[2]) if len(sys.argv) > 2 else 0.3
ONLY = sys.argv[3] if len(sys.argv) > 3 else ""
N_KEYS = 100_000


def build(spark, hot: bool):
    path = f"/tmp/skew_{'hot' if hot else 'uni'}_{N}.parquet"
    if not os.path.exists(path):
        base = spark.range(N)
        if hot:
            key = (F.when(F.col("id") % 1000 < int(HOT_FRAC * 1000),
                          F.lit(7))
                   .otherwise(F.col("id") % N_KEYS)).alias("k")
        else:
            key = (F.col("id") % N_KEYS).alias("k")
        df = base.select(
            key,
            F.col("id").alias("event_id"),
            # 10-day span so time-bucketing has real spread (gcd checks:
            # 37 is coprime to N_KEYS, so t varies within every key)
            ((F.col("id") * 37) % 864_000).cast("double").alias("t"),
            ((F.col("id") * 13) % 1000).cast("double").alias("v"))
        df.repartition(32).write.mode("overwrite").parquet(path)
    return OmigoDF(spark.read.parquet(path))


def timed(label, fn):
    if ONLY and ONLY not in label:
        return None
    t0 = time.time()
    n = fn()
    dt = time.time() - t0
    print(f"{label:44s} {dt:8.2f}s  (n={n})", flush=True)
    return dt


def main():
    spark = get_spark("skew_probe")
    dim = OmigoDF(spark.range(N_KEYS).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("grp")))

    for hot in (False, True):
        tag = "HOT " if hot else "UNI "
        d = build(spark, hot)
        print(f"--- {tag}corpus: {N} rows, "
              f"{f'{HOT_FRAC:.0%} on one key' if hot else 'uniform'} ---",
              flush=True)
        timed(tag + "groupBy agg (partial-agg class)",
              lambda: d.aggregate(["k"], ["v"], ["sumfloat"]).df.count())
        timed(tag + "join vs broadcast dim",
              lambda: d.inner_join(dim, lkeys=["k"]).df.count())
        # split on event_id % 7 (gcd(7, N_KEYS)=1, gcd(7, 1000)=1): a
        # parity or v-based split is key-correlated (k = id % 100000 and
        # v = 13·id % 1000 are both constant-residue per key), which
        # silently makes the key sets disjoint and the join empty
        timed(tag + "self-join hot-left (AQE skew)",
              lambda: OmigoDF(d.df.where("event_id % 7 < 3")).inner_join(
                  OmigoDF(d.df.where("event_id % 7 >= 3")
                          .groupBy("k").agg(F.sum("v").alias("v2"))),
                  lkeys=["k"], rsuffix="r").df.count())
        timed(tag + "salted_join hot-left",
              lambda: OmigoDF(d.df.where("event_id % 7 < 3")).salted_join(
                  OmigoDF(d.df.where("event_id % 7 >= 3")
                          .groupBy("k").agg(F.sum("v").alias("v2"))),
                  lkeys=["k"]).df.count())
        timed(tag + "topk_per_group k=3 (WindowGroupLimit)",
              lambda: d.sample_group_by_topk(["k"], "v", 3,
                                             tie_break_cols=["event_id"])
              .df.count())
        timed(tag + "sample_n_per_group n=2",
              lambda: d.sample_n_per_group(["k"], 2, key_cols=["event_id"])
              .df.count())
        # aggregate the WINDOW OUTPUT column, not count(): count lets
        # Catalyst prune the window entirely (the hot-key cost being
        # measured would never execute)
        timed(tag + "rolling_aggregate w=5 (ordered carry)",
              lambda: int(_rolling(d).df.agg(
                  F.count("`v:rolling_mean`")).first()[0]))
        timed(tag + "rolling bucketed (halo two-phase)",
              lambda: int(_rolling(d, span=3600.0).df.agg(
                  F.count("`v:rolling_mean`")).first()[0]))
        timed(tag + "sessionize gap=60 (ordered carry)",
              lambda: int(_sessions(d).df.agg(
                  F.sum("session_id")).first()[0]))
        timed(tag + "sessionize bucketed (two-phase)",
              lambda: int(_sessions(d, span=3600.0).df.agg(
                  F.sum("session_id")).first()[0]))
        timed(tag + "asof_join backward (ordered carry)",
              lambda: int(_asof(d).df.agg(
                  F.count("`q:v2`")).first()[0]))
        timed(tag + "asof bucketed (two-phase)",
              lambda: int(_asof(d, span=3600.0).df.agg(
                  F.count("`q:v2`")).first()[0]))
        # r13: analytic aggregate — the OLD unordered-window shape
        # (reconstructed inline; removed from the engine) vs the
        # de-skewed groupBy+join-back the engine now plans
        timed(tag + "analytic agg OLD Window.partitionBy shape",
              lambda: int(_analytic_window(d).agg(
                  F.count("s")).first()[0]))
        timed(tag + "aggregate(collapse=False) de-skewed (r13)",
              lambda: int(d.aggregate(["k"], ["v"], ["sumfloat"],
                                      collapse=False).df.agg(
                  F.count("`v:sumfloat`")).first()[0]))
        # r13: merge_intervals joins the two-phase family (the count
        # cannot prune the carry window: islands ARE the grouping key)
        timed(tag + "merge_intervals (ordered carry)",
              lambda: _intervals(d).df.count())
        timed(tag + "merge_intervals bucketed (two-phase)",
              lambda: _intervals(d, span=3600.0).df.count())
        # r13 window audit finds: inverted_index's old count-window
        # defeated WindowGroupLimit; merge_similar_nodes' psig window
        # (old shapes reconstructed inline — removed from the engine)
        timed(tag + "inverted_index OLD count-window shape",
              lambda: _invidx_old(d).count())
        timed(tag + "inverted_index WGL+partial-df (r13)",
              lambda: _invidx_new(d).count())
        timed(tag + "merge_nodes OLD psig-window shape",
              lambda: _merge_nodes_old(d).count())
        timed(tag + "merge_similar_nodes de-skewed (r13)",
              lambda: _merge_nodes_new(d).count())

    # plan markers on the hot corpus
    d = build(spark, True)
    topk = d.sample_group_by_topk(["k"], "v", 3,
                                  tie_break_cols=["event_id"]).df
    plan = topk._jdf.queryExecution().executedPlan().toString()
    print("WindowGroupLimit in topk plan:", "WindowGroupLimit" in plan)


def _rolling(d, span=None):
    from omigo_data_analytics_spark.operators import timeseries as TS
    return TS.rolling_aggregate(d, key_cols=["k"], order_col="t",
                                agg_cols=["v"], agg_funcs=["mean"],
                                window_rows=5,
                                tiebreak_cols=["event_id"],
                                time_buckets_sec=span)


def _sessions(d, span=None):
    from omigo_data_analytics_spark.operators import timeseries as TS
    return TS.sessionize(d, key_cols=["k"], time_col="t", gap_sec=60,
                         time_buckets_sec=span)


def _term_pairs(d):
    # one term per doc, drawn from the (hot-or-uniform) key column:
    # the hot corpus gives one stopword-like term 50% of the postings
    return d.df.select(F.col("event_id").alias("doc_id"),
                       F.concat(F.lit("w"), F.col("k")).alias("term"))


def _invidx_old(d, max_postings=100):
    from pyspark.sql import Window
    ex = _term_pairs(d)
    w_rank = Window.partitionBy("term").orderBy(F.col("doc_id").asc())
    w_all = Window.partitionBy("term")
    ranked = (ex.withColumn("__rk__", F.row_number().over(w_rank))
              .withColumn("__df__", F.count(F.lit(1)).over(w_all))
              .where(F.col("__rk__") <= max_postings))
    return (ranked.groupBy("term")
            .agg(F.max("__df__").alias("doc_freq"),
                 F.count(F.lit(1)).alias("np")))


def _invidx_new(d):
    from omigo_data_analytics_spark.operators import text as TX
    docs = d.df.select(F.col("event_id").alias("doc_id"),
                       F.concat(F.lit("w"), F.col("k")).alias("text"))
    return TX.inverted_index(OmigoDF(docs), "doc_id", "text").df


def _leaf_edges(d):
    # every row a leaf edge parent->leaf; hot corpus: one parent owns
    # 50% of the leaves -> its psig group is hot
    return d.df.select(F.concat(F.lit("p"), F.col("k")).alias("src"),
                       F.concat(F.lit("L"), F.col("event_id")).alias("dst"))


def _merge_nodes_old(d):
    from pyspark.sql import Window
    e = _leaf_edges(d).localCheckpoint()
    srcs = e.select(F.col("src").alias("n")).distinct()
    leaves = (e.join(srcs, e["dst"] == F.col("n"), "left_anti")
              .select(F.col("dst").alias("leaf")).distinct())
    parents = (e.join(leaves, e["dst"] == F.col("leaf"))
               .groupBy("leaf")
               .agg(F.array_sort(
                   F.collect_set(F.col("src").cast("string"))).alias("psig")))
    remap = parents.select(
        "leaf", F.min("leaf").over(Window.partitionBy("psig")).alias("rep"))
    return (e.join(remap, e["dst"] == F.col("leaf"), "left")
            .withColumn("dst", F.coalesce(F.col("rep"), e["dst"]))
            .drop("leaf", "rep").select(*e.columns).distinct())


def _merge_nodes_new(d):
    from omigo_data_analytics_spark.operators import graph as G
    return G.merge_similar_nodes(OmigoDF(_leaf_edges(d))).df


def _analytic_window(d):
    from pyspark.sql import Window
    return d.df.withColumn("s", F.sum("v").over(Window.partitionBy("k")))


def _intervals(d, span=None):
    from omigo_data_analytics_spark.operators import timeseries as TS
    iv = OmigoDF(d.df.select("k", F.col("t").alias("s"),
                             (F.col("t") + 30.0).alias("e")))
    return TS.merge_intervals(iv, "k", "s", "e", time_buckets_sec=span)


def _asof(d, span=None):
    from omigo_data_analytics_spark import OmigoDF
    from omigo_data_analytics_spark.operators import timeseries as TS
    left = OmigoDF(d.df.where("event_id % 7 < 3"))
    right = OmigoDF(d.df.where("event_id % 7 >= 3")
                    .select("k", "t", F.col("v").alias("v2"),
                            F.col("event_id").alias("rseq")))
    return TS.asof_join(left, right, on="k", left_time="t", suffix="q",
                        tiebreak_cols=["rseq"], time_buckets_sec=span)


if __name__ == "__main__":
    main()
