"""Driver contract for the spark-graft builder (PySpark target).

`queries()` exposes one entry per implemented operator family from
SURVEY.md §2 (plus the training-data-pipeline operators); `oracle_sql()`
gives the DuckDB-equivalent SQL for each. Numeric aggregates use
DECIMAL-exact accumulation presented as DOUBLE so results are bit-equal
across engines regardless of partitioning/add-order; top-k queries round
before ranking and tie-break on ids; hashes in minhash/simhash/jaccard use a
portable polynomial hash so even the approximate-dedup pipelines are
oracle-checked exactly. Entries without an oracle (engine-specific hashing,
seeded sampling — SURVEY §7.3) get the driver's weaker rows-only check.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

from omigo_data_analytics_spark import OmigoDF  # noqa: E402
from omigo_data_analytics_spark.sources.io import load_testdata  # noqa: E402
from omigo_data_analytics_spark.operators import dedup as DD  # noqa: E402
from omigo_data_analytics_spark.operators import enrich as EN  # noqa: E402
from omigo_data_analytics_spark.operators import fuzzy as FZ  # noqa: E402
from omigo_data_analytics_spark.operators import graph as GR  # noqa: E402
from omigo_data_analytics_spark.operators import multimodal as MM  # noqa: E402
from omigo_data_analytics_spark.operators import search as SR  # noqa: E402
from omigo_data_analytics_spark.operators import similarity as SIM  # noqa: E402
from omigo_data_analytics_spark.operators import stats as SS  # noqa: E402
from omigo_data_analytics_spark.sources import sql as SQX  # noqa: E402
from omigo_data_analytics_spark.streaming import stream as ST  # noqa: E402
from omigo_data_analytics_spark.operators import timeseries as TS  # noqa: E402
from omigo_data_analytics_spark.operators import text as TX  # noqa: E402
from omigo_data_analytics_spark.operators import curation as CU  # noqa: E402
from omigo_data_analytics_spark.operators import query_graph as QG  # noqa: E402
from omigo_data_analytics_spark.functions import timefuncs as TFN  # noqa: E402


def _t(spark: SparkSession, sf_dir: str, name: str) -> OmigoDF:
    return load_testdata(spark, sf_dir, name)


# SQL helpers (DuckDB dialect) — DECIMAL-exact sums presented as DOUBLE.
def _dsum(c: str) -> str:
    return f"CAST(SUM(CAST({c} AS DECIMAL(18,4))) AS DOUBLE)"


def _dmean(c: str) -> str:
    return f"(CAST(SUM(CAST({c} AS DECIMAL(18,4))) AS DOUBLE) / COUNT({c}))"


# =====================================================================
# Relational core (SURVEY §2.2-2.9)
# =====================================================================

def q_tpch_q1_aggregate(spark, sf_dir):
    """aggregate(collapse=True) with typed filter — TPC-H Q1 shape."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.where("l_shipdate <= timestamp'1998-09-02 00:00:00'")
              .aggregate(["l_returnflag", "l_linestatus"],
                         ["l_quantity", "l_extendedprice", "l_discount", "l_orderkey"],
                         ["sumdec", "sumdec", "meandec", "uniq_count"])
              .rename("l_quantity:sumdec", "sum_qty")
              .rename("l_extendedprice:sumdec", "sum_price")
              .rename("l_discount:meandec", "avg_disc")
              .rename("l_orderkey:uniq_count", "n_orders")
              .df)


SQL_TPCH_Q1 = f"""
SELECT l_returnflag, l_linestatus,
       {_dsum('l_quantity')} AS sum_qty,
       {_dsum('l_extendedprice')} AS sum_price,
       {_dmean('l_discount')} AS avg_disc,
       COUNT(DISTINCT l_orderkey) AS n_orders
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_typed_filters(spark, sf_dir):
    """eq_str / gt_float / values_in / regex_match chain."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.eq_str("l_returnflag", "R")
              .gt_float("l_quantity", 45)
              .values_in("l_linestatus", ["F", "O"])
              .regex_match("l_returnflag", "R")
              .select(["l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"])
              .df)


SQL_TYPED_FILTERS = """
SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
FROM lineitem
WHERE l_returnflag = 'R' AND l_quantity > 45
  AND l_linestatus IN ('F', 'O') AND regexp_matches(l_returnflag, '^(?:R)')
"""


def q_select_regex(spark, sf_dir):
    """regex column projection + not_select + rename."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.select(["l_orderkey", "l_linenumber", "l_.*price", "l_quantity"])
              .not_select("l_quantity")
              .rename("l_extendedprice", "price")
              .where("l_orderkey % 10 = 0")
              .df)


SQL_SELECT_REGEX = """
SELECT l_orderkey, l_linenumber, l_extendedprice AS price
FROM lineitem WHERE l_orderkey % 10 = 0
"""


def q_inner_join_agg(spark, sf_dir):
    """inner_join + grouped aggregation."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (o.inner_join(c, lkeys="o_custkey", rkeys="c_custkey")
             .aggregate(["c_mktsegment"], ["o_totalprice", "o_orderkey"],
                        ["sumdec", "get_array_len"])
             .rename("o_totalprice:sumdec", "total_price")
             .rename("o_orderkey:get_array_len", "n_orders")
             .df)


SQL_INNER_JOIN_AGG = f"""
SELECT c_mktsegment, {_dsum('o_totalprice')} AS total_price, COUNT(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def q_left_join_histogram(spark, sf_dir):
    """left_join with unmatched-row handling → per-customer order counts."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per = (c.left_join(o, lkeys="c_custkey", rkeys="o_custkey", default_val=None)
            .aggregate(["c_custkey"], ["o_orderkey"], ["get_non_empty_len"])
            .rename("o_orderkey:get_non_empty_len", "n_orders"))
    return (per.aggregate(["n_orders"], ["c_custkey"], ["get_array_len"])
               .rename("c_custkey:get_array_len", "n_customers")
               .df)


SQL_LEFT_JOIN_HISTOGRAM = """
WITH per AS (
  SELECT c_custkey, COUNT(o_orderkey) AS n_orders
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey)
SELECT n_orders, COUNT(*) AS n_customers FROM per GROUP BY n_orders
"""


def q_map_join_broadcast(spark, sf_dir):
    """broadcast (map-side) join of two dims."""
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (n.inner_map_join(r, lkeys="n_regionkey", rkeys="r_regionkey")
             .select(["n_nationkey", "n_name", "r_name"])
             .df)


SQL_MAP_JOIN = """
SELECT n_nationkey, n_name, r_name
FROM nation JOIN region ON n_regionkey = r_regionkey
"""


def q_difference_anti(spark, sf_dir):
    """difference (anti-join): suppliers with no quantity>49 lineitem."""
    s = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    hot = OmigoDF(li.where("l_quantity > 49").df
                  .select(F.col("l_suppkey").alias("s_suppkey")))
    return s.difference(hot, cols=["s_suppkey"]).select(["s_suppkey", "s_name"]).df


SQL_DIFFERENCE = """
SELECT s_suppkey, s_name FROM supplier
WHERE NOT EXISTS (SELECT 1 FROM lineitem
                  WHERE l_suppkey = s_suppkey AND l_quantity > 49)
"""


def q_group_count(spark, sf_dir):
    """group_count: counts + ratio-of-total."""
    li = _t(spark, sf_dir, "lineitem")
    return li.group_count(["l_returnflag"], prefix="g").df


SQL_GROUP_COUNT = """
SELECT l_returnflag, COUNT(*) AS "g:count",
       ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER (), 6) AS "g:ratio"
FROM lineitem GROUP BY l_returnflag
"""


def q_arg_max_topk(spark, sf_dir):
    """arg_max with topk: top-3 orderkeys by extendedprice per flag."""
    li = _t(spark, sf_dir, "lineitem")
    return li.arg_max(["l_returnflag"], ["l_orderkey"], ["l_extendedprice"], topk=3).df


SQL_ARG_MAX = """
WITH ranked AS (
  SELECT l_returnflag, coalesce(CAST(l_orderkey AS VARCHAR), '') AS a,
         l_extendedprice AS v,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice DESC,
                                     coalesce(CAST(l_orderkey AS VARCHAR), '') DESC) AS rn
  FROM lineitem)
SELECT l_returnflag,
       string_agg(CASE WHEN rn <= 3 THEN a END, ',' ORDER BY rn)
           AS "l_orderkey:l_extendedprice:arg_max",
       MAX(v) AS "l_extendedprice:max"
FROM ranked GROUP BY l_returnflag
"""


def q_arg_min_topk(spark, sf_dir):
    """arg_min with topk: 2 cheapest suppliers per linestatus."""
    li = _t(spark, sf_dir, "lineitem")
    return li.arg_min(["l_linestatus"], ["l_suppkey"], ["l_extendedprice"], topk=2).df


SQL_ARG_MIN = """
WITH ranked AS (
  SELECT l_linestatus, coalesce(CAST(l_suppkey AS VARCHAR), '') AS a,
         l_extendedprice AS v,
         row_number() OVER (PARTITION BY l_linestatus
                            ORDER BY l_extendedprice ASC,
                                     coalesce(CAST(l_suppkey AS VARCHAR), '') ASC) AS rn
  FROM lineitem)
SELECT l_linestatus,
       string_agg(CASE WHEN rn <= 2 THEN a END, ',' ORDER BY rn)
           AS "l_suppkey:l_extendedprice:arg_min",
       MIN(v) AS "l_extendedprice:min"
FROM ranked GROUP BY l_linestatus
"""


def q_concat_as_cols(spark, sf_dir):
    """positional column-wise zip of two equal-height tables (reference
    dataframe.py:2554-2586) — small-table op, row_number alignment."""
    r = _t(spark, sf_dir, "region")
    left = r.sort(["r_regionkey"]).select(["r_name"])
    right = OmigoDF(r.sort(["r_regionkey"], reverse=True).df
                    .selectExpr("r_name AS rev_name"))
    return left.concat_as_cols(right).df


SQL_CONCAT_AS_COLS = """
WITH a AS (SELECT r_name, row_number() OVER (ORDER BY r_regionkey) AS rn FROM region),
b AS (SELECT r_name AS rev_name,
             row_number() OVER (ORDER BY r_regionkey DESC) AS rn FROM region)
SELECT a.r_name, b.rev_name FROM a JOIN b USING (rn)
"""


def q_distinct_cols(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.distinct_cols(["l_returnflag", "l_linestatus"]).df


SQL_DISTINCT = "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"


def q_window_tumbling(spark, sf_dir):
    """window_aggregate, tumbling windows over distinct day values."""
    ev = _t(spark, sf_dir, "events")
    ev = OmigoDF(ev.df.withColumn("day", F.date_format("ts", "yyyy-MM-dd")))
    return (ev.window_aggregate("day", ["value"], ["sumdec"], winsize=7,
                                label_col="day_window")
              .rename("value:sumdec", "value_sum")
              .df)


def _sql_window(agg_expr: str, alias: str, sliding: bool) -> str:
    member = ("SELECT d, unnest(range(greatest(0, i - 6), "
              "least(i, greatest(n - 6, 1) - 1) + 1)) AS w FROM idx, nn"
              if sliding else
              "SELECT d, i // 7 AS w FROM idx")
    return f"""
WITH days AS (SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS d FROM events),
idx AS (SELECT d, CAST(row_number() OVER (ORDER BY d) - 1 AS BIGINT) AS i FROM days),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM days),
member AS ({member}),
lab AS (SELECT w, concat(MIN(d), ' - ', MAX(d)) AS day_window FROM member GROUP BY w),
ev AS (SELECT strftime(ts, '%Y-%m-%d') AS d, value FROM events)
SELECT lab.day_window, {agg_expr} AS {alias}
FROM ev e JOIN member m ON e.d = m.d JOIN lab ON m.w = lab.w
GROUP BY lab.day_window
"""


def q_window_sliding(spark, sf_dir):
    """window_aggregate, sliding (step 1) windows — moving average."""
    ev = _t(spark, sf_dir, "events")
    ev = OmigoDF(ev.df.withColumn("day", F.date_format("ts", "yyyy-MM-dd")))
    return (ev.window_aggregate("day", ["value"], ["meandec"], winsize=7,
                                sliding=True, label_col="day_window")
              .rename("value:meandec", "value_mean")
              .df)


def q_topk_per_group(spark, sf_dir):
    """sample_group_by_topk with deterministic tie-break."""
    o = _t(spark, sf_dir, "orders")
    return (o.sample_group_by_topk(["o_orderpriority"], "o_totalprice", 5,
                                   tie_break_cols=["o_orderkey"])
             .select(["o_orderpriority", "o_orderkey", "o_totalprice"])
             .df)


SQL_TOPK = """
WITH r AS (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders)
SELECT o_orderpriority, o_orderkey, o_totalprice FROM r WHERE rn <= 5
"""


def q_aggregate_analytic(spark, sf_dir):
    """aggregate(collapse=False): per-row group aggregates (window fns)."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.select(["l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"])
              .aggregate(["l_returnflag"], ["l_quantity"], ["sumdec"], collapse=False)
              .rename("l_quantity:sumdec", "flag_sum_qty")
              .not_select("l_quantity")
              .df)


SQL_AGG_ANALYTIC = """
SELECT l_orderkey, l_linenumber, l_returnflag,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) OVER (PARTITION BY l_returnflag)
            AS DOUBLE) AS flag_sum_qty
FROM lineitem
"""


def q_cumulative_sum(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (o.select(["o_orderkey", "o_totalprice"])
             .cumulative_sum("o_totalprice", "running_total",
                             sort_cols=["o_orderkey"], exact=True)
             .df)


SQL_CUMSUM = """
SELECT o_orderkey, o_totalprice,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
            OVER (ORDER BY o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS running_total
FROM orders
"""


def q_merge_union(spark, sf_dir):
    """schema-evolving merge_union with per-column defaults."""
    o = _t(spark, sf_dir, "orders")
    a = o.where("year(o_orderdate) < 1998").select(
        ["o_orderkey", "o_orderstatus", "o_totalprice"])
    b = o.where("year(o_orderdate) >= 1998").select(
        ["o_orderkey", "o_orderstatus", "o_orderpriority"])
    m = a.merge_union(b, def_val_map={"o_totalprice": "-1", "o_orderpriority": "none"})
    return (m.aggregate(["o_orderstatus", "o_orderpriority"],
                        ["o_totalprice", "o_orderkey"], ["sumdec", "get_array_len"])
             .rename("o_totalprice:sumdec", "total_price")
             .rename("o_orderkey:get_array_len", "n_rows")
             .df)


SQL_MERGE_UNION = f"""
WITH m AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, 'none' AS o_orderpriority
  FROM orders WHERE year(o_orderdate) < 1998
  UNION ALL
  SELECT o_orderkey, o_orderstatus, -1.0 AS o_totalprice, o_orderpriority
  FROM orders WHERE year(o_orderdate) >= 1998)
SELECT o_orderstatus, o_orderpriority, {_dsum('o_totalprice')} AS total_price,
       COUNT(*) AS n_rows
FROM m GROUP BY 1, 2
"""


_LANGS = ["de", "en", "es", "fr", "zh"]


def q_pivot(spark, sf_dir):
    """reverse_transpose (pivot): doc counts per source × lang."""
    d = _t(spark, sf_dir, "documents")
    base = (d.aggregate(["source", "lang"], ["doc_id"], ["get_array_len"])
             .rename("doc_id:get_array_len", "cnt"))
    return base.reverse_transpose(["source"], "lang", ["cnt"]).df


SQL_PIVOT = "SELECT source, " + ", ".join(
    f"MAX(CASE WHEN lang = '{l}' THEN cnt END) AS \"cnt:lang:{l}\"" for l in _LANGS
) + """
FROM (SELECT source, lang, COUNT(*) AS cnt FROM documents GROUP BY 1, 2)
GROUP BY source
"""


def q_explode_json(spark, sf_dir):
    """explode_json: flatten the events.props JSON column, then aggregate."""
    ev = _t(spark, sf_dir, "events")
    flat = ev.explode_json("props", "props")
    return (flat.aggregate(["event_type"], ["props:k", "event_id"],
                           ["sumint", "get_array_len"])
                .rename("props:k:sumint", "k_sum")
                .rename("event_id:get_array_len", "n_events")
                .df)


SQL_EXPLODE_JSON = """
SELECT event_type, CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS k_sum,
       COUNT(*) AS n_events
FROM events GROUP BY event_type
"""


def _json_lists_frame(spark, sf_dir):
    """Synthetic parallel-list JSON built from nation: xs = 2 structs
    [k, k+1]; ys = (k%3)+1 structs 'r<k*10+i>' — variable lengths so
    cogroup padding and join cartesians differ."""
    n = _t(spark, sf_dir, "nation").df
    k = F.col("n_nationkey")
    xs = F.array(F.struct(k.cast("string").alias("v")),
                 F.struct((k + 1).cast("string").alias("v")))
    ys = F.transform(
        F.sequence(F.lit(0), k % 3),
        lambda i: F.struct(F.concat(F.lit("r"), ((k * 10) + i).cast("string")).alias("w")))
    return n.select("n_nationkey",
                    F.to_json(F.struct(xs.alias("xs"), ys.alias("ys"))).alias("js"))


def q_explode_json_zip(spark, sf_dir):
    """explode_json merge_list_method='cogroup' (reference default,
    dataframe.py:4556-4576): parallel lists zip positionally, shorter list
    pads with '', per-element index emitted."""
    df = _json_lists_frame(spark, sf_dir)
    out = OmigoDF(df).explode_json("js", "j", merge_list_method="cogroup",
                                   with_index=True)
    return out.select(["n_nationkey", "j:xs:v", "j:ys:w",
                       "j:__explode_json_index__"]).df


SQL_EXPLODE_JSON_ZIP = """
WITH base AS (SELECT n_nationkey AS k, (n_nationkey % 3) + 1 AS ly FROM nation),
idx AS (SELECT k, ly, unnest(range(0, greatest(2, ly))) AS i FROM base)
SELECT k AS n_nationkey,
  CASE WHEN i < 2 THEN CAST(k + i AS VARCHAR) ELSE '' END AS "j:xs:v",
  CASE WHEN i < ly THEN 'r' || CAST(k*10 + i AS VARCHAR) ELSE '' END AS "j:ys:w",
  CAST(i AS VARCHAR) AS "j:__explode_json_index__"
FROM idx
"""


def q_explode_json_join(spark, sf_dir):
    """explode_json merge_list_method='join' (reference
    dataframe.py:4577-4581): combinatorial cartesian of the lists."""
    df = _json_lists_frame(spark, sf_dir)
    out = OmigoDF(df).explode_json("js", "j", merge_list_method="join")
    return out.select(["n_nationkey", "j:xs:v", "j:ys:w"]).df


SQL_EXPLODE_JSON_JOIN = """
WITH base AS (SELECT n_nationkey AS k, (n_nationkey % 3) + 1 AS ly FROM nation),
p AS (SELECT k, ly, unnest(range(0, 2)) AS i FROM base),
q AS (SELECT k, ly, i, unnest(range(0, ly)) AS jx FROM p)
SELECT k AS n_nationkey, CAST(k + i AS VARCHAR) AS "j:xs:v",
       'r' || CAST(k*10 + jx AS VARCHAR) AS "j:ys:w"
FROM q
"""


def q_split_str(spark, sf_dir):
    """split_str: indexed columns from a separated cell."""
    o = _t(spark, sf_dir, "orders")
    s = o.split_str("o_orderpriority", "p", "-")
    return (s.aggregate(["p:1", "p:2"], ["o_orderkey"], ["get_array_len"])
             .rename("o_orderkey:get_array_len", "n")
             .df)


SQL_SPLIT_STR = """
SELECT string_split(o_orderpriority, '-')[1] AS "p:1",
       string_split(o_orderpriority, '-')[2] AS "p:2",
       COUNT(*) AS n
FROM orders GROUP BY 1, 2
"""


def q_replicate_rows(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (li.where("l_orderkey % 100 = 0")
              .replicate_rows("l_linenumber", "ridx")
              .select(["l_orderkey", "l_linenumber", "ridx"])
              .df)


SQL_REPLICATE = """
SELECT l_orderkey, l_linenumber,
       unnest(generate_series(1, l_linenumber)) AS ridx
FROM lineitem WHERE l_orderkey % 100 = 0
"""


# =====================================================================
# No-oracle entries (engine-specific hashing / seeded sampling — the
# driver records a rows-only check; SURVEY §7.3)
# =====================================================================

def q_sample_group_by_key(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.sample_group_by_key(["o_custkey"], 0.5, seed=42).df


def _sql_sample_group_by_key() -> str:
    h = TX.hash_duck("concat_ws(chr(9), coalesce(CAST(o_custkey AS VARCHAR), ''), '42')")
    return f"SELECT * FROM orders WHERE ({h}) % 1000000 < 500000"


def q_generate_key_hash(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.generate_key_hash(["text"], "key_hash").select(["doc_id", "key_hash"]).df


def _sql_generate_key_hash() -> str:
    # lockstep with the engine (r10): reference-style whitespace
    # normalization (tab/newline/vtab/CR -> space) + NULL -> '' slot,
    # replacing the old trim()
    norm = ("coalesce(translate(CAST(text AS VARCHAR), "
            "chr(9) || chr(10) || chr(11) || chr(13), '    '), '')")
    h = TX.hash_duck(f"concat_ws(chr(9), {norm})")
    return f"SELECT doc_id, {h} AS key_hash FROM documents"


def q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash-LSH near-dup removal (candidates→verify→drop)."""
    d = _t(spark, sf_dir, "documents")
    return DD.dedup_near(d, threshold=0.7).select(["doc_id", "lang", "source"]).df


def _sql_lsh_dedup(src: str, final_select: str, pre_cte: str = "") -> str:
    """Full LSH-dedup pipeline oracle over source relation ``src``:
    portable-hash minhash signatures → 2-row bands → bucket self-join
    candidates → exact-Jaccard verify → drop higher ids. Same constants
    as operators.dedup, so the whole approximate pipeline is exactly
    checkable. ``pre_cte`` splices extra leading WITH members in (the
    hostile fixtures derive their corpus from documents in-query)."""
    sh = DD.shingles_expr("duck")
    sig_cols = ", ".join(f"{e} AS mh_{j}"
                         for j, e in enumerate(DD.minhash_exprs("duck", sh)))
    rows_per_band = 2
    bands = "\nUNION ALL\n".join(
        f"SELECT {b} AS band, concat(" +
        ", '_', ".join(f"CAST(mh_{b * rows_per_band + r} AS VARCHAR)"
                       for r in range(rows_per_band)) +
        ") AS band_key, doc_id FROM sigs"
        for b in range(DD.NUM_HASHES // rows_per_band))
    inter = "len(list_intersect(a.sh, b.sh))"
    return f"""
WITH {pre_cte}sigs AS (SELECT doc_id, {sig_cols} FROM {src}),
bands AS ({bands}),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.band_key = b.band_key
          AND a.doc_id < b.doc_id),
shs AS (SELECT doc_id, {sh} AS sh FROM {src}),
ver AS (SELECT c.id_a, c.id_b
        FROM cand c JOIN shs a ON a.doc_id = c.id_a
                    JOIN shs b ON b.doc_id = c.id_b
        WHERE CAST({inter} AS DOUBLE)
              / (len(a.sh) + len(b.sh) - {inter}) >= 0.7)
{final_select}
"""


def _sql_dedup_minhash_lsh() -> str:
    return _sql_lsh_dedup(
        "documents",
        "SELECT doc_id, lang, source FROM documents\n"
        "WHERE doc_id NOT IN (SELECT id_b FROM ver)")


def q_similarity_lsh(spark, sf_dir):
    """LSH-bucketed approximate nearest neighbors."""
    e = _t(spark, sf_dir, "embeddings")
    q = OmigoDF(e.df.where("vec_id < 3"))
    c = OmigoDF(e.df.where("vec_id >= 3"))
    return SIM.cosine_topk_lsh(c, q, k=5).df


# =====================================================================
# Training-data pipeline operators (BASELINE.json north star)
# =====================================================================

def q_text_metrics(spark, sf_dir):
    """text analysis: token stats / quality / lang-ID per document, agg by lang."""
    d = _t(spark, sf_dir, "documents")
    m = TX.text_metrics(d)
    return (m.aggregate(["lang"],
                        ["token_count", "uniq_token_count", "quality_score", "doc_id"],
                        ["sumint", "sumint", "sumdec6", "get_array_len"])
             .rename("token_count:sumint", "tokens")
             .rename("uniq_token_count:sumint", "uniq_tokens")
             .rename("quality_score:sumdec6", "quality_sum")
             .rename("doc_id:get_array_len", "n_docs")
             .df)


def q_token_estimate(spark, sf_dir):
    """BPE-ish token counting (text.token_estimates): GPT-2-style
    pre-tokenizer pieces + a ceil(len/4)-per-piece subword estimate —
    the LLM-budget complement to the whitespace token_count. Map-side
    pure SQL, identical lookahead-free regex in Java regex and RE2."""
    d = _t(spark, sf_dir, "documents")
    return (TX.token_estimates(d).df
            .select("doc_id", "pretoken_count", "token_estimate"))


def _sql_token_estimate() -> str:
    ex = TX.token_estimate_exprs("duckdb")
    return (f"SELECT doc_id, {ex['pretoken_count']} AS pretoken_count, "
            f"{ex['token_estimate']} AS token_estimate FROM documents")


SQL_TEXT_METRICS = f"""
SELECT lang,
       CAST(SUM(CAST({TX.metric_sql('duck', 'token_count')} AS BIGINT)) AS BIGINT) AS tokens,
       CAST(SUM(CAST({TX.metric_sql('duck', 'uniq_token_count')} AS BIGINT)) AS BIGINT)
           AS uniq_tokens,
       CAST(SUM(CAST({TX.metric_sql('duck', 'quality_score')} AS DECIMAL(18,6))) AS DOUBLE)
           AS quality_sum,
       COUNT(*) AS n_docs
FROM documents GROUP BY lang
"""


def q_text_quality_filter(spark, sf_dir):
    """quality scoring as a filter (training-data curation shape)."""
    d = _t(spark, sf_dir, "documents")
    m = TX.text_metrics(d, metrics=["token_count", "quality_score"])
    return (m.where("quality_score >= 0.55 AND token_count >= 20")
             .select(["doc_id", "lang", "quality_score"])
             .df)


SQL_TEXT_QUALITY = f"""
SELECT doc_id, lang, {TX.metric_sql('duck', 'quality_score')} AS quality_score
FROM documents
WHERE {TX.metric_sql('duck', 'quality_score')} >= 0.55
  AND {TX.metric_sql('duck', 'token_count')} >= 20
"""


def q_lang_id(spark, sf_dir):
    """language-ID heuristic vs labeled lang."""
    d = _t(spark, sf_dir, "documents")
    m = TX.text_metrics(d, metrics=["lang_guess"])
    return (m.aggregate(["lang", "lang_guess"], ["doc_id"], ["get_array_len"])
             .rename("doc_id:get_array_len", "n")
             .df)


SQL_LANG_ID = f"""
SELECT lang, {TX.metric_sql('duck', 'lang_guess')} AS lang_guess, COUNT(*) AS n
FROM documents GROUP BY 1, 2
"""


def q_fingerprint(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return TX.fingerprint(d).select(["doc_id", "fingerprint"]).df


SQL_FINGERPRINT = f"""
SELECT doc_id, {TX.fingerprint_sql_duck()} AS fingerprint FROM documents
"""


def q_dedup_exact(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return DD.dedup_exact(d, ["text"]).select(["doc_id", "dup_count"]).df


SQL_DEDUP_EXACT = """
SELECT MIN(doc_id) AS doc_id, COUNT(*) AS dup_count FROM documents GROUP BY text
"""


def q_duplicate_spans(spark, sf_dir):
    """Exact duplicate-span stats (operators/dedup.duplicate_span_stats):
    per document, the fraction covered by token 8-grams that also occur in
    another document — the distributed form of Lee et al. 2022 exact
    substring dedup. One partial-agg shuffle on 60-bit span keys (min<>max
    distinct-doc test, no countDistinct Expand), semi-join back, window
    coverage over hit rows only."""
    d = _t(spark, sf_dir, "documents")
    return DD.duplicate_span_stats(d, n=8).df


def q_remove_dup_spans(spark, sf_dir):
    """Exact substring-dedup REMOVAL (dedup.remove_duplicate_spans): each
    cross-doc duplicated 8-gram keeps its occurrence in the min-id owner
    doc; covered tokens are stripped elsewhere. The owner falls out of the
    same min/max partial aggregate that detects duplication; the token
    filter is n map lookups per token, map-side."""
    d = _t(spark, sf_dir, "documents")
    return (DD.remove_duplicate_spans(d, n=8).df
            .select("doc_id", "text", "removed_tokens"))


SQL_REMOVE_DUP_SPANS_WRAP = """
SELECT doc_id, text, removed_tokens FROM ({inner})
"""


def q_ngram_jaccard(spark, sf_dir):
    """exact n-gram Jaccard near-dup pairs (≥2 shared shingles)."""
    d = _t(spark, sf_dir, "documents")
    return DD.ngram_jaccard_pairs(d, min_shared=2).df


def _sql_ngram_jaccard() -> str:
    n = DD.SHINGLE_N
    gram = "concat_ws(' ', " + ", ".join(f"t[i + {j}]" for j in range(n)) + ")"
    return f"""
WITH toks AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(text, ' +'), x -> x != '') AS t
  FROM documents),
docsh0 AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(t) >= {n}
           THEN list_transform(range(1, len(t) - {n - 2}), i -> {gram})
           ELSE [text] END) AS sh
  FROM toks),
docsh AS (SELECT doc_id, unnest(sh) AS s, len(sh) AS n FROM docsh0),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb,
         COUNT(*) AS shared
  FROM docsh a JOIN docsh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4)
SELECT id_a, id_b, shared,
       ROUND(CAST(shared AS DOUBLE) / (na + nb - shared), 6) AS jaccard
FROM pairs WHERE shared >= 2
"""


def q_minhash_signatures(spark, sf_dir):
    """MinHash signatures (k=8) — the exact-checkable core of LSH dedup."""
    d = _t(spark, sf_dir, "documents")
    return (DD.minhash_signatures(d)
            .select(["doc_id"] + [f"mh_{j}" for j in range(DD.NUM_HASHES)])
            .df)


def _sql_minhash() -> str:
    sh = DD.shingles_expr("duck")
    cols = ", ".join(f"{e} AS mh_{j}"
                     for j, e in enumerate(DD.minhash_exprs("duck", sh)))
    return f"SELECT doc_id, {cols} FROM documents"


def q_simhash(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return DD.simhash(d).select(["doc_id", "simhash"]).df


def _sql_simhash() -> str:
    return f"SELECT doc_id, {DD.simhash_expr('duck')} AS simhash FROM documents"


def q_cosine_topk(spark, sf_dir):
    """brute-force cosine top-k similarity search."""
    e = _t(spark, sf_dir, "embeddings")
    q = OmigoDF(e.df.where("vec_id < 3"))
    c = OmigoDF(e.df.where("vec_id >= 3"))
    return SIM.cosine_topk(c, q, k=5).df


def _sql_cosine_topk() -> str:
    cos = SIM.cosine_sql_duck("c.embedding", "q.embedding")
    ok = SIM.screen_sql_duck("embedding")
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings
           WHERE vec_id < 3 AND {ok}),
c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 3 AND {ok}),
s AS (SELECT q.query_id, c.vec_id, ROUND({cos}, 6) AS cosine FROM c, q),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id) AS rank FROM s)
SELECT query_id, vec_id, CAST(rank AS BIGINT) AS rank, cosine FROM r WHERE rank <= 5
"""


def _sql_similarity_lsh() -> str:
    """Oracle for the multi-table hyperplane LSH ANN: the plane constants
    are inlined (sum-of-products in the same left-to-right float order as
    the engine's dim-sequential bucket UDF), multiprobe = 1-bit flips per
    table, exact-cosine re-rank of the candidate union."""
    NP, NT = SIM.NUM_PLANES, SIM.NUM_TABLES

    def bucket(t: int) -> str:
        bits = []
        for p in range(NP):
            w = SIM.HYPERPLANES[t * NP + p]
            dot = " + ".join(f"(v[{i + 1}] * {w[i]:.17e})" for i in range(64))
            bits.append(f"(CASE WHEN ({dot}) >= 0 THEN {1 << p} ELSE 0 END)")
        return f"({t << NP} + " + " + ".join(bits) + ")"

    buckets = "[" + ", ".join(bucket(t) for t in range(NT)) + "]"
    flips = ", ".join(f"xor(b0, {1 << p})" for p in range(NP))
    cos = SIM.cosine_sql_duck("ce.embedding", "qe.embedding")
    return f"""
WITH vb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            WHERE {SIM.screen_sql_duck("embedding")}),
bk AS (SELECT vec_id, {buckets} AS bs FROM vb),
cb AS (SELECT vec_id, unnest(bs) AS b FROM bk WHERE vec_id >= 3),
qb AS (SELECT vec_id AS query_id, unnest(bs) AS b0 FROM bk WHERE vec_id < 3),
qp AS (SELECT query_id, unnest([b0, {flips}]) AS b FROM qb),
cand AS (SELECT DISTINCT q.query_id, c.vec_id FROM qp q JOIN cb c ON q.b = c.b),
s AS (SELECT cand.query_id, cand.vec_id, ROUND({cos}, 6) AS cosine
      FROM cand
      JOIN embeddings ce ON ce.vec_id = cand.vec_id
      JOIN embeddings qe ON qe.vec_id = cand.query_id),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id) AS rank FROM s)
SELECT query_id, vec_id, CAST(rank AS BIGINT) AS rank, cosine FROM r WHERE rank <= 5
"""


def q_similarity_ivf(spark, sf_dir):
    """IVF-flat ANN: deterministic seed centroids (lowest corpus ids),
    map-side list assignment, nprobe-list probe + exact re-rank."""
    e = _t(spark, sf_dir, "embeddings")
    q = OmigoDF(e.df.where("vec_id < 3"))
    c = OmigoDF(e.df.where("vec_id >= 3"))
    return SIM.cosine_topk_ivf(c, q, k=5).df


def _sql_similarity_ivf() -> str:
    cos_ec = SIM.cosine_sql_duck("e.embedding", "c.c_vec")
    cos_aq = SIM.cosine_sql_duck("a.embedding", "p.embedding")
    C, NP = SIM.IVF_CENTROIDS, SIM.IVF_NPROBE
    ok = SIM.screen_sql_duck("embedding")
    # seeds, lists and probes all pass the one screen (ivf_centroids
    # seeds through _vec_side)
    return f"""
WITH corp AS (SELECT vec_id, embedding FROM embeddings
              WHERE vec_id >= 3 AND {ok}),
q AS (SELECT vec_id AS query_id, embedding FROM embeddings
      WHERE vec_id < 3 AND {ok}),
cent AS (SELECT vec_id AS c_id, embedding AS c_vec FROM corp
         ORDER BY vec_id LIMIT {C}),
ca AS (SELECT e.vec_id, e.embedding, c.c_id,
              row_number() OVER (PARTITION BY e.vec_id
                                 ORDER BY ROUND({cos_ec}, 6) DESC, c.c_id) AS rn
       FROM corp e CROSS JOIN cent c),
assign AS (SELECT vec_id, embedding, c_id AS list_id FROM ca WHERE rn = 1),
qa AS (SELECT e.query_id, e.embedding, c.c_id,
              row_number() OVER (PARTITION BY e.query_id
                                 ORDER BY ROUND({cos_ec}, 6) DESC, c.c_id) AS rn
       FROM q e CROSS JOIN cent c),
probes AS (SELECT query_id, embedding, c_id FROM qa WHERE rn <= {NP}),
s AS (SELECT p.query_id, a.vec_id, ROUND({cos_aq}, 6) AS cosine
      FROM probes p JOIN assign a ON a.list_id = p.c_id),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id) AS rank FROM s)
SELECT query_id, vec_id, CAST(rank AS BIGINT) AS rank, cosine FROM r WHERE rank <= 5
"""


def q_embedding_near_dup(spark, sf_dir):
    """embedding-cosine near-dup pairs, exact self-comparison baseline
    (method='exact' pinned: this is the oracle-checkable correctness
    query; the operator's default is the LSH scale path)."""
    e = _t(spark, sf_dir, "embeddings")
    return DD.embedding_dup_pairs(e, threshold=0.4, method="exact").df


def _sql_embedding_near_dup() -> str:
    cos = SIM.cosine_sql_duck("a.embedding", "b.embedding")
    return f"""
WITH p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, ROUND({cos}, 6) AS cosine
           FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
SELECT id_a, id_b, cosine FROM p
WHERE cosine >= 0.4 AND (cosine - cosine) = 0  -- NaN cosine (corrupt side) never pairs
"""


def q_dedup_embedding(spark, sf_dir):
    """corpus after dropping the higher id of each embedding near-dup pair.
    Exact method pinned (this data's near-dups sit at cosine ~0.4-0.5,
    below the hyperplane-LSH recall zone tuned for >=0.9 dups); the
    operator's default is the method='lsh' scale path, unit-tested in
    tests/test_operators.py."""
    e = _t(spark, sf_dir, "embeddings")
    return (DD.dedup_embedding(e, threshold=0.4, method="exact")
            .df.select("vec_id", "label"))


def q_hash_embeddings(spark, sf_dir):
    """signed feature-hash text embeddings (hashing trick, Weinberger et
    al. 2009) — the model-free documents→embeddings bridge; exploded to
    (doc_id, idx, val) scalars for exact hash comparison."""
    d = _t(spark, sf_dir, "documents")
    out = SIM.hash_embeddings(d, dim=64)
    return (out.df
            .select("doc_id", F.posexplode("embedding").alias("idx", "val"))
            .select("doc_id", "idx", F.round("val", 6).alias("val")))


def _sql_hash_embeddings() -> str:
    hs = SIM.hash_embed_hs_sql_duck(dim=64)
    vec = SIM.hash_embed_vec_sql_duck("hs", dim=64)
    return f"""
WITH h AS (SELECT doc_id, {hs} AS hs FROM documents),
v AS (SELECT doc_id, {vec} AS vec FROM h)
SELECT doc_id, CAST(generate_subscripts(vec, 1) - 1 AS INT) AS idx,
       ROUND(unnest(vec), 6) AS val
FROM v
"""


def q_kmeans_clusters(spark, sf_dir):
    """bit-reproducible spherical k-means (k=8, 2 Lloyd rounds) over the
    embeddings: trained centroids are checkable because the update step
    sums BIGINT micro-units (order-independent) instead of floats. The
    oracle re-derives BOTH training iterations in unrolled SQL."""
    e = _t(spark, sf_dir, "embeddings")
    cents = SIM.kmeans_centroids(e, k=8, iters=2)
    return (SIM.kmeans_assign(e, cents)
            .select(["vec_id", "cluster_id", "cluster_cos"]).df)


def _sql_kmeans_clusters() -> str:
    cte, fin = SIM.kmeans_cents_cte_duck(k=8, iters=2)
    cos = SIM.cosine_sql_duck("e.v", "c.c_vec")
    return f"""
WITH {cte},
fa AS (SELECT e.vid, c.c_id, ROUND({cos}, 6) AS cc,
       row_number() OVER (PARTITION BY e.vid
                          ORDER BY ROUND({cos}, 6) DESC, c.c_id) AS rn
       FROM km_pts e CROSS JOIN {fin} c)
SELECT vid AS vec_id, c_id AS cluster_id, cc AS cluster_cos FROM fa WHERE rn = 1
"""


def q_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): k-means-bounded semantic near-dup
    removal — pairwise cosine within clusters only (~n²/k work), greedy
    keep-lowest-id. Trained end-to-end in-query (the bit-reproducible
    trainer makes the full pipeline oracle-checkable); threshold 0.4
    because this data's near-dups sit at cosine ~0.4-0.5."""
    e = _t(spark, sf_dir, "embeddings")
    return (DD.semdedup(e, threshold=0.4, num_clusters=8, iters=2)
            .select(["vec_id", "label", "cluster_id"]).df)


def _sql_semdedup() -> str:
    cte, fin = SIM.kmeans_cents_cte_duck(k=8, iters=2)
    cos = SIM.cosine_sql_duck("e.v", "c.c_vec")
    paircos = SIM.cosine_sql_duck("g.v", "f.v")
    return f"""
WITH {cte},
fa AS (SELECT e.vid, e.v, c.c_id,
       row_number() OVER (PARTITION BY e.vid
                          ORDER BY ROUND({cos}, 6) DESC, c.c_id) AS rn
       FROM km_pts e CROSS JOIN {fin} c),
fin_asg AS (SELECT vid, v, c_id FROM fa WHERE rn = 1),
dups AS (SELECT DISTINCT f.vid
         FROM fin_asg f JOIN fin_asg g
           ON g.c_id = f.c_id AND g.vid < f.vid
         WHERE ROUND({paircos}, 6) >= 0.4
           AND ({paircos} - ({paircos})) = 0)
SELECT f.vid AS vec_id, emb.label, f.c_id AS cluster_id
FROM fin_asg f JOIN embeddings emb ON emb.vec_id = f.vid
WHERE f.vid NOT IN (SELECT vid FROM dups)
"""


def q_quantiles(spark, sf_dir):
    """exact quantile aggregate (reference udfs.quantile — numpy quantiles
    at arange(0,1,0.25) as a 4-decimal CSV string, udfs.py:227-244)."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.aggregate(["l_returnflag"], ["l_quantity"], ["quantile"])
              .rename("l_quantity:quantile", "q").df)


def q_quantile_grid(spark, sf_dir):
    """quantile4/quantile10 grid aggregates (reference udfs.py:241-248 —
    numpy quantiles at arange(0,1,by) formatted to 4 decimals). Native
    F.percentile expression; the grid reproduces the reference's
    float-accumulating loop (11 points for by=1/10)."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.aggregate(["l_returnflag"], ["l_quantity", "l_extendedprice"],
                         ["quantile4", "quantile10"])
              .rename("l_quantity:quantile4", "q4")
              .rename("l_extendedprice:quantile10", "q10").df)


def q_failsafe_aggs(spark, sf_dir):
    """empty-string-skipping failsafe aggregates (reference udfs.py:155-193)
    over a column with all-empty groups, derived through the transform
    lambda extension point with a udfs scalar (if_else_str)."""
    from omigo_data_analytics_spark.functions import udfs
    d = _t(spark, sf_dir, "documents")
    return (d.transform(["lang", "source"],
                        lambda l, s: udfs.if_else_str(l, "en", "", s), "src_m")
             .aggregate(["lang"], ["src_m", "src_m", "n_chars"],
                        ["maxstr_failsafe", "minstr_failsafe", "minint_failsafe"])
             .rename("src_m:maxstr_failsafe", "smax")
             .rename("src_m:minstr_failsafe", "smin")
             .rename("n_chars:minint_failsafe", "nmin").df)


SQL_FAILSAFE_AGGS = """
WITH t AS (SELECT lang, CASE WHEN lang = 'en' THEN '' ELSE source END AS src_m,
                  n_chars
           FROM documents)
SELECT lang, max(nullif(src_m, '')) AS smax, min(nullif(src_m, '')) AS smin,
       min(n_chars) AS nmin
FROM t GROUP BY lang
"""


def _py_arange(by):
    qs, cur = [], 0.0
    while cur < 1.0:
        qs.append(cur)
        cur += by
    return qs


SQL_QUANTILE_GRID = f"""
SELECT l_returnflag,
       list_aggr(list_transform(quantile_cont(l_quantity, {_py_arange(0.25)!r}),
                                v -> printf('%.4f', v)), 'string_agg', ',') AS q4,
       list_aggr(list_transform(quantile_cont(l_extendedprice, {_py_arange(1 / 10)!r}),
                                v -> printf('%.4f', v)), 'string_agg', ',') AS q10
FROM lineitem GROUP BY l_returnflag
"""


SQL_QUANTILES = """
SELECT l_returnflag,
       list_aggr(list_transform(quantile_cont(l_quantity, [0.0, 0.25, 0.5, 0.75]),
                                v -> printf('%.4f', v)),
                 'string_agg', ',') AS q
FROM lineitem GROUP BY l_returnflag
"""


def q_uniq_mkstr(spark, sf_dir):
    """uniq_mkstr: cells are ','-lists — split on ',', drop blank tokens,
    uniq, sort, rejoin (reference udfs.py:47-54). The input cell is built as
    'NAME,,NAME' so splitting, blank-filtering, and dedup are all exercised."""
    n = _t(spark, sf_dir, "nation")
    return (n.add_const("tpl", "{n_name},,{n_name}")
             .resolve_template_col("tpl", "cell")
             .aggregate(["n_regionkey"], ["cell"], ["uniq_mkstr"])
             .rename("cell:uniq_mkstr", "names").df)


SQL_UNIQ_MKSTR = """
WITH t AS (SELECT n_regionkey, n_name || ',,' || n_name AS cell FROM nation)
SELECT n_regionkey,
       array_to_string(list_sort(list_distinct(flatten(list(
           list_filter(string_split(cell, ','), x -> trim(x) <> ''))))), ',') AS names
FROM t GROUP BY n_regionkey
"""


def q_read_tsv_intersect(spark, sf_dir):
    """Multi-path TSV read with do_union=False: row-concat keeping common
    columns (reference hydra.py:49-61 -> dfutils.merge intersect semantics,
    NOT a cross join). Round-trips two schema-divergent TSV parts of
    nation through the TSV sink/source."""
    import tempfile

    from omigo_data_analytics_spark.sources import io as IO

    n = _t(spark, sf_dir, "nation")
    tmp = tempfile.mkdtemp(prefix="omigo_q_io_")
    a = n.where("n_nationkey < 13").select(["n_nationkey", "n_name", "n_regionkey"])
    b = (n.where("n_nationkey >= 13")
          .select(["n_nationkey", "n_name"])
          .add_const("part_tag", "b"))
    IO.write(a, f"{tmp}/a")
    IO.write(b, f"{tmp}/b")
    out = IO.read(spark, [f"{tmp}/a", f"{tmp}/b"], do_union=False)
    return out.to_int("n_nationkey").df


SQL_READ_TSV_INTERSECT = """
SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name FROM nation
"""


def q_read_text_roundtrip(spark, sf_dir):
    """Raw-text corpus ingestion round-trip (sources/io.py read_text /
    write_text, r10 ingestion widening beyond the reference's
    delimited-only source list — hydra.py:49-61 reads TSV only): export
    nation names as a plain .txt corpus (one document per line), re-read
    line-mode, and profile the corpus by first letter. The oracle
    recomputes from the parquet the lines came from, so the round-trip
    must be lossless."""
    import tempfile

    from omigo_data_analytics_spark.sources import io as IO

    n = _t(spark, sf_dir, "nation")
    tmp = tempfile.mkdtemp(prefix="omigo_q_rawtext_")
    IO.write_text(n.select(["n_name"]), f"{tmp}/corpus", text_col="n_name")
    lines = IO.read_text(spark, f"{tmp}/corpus")
    return (lines.df
            .groupBy(F.length("text").alias("line_len"))
            .agg(F.count(F.lit(1)).alias("n_lines"),
                 F.sum(F.length("text")).alias("total_chars"),
                 F.min("text").alias("first_line"),
                 F.max("text").alias("last_line"))
            .orderBy("line_len"))


SQL_READ_TEXT_ROUNDTRIP = """
SELECT CAST(length(n_name) AS INTEGER) AS line_len,
       COUNT(*) AS n_lines,
       CAST(SUM(length(n_name)) AS BIGINT) AS total_chars,
       MIN(n_name) AS first_line,
       MAX(n_name) AS last_line
FROM nation GROUP BY 1 ORDER BY 1
"""


def q_read_xml_roundtrip(spark, sf_dir):
    """XML round-trip (sources/io.py read_xml / write_xml, Spark 4
    built-in xml source — r10 ingestion widening): write nation as
    <nation> row elements, re-read with schema inference, join back to
    the region parquet and count nations per region. Proves the XML
    sink/source preserve values AND that the inferred-schema frame
    composes with ordinary relational operators."""
    import tempfile

    from omigo_data_analytics_spark.sources import io as IO

    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    tmp = tempfile.mkdtemp(prefix="omigo_q_xml_")
    IO.write_xml(n.select(["n_nationkey", "n_name", "n_regionkey"]),
                 f"{tmp}/nation", row_tag="nation")
    back = IO.read_xml(spark, f"{tmp}/nation", row_tag="nation")
    return (back.df
            .join(F.broadcast(r.df),
                  back.df["n_regionkey"] == r.df["r_regionkey"])
            .groupBy("r_name")
            .agg(F.count(F.lit(1)).alias("n_nations"),
                 F.min("n_name").alias("first_nation"))
            .orderBy("r_name"))


SQL_READ_XML_ROUNDTRIP = """
SELECT r_name, COUNT(*) AS n_nations, MIN(n_name) AS first_nation
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY r_name
"""


def q_etl_date_scan(spark, sf_dir):
    """Date-partitioned scan with partition pruning (reference
    etl.scan_by_datetime_range, omigo_hydra/etl.py:24-210): write orders
    partitioned by a derived dt=yyyymmdd of o_orderdate, scan a 1-week
    range back — out-of-range date directories are never listed or read
    (PartitionFilters in the plan, asserted in tests/test_sources.py)."""
    import tempfile

    from omigo_data_analytics_spark.sources import etl as ETL
    from omigo_data_analytics_spark.sources.io import write_parquet

    o = _t(spark, sf_dir, "orders")
    # one month of partitions (a ~2400-partition write would be a
    # tiny-files benchmark of the filesystem, not of pruning: the scan
    # still proves 7-of-31 directories pruned)
    tagged = OmigoDF(o.df
                     .where("o_orderdate >= date'1995-01-01' "
                            "AND o_orderdate < date'1995-02-01'")
                     .withColumn("dt", F.date_format("o_orderdate", "yyyyMMdd")))
    tmp = tempfile.mkdtemp(prefix="omigo_q_etl_")
    write_parquet(tagged, tmp, partition_by=["dt"])
    out = ETL.scan_by_datetime_range(spark, tmp, "1995-01-01", "1995-01-07")
    return (out.aggregate(["dt"], ["o_orderkey", "o_totalprice"],
                          ["uniq_count", "sumdec"])
               .rename("o_orderkey:uniq_count", "n_orders")
               .rename("o_totalprice:sumdec", "total")
               .to_int("dt").df)


SQL_ETL_DATE_SCAN = f"""
SELECT CAST(strftime(o_orderdate, '%Y%m%d') AS BIGINT) AS dt,
       COUNT(DISTINCT o_orderkey) AS n_orders,
       {_dsum('o_totalprice')} AS total
FROM orders
WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-01-08'
GROUP BY 1
"""


def q_timefuncs_ladder(spark, sf_dir):
    """timefuncs format-sniffing ladder (reference timefuncs.py:7-81) as a
    UDF-free coalesce: render events.ts as three string shapes (19-char
    ISO, 10-digit epoch, 24-char ISO-millis-Z), re-sniff each back, and
    aggregate only rows where every shape recovers the true epoch."""
    ev = _t(spark, sf_dir, "events")
    df = ev.df.select(
        "event_type",
        F.unix_timestamp("ts").alias("true_sec"),
        F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 1000).alias("true_ms"),
        TFN.to_utctimestamp_sec(
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss")).alias("sec_iso"),
        TFN.to_utctimestamp_sec(
            F.unix_timestamp("ts").cast("string")).alias("sec_epoch"),
        TFN.to_utctimestamp_millis(
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")).alias("ms_isoz"))
    ok = df.where((F.col("sec_iso") == F.col("true_sec"))
                  & (F.col("sec_epoch") == F.col("true_sec"))
                  & (F.col("ms_isoz") == F.col("true_ms")))
    return (ok.groupBy("event_type")
              .agg(F.count(F.lit(1)).alias("n_match"),
                   F.min("sec_iso").alias("min_sec"),
                   F.max("ms_isoz").alias("max_ms")))


SQL_TIMEFUNCS_LADDER = """
SELECT event_type, COUNT(*) AS n_match,
       MIN(CAST(floor(epoch(ts)) AS BIGINT)) AS min_sec,
       MAX(epoch_ms(ts)) AS max_ms
FROM events GROUP BY event_type
"""


def q_time_diffs(spark, sf_dir):
    """get_time_diffs aggregate (reference funclib.py:208-238): formatted
    consecutive deltas ('30s,2m,2h') of each group's sorted timestamps,
    compiled to a native collect_list/array_sort/transform expression."""
    ev = _t(spark, sf_dir, "events")
    sub = OmigoDF(ev.df.where("event_id % 97 = 0"))
    return (sub.aggregate(["event_type"], ["ts"], ["get_time_diffs"])
               .rename("ts:get_time_diffs", "diffs").df)


SQL_TIME_DIFFS = """
WITH t AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS sec
           FROM events WHERE event_id % 97 = 0),
g AS (SELECT event_type, list_sort(list(sec)) AS arr FROM t GROUP BY event_type)
SELECT event_type,
  CASE WHEN len(arr) <= 1 THEN '' ELSE
  array_to_string(list_transform(range(1, len(arr)), i ->
    CASE
      WHEN arr[i+1]-arr[i] < 60 THEN (arr[i+1]-arr[i])::VARCHAR || 's'
      WHEN arr[i+1]-arr[i] < 3600 THEN ((arr[i+1]-arr[i])//60)::VARCHAR || 'm'
      WHEN arr[i+1]-arr[i] < 86400 THEN ((arr[i+1]-arr[i])//3600)::VARCHAR || 'h'
      WHEN arr[i+1]-arr[i] < 2592000 THEN ((arr[i+1]-arr[i])//86400)::VARCHAR || 'd'
      ELSE (arr[i+1]-arr[i])::VARCHAR || ':s' END), ',') END AS diffs
FROM g
"""


def q_string_aggs(spark, sf_dir):
    """The realigned string-aggregate family on cells with commas and
    blanks (reference udfs.py:35-219): split_merge_uniq_mkstr /
    merge_uniq (keeps empty tokens) / sorted_mkstr (drops blank values) /
    get_non_empty_len / uniq_count."""
    from omigo_data_analytics_spark.functions import udfs
    n = _t(spark, sf_dir, "nation")
    t = (n.add_const("tpl", "{n_name},,{n_name}")
          .resolve_template_col("tpl", "cell")
          .transform(["n_regionkey", "n_name"],
                     lambda rk, nm: udfs.if_else_str(rk, "0", "", nm), "mval"))
    return (t.aggregate(["n_regionkey"],
                        ["cell", "cell", "mval", "mval", "mval"],
                        ["split_merge_uniq_mkstr", "merge_uniq", "sorted_mkstr",
                         "get_non_empty_len", "uniq_count"])
             .rename("cell:split_merge_uniq_mkstr", "smu")
             .rename("cell:merge_uniq", "mu")
             .rename("mval:sorted_mkstr", "smk")
             .rename("mval:get_non_empty_len", "nne")
             .rename("mval:uniq_count", "ucnt").df)


SQL_STRING_AGGS = """
WITH t AS (SELECT n_regionkey, n_name || ',,' || n_name AS cell,
                  CASE WHEN n_regionkey = 0 THEN '' ELSE n_name END AS mval
           FROM nation)
SELECT n_regionkey,
  array_to_string(list_sort(list_distinct(flatten(list(
      list_filter(string_split(cell, ','), x -> trim(x) <> ''))))), ',') AS smu,
  array_to_string(list_sort(list_distinct(flatten(list(
      string_split(cell, ','))))), ',') AS mu,
  array_to_string(list_sort(list(mval) FILTER (trim(mval) <> '')), ',') AS smk,
  CAST(COUNT(*) FILTER (trim(mval) <> '') AS BIGINT) AS nne,
  CAST(COUNT(DISTINCT mval) FILTER (trim(mval) <> '') AS BIGINT) AS ucnt
FROM t GROUP BY n_regionkey
"""


def q_merge_intersect(spark, sf_dir):
    """merge_intersect: schema-evolving union keeping common columns
    (reference dfutils.py:92-185)."""
    o = _t(spark, sf_dir, "orders")
    a = o.select(["o_orderkey", "o_custkey", "o_totalprice"]).take(100)
    b = o.select(["o_orderkey", "o_custkey", "o_orderpriority"]).skip_rows(100).take(100)
    return a.merge_intersect([b]).df


SQL_MERGE_INTERSECT = """
WITH o AS (SELECT * FROM orders ORDER BY o_orderkey LIMIT 200)
SELECT o_orderkey, o_custkey FROM o
"""


def q_resolve_template(spark, sf_dir):
    """resolve_template_col: '{col}' interpolation from row values
    (reference dataframe.py:5321-5381)."""
    n = _t(spark, sf_dir, "nation")
    return (n.add_const("tpl", "{n_name} sits in region {n_regionkey}")
             .resolve_template_col("tpl", "blurb")
             .select(["n_nationkey", "blurb"]).df)


SQL_RESOLVE_TEMPLATE = """
SELECT n_nationkey,
       n_name || ' sits in region ' || CAST(n_regionkey AS VARCHAR) AS blurb
FROM nation
"""


def q_minmax_range(spark, sf_dir):
    """min/max/range aggregate family incl. failsafe variants."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.aggregate(["l_linestatus"],
                         ["l_quantity", "l_quantity", "l_quantity",
                          "l_extendedprice", "l_extendedprice"],
                         ["minint", "maxint", "get_range_int",
                          "minfloat", "maxfloat_failsafe"])
              .rename("l_quantity:minint", "qmin")
              .rename("l_quantity:maxint", "qmax")
              .rename("l_quantity:get_range_int", "qrange")
              .rename("l_extendedprice:minfloat", "pmin")
              .rename("l_extendedprice:maxfloat_failsafe", "pmax").df)


SQL_MINMAX_RANGE = """
SELECT l_linestatus,
       MIN(TRY_CAST(trunc(l_quantity) AS BIGINT)) AS qmin,
       MAX(TRY_CAST(trunc(l_quantity) AS BIGINT)) AS qmax,
       MAX(TRY_CAST(trunc(l_quantity) AS BIGINT))
         - MIN(TRY_CAST(trunc(l_quantity) AS BIGINT)) AS qrange,
       MIN(l_extendedprice) AS pmin,
       MAX(l_extendedprice) AS pmax
FROM lineitem GROUP BY l_linestatus
"""


# =====================================================================
# UDF surface / SQL / sampling / stats / streaming
# =====================================================================

def q_group_by_key(spark, sf_dir):
    """group_by_key generalized UDAF via applyInPandas (reference
    dataframe.py:732-872): dict-in/dict-out per group."""
    li = _t(spark, sf_dir, "lineitem")

    def qstats(rows):
        if not rows:
            return {"n": "", "qmax": ""}
        qs = [float(r["l_quantity"]) for r in rows]
        return {"n": str(len(qs)), "qmax": str(int(max(qs)))}

    return li.group_by_key(["l_returnflag"], ["l_quantity"], qstats,
                           suffix="stats").df


SQL_GROUP_BY_KEY = """
SELECT l_returnflag,
       CAST(COUNT(*) AS VARCHAR) AS "n:stats",
       CAST(CAST(floor(MAX(l_quantity)) AS INT) AS VARCHAR) AS "qmax:stats"
FROM lineitem GROUP BY l_returnflag
"""


def q_explode_udtf(spark, sf_dir):
    """generic explode UDTF (reference dataframe.py:4167-4290): python
    func dict -> list[dict], one output row per emitted dict."""
    p = _t(spark, sf_dir, "part")

    def words(d):
        return [{"word": w, "pos": str(i)}
                for i, w in enumerate(d["p_type"].split(" "))]

    return (p.select(["p_partkey", "p_type"])
             .explode_udtf(["p_type"], words, prefix="e",
                           out_keys=["word", "pos"]).df)


SQL_EXPLODE_UDTF = """
WITH x AS (SELECT p_partkey, string_split(p_type, ' ') AS ws FROM part),
y AS (SELECT p_partkey,
             unnest(list_transform(range(1, len(ws) + 1),
                                   i -> {'w': ws[i], 'p': i - 1})) AS u
      FROM x)
SELECT p_partkey, u.w AS "e:word", CAST(u.p AS VARCHAR) AS "e:pos" FROM y
"""


def q_flatmap(spark, sf_dir):
    """flatmap: per-value list expansion to rows (reference
    dataframe.py:4820-4845)."""
    o = _t(spark, sf_dir, "orders")
    return (o.select(["o_orderkey", "o_orderpriority"])
             .flatmap("o_orderpriority", lambda v: v.split("-"), "piece").df)


SQL_FLATMAP = """
SELECT o_orderkey, o_orderpriority,
       unnest(string_split(o_orderpriority, '-')) AS piece
FROM orders
"""


def q_transform_lambda(spark, sf_dir):
    """n-ary python transform lambda -> multiple output cols (reference
    dataframe.py:1319-1472)."""
    n = _t(spark, sf_dir, "nation")
    return (n.transform(["n_name", "n_regionkey"],
                        lambda a, b: (a.lower(), str(len(a) + int(b))),
                        ["lower_name", "len_plus_region"])
             .select(["n_nationkey", "lower_name", "len_plus_region"]).df)


SQL_TRANSFORM_LAMBDA = """
SELECT n_nationkey, LOWER(n_name) AS lower_name,
       CAST(LENGTH(n_name) + n_regionkey AS VARCHAR) AS len_plus_region
FROM nation
"""


def q_sql_pushdown(spark, sf_dir):
    """execute_query SQL builder -> spark.sql (reference
    sql_helper.py:8-158)."""
    li = _t(spark, sf_dir, "lineitem")
    SQX.register_table(li, "lineitem_sql")
    return SQX.execute_query(
        spark,
        ["l_returnflag", _dsum_spark("l_quantity") + " AS qty"],
        "lineitem_sql", where="l_linestatus = 'F'",
        group_by="l_returnflag", having="COUNT(*) > 10",
        order_by="l_returnflag").df


def _dsum_spark(c: str) -> str:
    return f"CAST(SUM(CAST({c} AS DECIMAL(18,4))) AS DOUBLE)"


SQL_SQL_PUSHDOWN = f"""
SELECT l_returnflag, {_dsum('l_quantity')} AS qty
FROM lineitem WHERE l_linestatus = 'F'
GROUP BY l_returnflag HAVING COUNT(*) > 10
ORDER BY l_returnflag
"""


def q_sample_uniq_cap(spark, sf_dir):
    """sample_group_by_max_uniq_values_exact: cap distinct suppliers per
    returnflag (portable seeded-hash ranking — exactly checkable)."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.sample_group_by_max_uniq_values_exact(
                ["l_returnflag"], "l_suppkey", 10, seed=42)
              .select(["l_orderkey", "l_returnflag", "l_suppkey", "l_quantity"]).df)


def _sql_sample_uniq_cap() -> str:
    h = TX.hash_duck("concat_ws(chr(9), CAST(l_suppkey AS VARCHAR), '42')")
    return f"""
WITH pairs AS (SELECT DISTINCT l_returnflag, l_suppkey FROM lineitem),
rk AS (SELECT l_returnflag, l_suppkey,
              row_number() OVER (PARTITION BY l_returnflag
                                 ORDER BY {h}, l_suppkey) AS rn
       FROM pairs),
keep AS (SELECT l_returnflag, l_suppkey FROM rk WHERE rn <= 10)
SELECT l.l_orderkey, l.l_returnflag, l.l_suppkey, l.l_quantity
FROM lineitem l SEMI JOIN keep k
  ON l.l_returnflag = k.l_returnflag AND l.l_suppkey = k.l_suppkey
"""


def q_ttest(spark, sf_dir):
    """Welch t-test + KS between two slices (reference stats.py:5-39),
    via the fused do_ttest (operators/stats.py:140): one tagged
    aggregation over a shared checkpointed union gives both sides'
    moments+counts in 2 jobs (vs 7 for separate welch+ks), and the KS
    scan reuses the checkpointed union. Moments come from exact decimal
    sums, so the statistics are bit-deterministic and the oracle mirrors
    the arithmetic; p-values (erfc / Kolmogorov series, not expressible
    in DuckDB) stay on the operator but are excluded from the checked
    projection."""
    from pyspark.sql import types as T
    li = _t(spark, sf_dir, "lineitem")
    a = OmigoDF(li.df.where("l_returnflag = 'R'"))
    b = OmigoDF(li.df.where("l_returnflag = 'A'"))
    r = SS.do_ttest(a, b, "l_quantity", precision=None)
    row = {
        "n1": int(r["ttest_n1"]), "n2": int(r["ttest_n2"]),
        "mean1": float(r["ttest_mean1"]), "mean2": float(r["ttest_mean2"]),
        "var1": float(r["ttest_var1"]), "var2": float(r["ttest_var2"]),
        "t_stat": float(r["ttest_t_stat"]), "df": float(r["ttest_df"]),
        "d_stat": float(r["ks_d_stat"]),
    }
    schema = T.StructType(
        [T.StructField("n1", T.LongType()), T.StructField("n2", T.LongType())]
        + [T.StructField(f, T.DoubleType())
           for f in ("mean1", "mean2", "var1", "var2", "t_stat", "df", "d_stat")])
    return spark.createDataFrame([row], schema)


def _sql_ttest() -> str:
    mom = """SELECT COUNT(x) AS n,
       CAST(SUM(CAST(x AS DECIMAL(38,10))) AS DOUBLE) AS s1,
       CAST(SUM(CAST(x * x AS DECIMAL(38,10))) AS DOUBLE) AS s2 FROM {side}"""
    return f"""
WITH a AS (SELECT CAST(l_quantity AS DOUBLE) AS x FROM lineitem
           WHERE l_returnflag = 'R' AND l_quantity IS NOT NULL),
b AS (SELECT CAST(l_quantity AS DOUBLE) AS x FROM lineitem
      WHERE l_returnflag = 'A' AND l_quantity IS NOT NULL),
ma AS ({mom.format(side="a")}),
mb AS ({mom.format(side="b")}),
mo AS (SELECT ma.n AS n1, (ma.s1 / ma.n) AS m1,
              ((ma.s2 - (ma.n * (ma.s1 / ma.n)) * (ma.s1 / ma.n)) / (ma.n - 1)) AS v1,
              mb.n AS n2, (mb.s1 / mb.n) AS m2,
              ((mb.s2 - (mb.n * (mb.s1 / mb.n)) * (mb.s1 / mb.n)) / (mb.n - 1)) AS v2
       FROM ma, mb),
se AS (SELECT *, (v1 / n1 + v2 / n2) AS se2 FROM mo),
u AS (SELECT x, 1 AS s FROM a UNION ALL SELECT x, 2 AS s FROM b),
cdf AS (SELECT x,
               SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END)
                 OVER (ORDER BY x RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1,
               SUM(CASE WHEN s = 2 THEN 1 ELSE 0 END)
                 OVER (ORDER BY x RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c2
        FROM u),
ks AS (SELECT MAX(ABS(c1 / (SELECT n FROM ma) - c2 / (SELECT n FROM mb))) AS d FROM cdf)
SELECT n1, n2, m1 AS mean1, m2 AS mean2, v1 AS var1, v2 AS var2,
       ((m1 - m2) / sqrt(se2)) AS t_stat,
       ((se2 * se2) / (((v1 / n1) * (v1 / n1)) / (n1 - 1)
                       + ((v2 / n2) * (v2 / n2)) / (n2 - 1))) AS df,
       (SELECT d FROM ks) AS d_stat
FROM se
"""


def _file_stream(spark, sf_dir: str, table: str) -> DataFrame:
    """``{table}.parquet`` as a file-source stream. The schema comes
    through ``io.read_parquet``, whose cached inference submits no job on
    a table already loaded. The events stream carries ``ts`` as
    TIMESTAMP, which a watermark requires (``io.events_ts``)."""
    from omigo_data_analytics_spark.sources import io as IO
    schema = IO.read_parquet(spark, f"{sf_dir}/{table}.parquet").df.schema
    sdf = ST.file_source(spark, sf_dir, schema,
                         glob_filter=f"{table}.parquet")
    if table == "events":
        sdf = IO.events_ts(sdf).withColumn("ts", F.col("ts").cast("timestamp"))
    return sdf


def q_stream_window(spark, sf_dir):
    """Structured Streaming: file source over events -> watermarked 1-hour
    tumbling windows -> memory sink; oracle = the equivalent batch SQL."""
    sdf = _file_stream(spark, sf_dir, "events")
    agg = ST.windowed_aggregate(sdf, "ts", "1 hour", ["value"], ["sumdec"],
                                grouping_cols=["event_type"])
    name = "omigo_stream_window"
    q = (agg.writeStream.format("memory").queryName(name)
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(300)
    return (spark.sql(f"select * from {name}")
            .select("window_start", "event_type",
                    F.col("`value:sumdec`").alias("value_sum")))


SQL_STREAM_WINDOW = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
FROM events GROUP BY 1, 2
"""


# =====================================================================
# Time-series joins & sessions (operators/timeseries.py, new r04)
# =====================================================================

def q_asof_bucketed(spark, sf_dir):
    """Hot-key scale path of the backward as-of carry (r12): time-
    bucketed local carry + per-bucket running carry-in, hot_key_rows=1
    so every key routes through it (timeseries.py _asof_carry_bucketed).
    Same query and oracle as asof_join — the plans must agree exactly."""
    ev = _t(spark, sf_dir, "events").df
    left = OmigoDF(ev.where("event_type = 'purchase'")
                   .select("user_id", "event_id", "ts"))
    right = OmigoDF(ev.where("event_type = 'view'")
                    .groupBy("user_id", "ts")
                    .agg(F.max("event_id").alias("view_id")))
    out = TS.asof_join(left, right, on="user_id", left_time="ts",
                       suffix="v", time_buckets_sec=86400.0,
                       hot_key_rows=1)
    return out.df.select("user_id", "event_id",
                         F.col("v:view_id").alias("view_id"))


def q_asof_join(spark, sf_dir):
    """Backward as-of join: each purchase event gets the latest preceding
    view event of the same user (union + one window pass — not an
    inequality join). Oracle: DuckDB's native ASOF LEFT JOIN."""
    ev = _t(spark, sf_dir, "events").df
    left = OmigoDF(ev.where("event_type = 'purchase'")
                   .select("user_id", "event_id", "ts"))
    # dedupe right to one view per (user, ts): equal-timestamp rows have
    # no defined as-of winner, so both engines pick the same row
    right = OmigoDF(ev.where("event_type = 'view'")
                    .groupBy("user_id", "ts")
                    .agg(F.max("event_id").alias("view_id")))
    out = TS.asof_join(left, right, on="user_id", left_time="ts",
                       suffix="v")
    return out.df.select("user_id", "event_id",
                         F.col("v:view_id").alias("view_id"))


SQL_ASOF_JOIN = """
WITH p AS (SELECT user_id, event_id, ts FROM events
           WHERE event_type = 'purchase'),
v AS (SELECT user_id, ts, MAX(event_id) AS view_id FROM events
      WHERE event_type = 'view' GROUP BY 1, 2)
SELECT p.user_id, p.event_id, v.view_id
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
"""


def q_asof_nearest(spark, sf_dir):
    """Nearest as-of: each purchase matched to its closest view event
    (either direction, ties backward). Oracle: backward ASOF + forward
    ASOF on negated time, closer one wins."""
    ev = _t(spark, sf_dir, "events").df
    left = OmigoDF(ev.where("event_type = 'purchase'")
                   .select("user_id", "event_id", "ts"))
    right = OmigoDF(ev.where("event_type = 'view'")
                    .groupBy("user_id", "ts")
                    .agg(F.max("event_id").alias("view_id")))
    out = TS.asof_join(left, right, on="user_id", left_time="ts",
                       suffix="v", direction="nearest")
    return out.df.select("user_id", "event_id",
                         F.col("v:view_id").alias("view_id"))


def q_asof_nearest_bucketed(spark, sf_dir):
    """Hot-key scale path of the NEAREST as-of (r12 addendum-2 code,
    driver-gated r13): the forward carry is the backward bucketed helper
    on NEGATED time, then the closer-side pick — the subtlest reuse in
    the family, so it gets its own driver row. hot_key_rows=1 routes
    every key through the bucketed plan. Same query and oracle as
    asof_nearest — the plans must agree exactly."""
    ev = _t(spark, sf_dir, "events").df
    left = OmigoDF(ev.where("event_type = 'purchase'")
                   .select("user_id", "event_id", "ts"))
    right = OmigoDF(ev.where("event_type = 'view'")
                    .groupBy("user_id", "ts")
                    .agg(F.max("event_id").alias("view_id")))
    out = TS.asof_join(left, right, on="user_id", left_time="ts",
                       suffix="v", direction="nearest",
                       time_buckets_sec=86400.0, hot_key_rows=1)
    return out.df.select("user_id", "event_id",
                         F.col("v:view_id").alias("view_id"))


SQL_ASOF_NEAREST = """
WITH p AS (SELECT user_id, event_id, epoch(ts) AS t FROM events
           WHERE event_type = 'purchase'),
v AS (SELECT user_id, epoch(ts) AS t, MAX(event_id) AS view_id FROM events
      WHERE event_type = 'view' GROUP BY 1, 2),
b AS (SELECT p.user_id, p.event_id, p.t, v.view_id AS b_id, v.t AS b_t
      FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.t >= v.t),
vneg AS (SELECT user_id, -t AS nt, t, view_id FROM v),
f AS (SELECT p.user_id, p.event_id, vneg.view_id AS f_id, vneg.t AS f_t
      FROM p ASOF LEFT JOIN vneg
        ON p.user_id = vneg.user_id AND -p.t >= vneg.nt)
SELECT b.user_id, b.event_id,
       CASE WHEN b.b_t IS NOT NULL
                 AND (f.f_t IS NULL OR b.t - b.b_t <= f.f_t - b.t)
            THEN b.b_id ELSE f.f_id END AS view_id
FROM b JOIN f ON b.user_id = f.user_id AND b.event_id = f.event_id
"""


def q_range_join(spark, sf_dir):
    """Binned interval join: click events landing inside the 1-hour
    window opened by each error event of the same user."""
    ev = _t(spark, sf_dir, "events").df
    sec = F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1e6)
    points = OmigoDF(ev.where("event_type = 'click'")
                     .select(F.col("event_id").alias("click_id"),
                             "user_id", sec.alias("pt")))
    intervals = OmigoDF(ev.where("event_type = 'error'")
                        .select(F.col("event_id").alias("err_id"),
                                "user_id", sec.alias("lo"),
                                (sec + 3600.0).alias("hi")))
    out = TS.range_join(points, intervals, "pt", "lo", "hi",
                        on=["user_id"], bin_width=3600.0)
    return out.df.select("click_id", "user_id", "err_id")


SQL_RANGE_JOIN = """
WITH c AS (SELECT event_id AS click_id, user_id, epoch(ts) AS pt
           FROM events WHERE event_type = 'click'),
e AS (SELECT event_id AS err_id, user_id, epoch(ts) AS lo,
             epoch(ts) + 3600.0 AS hi
      FROM events WHERE event_type = 'error')
SELECT c.click_id, c.user_id, e.err_id
FROM c JOIN e ON c.user_id = e.user_id AND c.pt >= e.lo AND c.pt <= e.hi
"""


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization of the event stream (30-min inactivity
    splits), collapsed to per-session stats."""
    ev = _t(spark, sf_dir, "events")
    out = TS.session_stats(ev, "user_id", "ts", gap_sec=1800.0)
    return out.df.select("user_id", "session_id", "session_start",
                         "session_end", "duration_sec", "n_events")


SQL_SESSIONIZE = """
WITH t AS (SELECT user_id, epoch(ts) AS sec FROM events),
m AS (SELECT user_id, sec,
             CASE WHEN sec - lag(sec) OVER
                  (PARTITION BY user_id ORDER BY sec) > 1800.0
                  THEN 1 ELSE 0 END AS brk
      FROM t),
s AS (SELECT user_id, sec,
             CAST(1 + SUM(brk) OVER (PARTITION BY user_id ORDER BY sec
                                     ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS session_id
      FROM m)
SELECT user_id, session_id, MIN(sec) AS session_start,
       MAX(sec) AS session_end,
       MAX(sec) - MIN(sec) AS duration_sec,
       COUNT(*) AS n_events
FROM s GROUP BY 1, 2
"""


def q_stream_sessions(spark, sf_dir):
    """Structured Streaming session windows (inactivity gap 30 min) over
    the events stream; oracle = batch gap-sessionization SQL (a gap
    session window is exactly: start = min ts, end = max ts + gap)."""
    sdf = _file_stream(spark, sf_dir, "events")
    agg = ST.sessionize(sdf, "user_id", "ts", gap="30 minutes")
    name = "omigo_stream_sessions"
    q = (agg.writeStream.format("memory").queryName(name)
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(300)
    ep = lambda c: F.unix_micros(F.col(c).cast("timestamp")) / F.lit(1e6)  # noqa: E731
    return (spark.sql(f"select * from {name}")
            .select("user_id", ep("session_start").alias("session_start"),
                    ep("session_end").alias("session_end"), "n_events"))


SQL_STREAM_SESSIONS = """
WITH t AS (SELECT user_id, epoch(ts) AS sec FROM events),
m AS (SELECT user_id, sec,
             CASE WHEN sec - lag(sec) OVER
                  (PARTITION BY user_id ORDER BY sec) > 1800.0
                  THEN 1 ELSE 0 END AS brk
      FROM t),
s AS (SELECT user_id, sec,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY sec
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM m)
SELECT user_id, MIN(sec) AS session_start,
       MAX(sec) + 1800.0 AS session_end, COUNT(*) AS n_events
FROM s GROUP BY user_id, sid
"""


def q_sessionize_bucketed(spark, sf_dir):
    """Hot-key scale path of sessionize (r12): time-bucketed two-phase
    plan, hot_key_rows=1 so EVERY key routes through it — the window
    runs inside (key, day-bucket) partitions and a per-bucket summary
    merges boundary sessions (timeseries.py sessionize/_hot_key_split).
    Must equal the single-window answer exactly."""
    ev = _t(spark, sf_dir, "events")
    out = TS.sessionize(ev, "user_id", "ts", gap_sec=1800.0,
                        time_buckets_sec=86400.0, hot_key_rows=1)
    return (out.df.where("event_id % 23 = 0")
            .select("event_id", "user_id", "session_id"))


SQL_SESSIONIZE_BUCKETED = """
WITH t AS (SELECT event_id, user_id, epoch(ts) AS sec FROM events),
m AS (SELECT event_id, user_id, sec,
             CASE WHEN sec - lag(sec) OVER
                  (PARTITION BY user_id ORDER BY sec) > 1800.0
                  THEN 1 ELSE 0 END AS brk
      FROM t),
s AS (SELECT event_id, user_id,
             CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY sec
                                 ROWS UNBOUNDED PRECEDING) + 1
                  AS BIGINT) AS session_id
      FROM m)
SELECT event_id, user_id, session_id FROM s WHERE event_id % 23 = 0
"""


def q_rolling_bucketed(spark, sf_dir):
    """Hot-key scale path of rolling_aggregate (r12): halo two-phase
    plan, hot_key_rows=1 so every key routes through it — each bucket's
    last window_rows-1 rows replicate into the key's successor bucket
    so boundary frames stay complete (timeseries.py _rolling_bucketed).
    Same oracle as the single-window plan."""
    ev = _t(spark, sf_dir, "events")
    out = TS.rolling_aggregate(ev, "user_id", "ts", ["value", "value"],
                               ["mean", "max"], window_rows=5,
                               time_buckets_sec=1_000_000.0,
                               hot_key_rows=1)
    return (out.df.where("event_id % 37 = 0")
            .select("event_id", "user_id",
                    F.col("`value:rolling_mean`").alias("roll_mean"),
                    F.col("`value:rolling_max`").alias("roll_max")))


def q_rolling_aggregate(spark, sf_dir):
    """Trailing-5-row rolling mean/max of event value per user, ordered
    by event time (tie-free: event ids make ts unique per user in this
    data; rows sampled down for the check)."""
    ev = _t(spark, sf_dir, "events")
    out = TS.rolling_aggregate(ev, "user_id", "ts", ["value", "value"],
                               ["mean", "max"], window_rows=5)
    return (out.df.where("event_id % 37 = 0")
            .select("event_id", "user_id",
                    F.col("`value:rolling_mean`").alias("roll_mean"),
                    F.col("`value:rolling_max`").alias("roll_max")))


SQL_ROLLING = """
WITH w AS (
  SELECT event_id, user_id,
         round(CAST(SUM(CAST(value AS DECIMAL(28,8))) OVER win AS DOUBLE)
               / COUNT(value) OVER win, 6) AS roll_mean,
         MAX(CAST(value AS DOUBLE)) OVER win AS roll_max
  FROM events
  WINDOW win AS (PARTITION BY user_id ORDER BY epoch(ts)
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
SELECT event_id, user_id, roll_mean, roll_max FROM w
WHERE event_id % 37 = 0
"""


def q_merge_intervals(spark, sf_dir):
    """Gaps-and-islands: union each user's overlapping 1-hour event
    windows into maximal busy periods."""
    ev = _t(spark, sf_dir, "events").df
    sec = F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1e6)
    iv = OmigoDF(ev.where("event_id % 5 = 0")
                 .select("user_id", sec.alias("lo"),
                         (sec + 3600.0).alias("hi")))
    out = TS.merge_intervals(iv, "user_id", "lo", "hi")
    return out.df.select("user_id", "island_id", "island_start",
                         "island_end", "n_intervals")


def q_merge_intervals_bucketed(spark, sf_dir):
    """Hot-key scale path of merge_intervals (r13): the running max-end
    carry is associative, so it decomposes into per-(key, time-bucket)
    local windows + a tiny per-bucket (max-end, break-count) summary
    frame — the last ordered-carry op to join the two-phase family.
    hot_key_rows=1 routes every key through it. Same query and oracle
    as merge_intervals_islands — the plans must agree exactly."""
    ev = _t(spark, sf_dir, "events").df
    sec = F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1e6)
    iv = OmigoDF(ev.where("event_id % 5 = 0")
                 .select("user_id", sec.alias("lo"),
                         (sec + 3600.0).alias("hi")))
    out = TS.merge_intervals(iv, "user_id", "lo", "hi",
                             time_buckets_sec=86400.0, hot_key_rows=1)
    return out.df.select("user_id", "island_id", "island_start",
                         "island_end", "n_intervals")


SQL_MERGE_INTERVALS = """
WITH iv AS (SELECT user_id, epoch(ts) AS lo, epoch(ts) + 3600.0 AS hi
            FROM events WHERE event_id % 5 = 0),
m AS (SELECT user_id, lo, hi,
             MAX(hi) OVER (PARTITION BY user_id ORDER BY lo, hi
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS pmax
      FROM iv),
b AS (SELECT user_id, lo, hi,
             CASE WHEN pmax IS NULL OR lo > pmax THEN 1 ELSE 0 END AS brk
      FROM m),
s AS (SELECT user_id, lo, hi,
             CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY lo, hi
                                 ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS island_id
      FROM b)
SELECT user_id, island_id, MIN(lo) AS island_start, MAX(hi) AS island_end,
       COUNT(*) AS n_intervals
FROM s GROUP BY user_id, island_id
"""


# =====================================================================
# Round-4 training-pipeline ops: CC clustering, tf-idf, index, split
# =====================================================================

def q_dedup_cluster(spark, sf_dir):
    """Near-dup clustering: LSH candidates → exact-Jaccard verify →
    distributed connected components; every doc labeled with its
    cluster's min doc id."""
    d = _t(spark, sf_dir, "documents")
    return DD.cluster_near_dups(d, threshold=0.7).select(
        ["doc_id", "cluster_id"]).df


def _sql_cc_ctes(src: str, threshold: float = 0.7) -> str:
    """The LSH → verify → recursive-closure CTE chain (same constants as
    operators.dedup) against a source relation ``src`` that exposes
    (doc_id, text). Yields CTEs ending in ``cc(id, cluster_id)``; embed
    inside a WITH RECURSIVE list."""
    sh = DD.shingles_expr("duck")
    sig_cols = ", ".join(f"{e} AS mh_{j}"
                         for j, e in enumerate(DD.minhash_exprs("duck", sh)))
    rows_per_band = 2
    bands = "\nUNION ALL\n".join(
        f"SELECT {b} AS band, concat(" +
        ", '_', ".join(f"CAST(mh_{b * rows_per_band + r} AS VARCHAR)"
                       for r in range(rows_per_band)) +
        ") AS band_key, doc_id FROM sigs"
        for b in range(DD.NUM_HASHES // rows_per_band))
    inter = "len(list_intersect(a.sh, b.sh))"
    return f"""
sigs AS (SELECT doc_id, {sig_cols} FROM {src}),
bands AS ({bands}),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.band_key = b.band_key
          AND a.doc_id < b.doc_id),
shs AS (SELECT doc_id, {sh} AS sh FROM {src}),
ver AS (SELECT c.id_a, c.id_b
        FROM cand c JOIN shs a ON a.doc_id = c.id_a
                    JOIN shs b ON b.doc_id = c.id_b
        WHERE CAST({inter} AS DOUBLE)
              / (len(a.sh) + len(b.sh) - {inter}) >= {threshold}),
edges AS (SELECT id_a AS a, id_b AS b FROM ver
          UNION SELECT id_b, id_a FROM ver),
walk(id, lab) AS (SELECT a, a FROM edges
                  UNION
                  SELECT e.b, w.lab FROM walk w JOIN edges e ON e.a = w.id),
cc AS (SELECT id, MIN(lab) AS cluster_id FROM walk GROUP BY id)"""


def _sql_dedup_cluster() -> str:
    """LSH pipeline (same constants as _sql_dedup_minhash_lsh) + a
    recursive-CTE transitive closure: min reachable node id = the
    component's canonical label."""
    return f"""
WITH RECURSIVE {_sql_cc_ctes('documents')}
SELECT d.doc_id, COALESCE(cc.cluster_id, d.doc_id) AS cluster_id
FROM documents d LEFT JOIN cc ON cc.id = d.doc_id
"""


def q_pipeline_e2e(spark, sf_dir):
    """End-to-end training-data prep: quality filter → exact dedup (min
    doc id per text) → near-dup clustering keeping cluster
    representatives → overlapping-window chunking → deterministic
    train/val/test split → per-(lang, split) corpus stats. Every stage
    is one of the engine's operators; the oracle replays the identical
    algebra in DuckDB, so the whole pipeline is hash-checked."""
    d = _t(spark, sf_dir, "documents")
    m = TX.text_metrics(d, metrics=["token_count", "quality_score"])
    q = OmigoDF(m.df.where("quality_score >= 0.55 AND token_count >= 20")
                .select("doc_id", "text", "lang"))
    keep = q.df.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    d2 = OmigoDF(q.df.join(keep.select("doc_id"), "doc_id", "left_semi"))
    cl = DD.cluster_near_dups(d2, threshold=0.7)
    reps = OmigoDF(cl.df.where("doc_id = cluster_id")
                   .select("doc_id", "text", "lang"))
    ch = TX.chunk_documents(reps, "text", max_tokens=40, overlap=8)
    sp = ch.hash_split(["doc_id", "chunk_idx"])
    return (sp.df.groupBy("lang", "split")
            .agg(F.count(F.lit(1)).alias("n_chunks"),
                 F.sum("chunk_n_tokens").alias("total_tokens")))


def _sql_pipeline_e2e() -> str:
    h = TX.hash_duck("concat_ws(chr(9), coalesce(CAST(doc_id AS VARCHAR), ''), "
                     "coalesce(CAST(chunk_idx AS VARCHAR), ''), '0')")
    return f"""
WITH RECURSIVE base AS (
  SELECT doc_id, text, lang FROM documents
  WHERE {TX.metric_sql('duck', 'quality_score')} >= 0.55
    AND {TX.metric_sql('duck', 'token_count')} >= 20),
dmin AS (SELECT MIN(doc_id) AS doc_id FROM base GROUP BY text),
d2 AS (SELECT b.* FROM base b JOIN dmin USING (doc_id)),
{_sql_cc_ctes('d2')},
reps AS (SELECT d2.doc_id, d2.text, d2.lang FROM d2
         LEFT JOIN cc ON cc.id = d2.doc_id
         WHERE COALESCE(cc.cluster_id, d2.doc_id) = d2.doc_id),
t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM reps),
s AS (SELECT doc_id, lang, toks,
             unnest(range(0, greatest(len(toks), 1), 32)) AS st
      FROM t),
ch AS (SELECT doc_id, lang, CAST(st // 32 AS BIGINT) AS chunk_idx,
              CAST(len(toks[st + 1 : st + 40]) AS BIGINT) AS n
       FROM s),
b AS (SELECT lang, n, ({h}) % 1000000 AS bk FROM ch)
SELECT lang,
       CASE WHEN bk < 800000 THEN 'train'
            WHEN bk < 900000 THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_chunks,
       CAST(SUM(n) AS BIGINT) AS total_tokens
FROM b GROUP BY 1, 2
"""


def q_normalize(spark, sf_dir):
    """Per-group feature scaling: z-score of quantity and min-max of
    extendedprice within each returnflag group (exact decimal moments →
    deterministic under any partitioning)."""
    li = _t(spark, sf_dir, "lineitem")
    z = li.normalize(["l_quantity"], method="zscore",
                     group_cols=["l_returnflag"])
    mm = z.normalize(["l_extendedprice"], method="minmax",
                     group_cols=["l_returnflag"])
    return (mm.df.where("l_orderkey % 50 = 0")
            .select("l_orderkey", "l_linenumber", "l_returnflag",
                    F.col("`l_quantity:norm`").alias("qty_z"),
                    F.col("`l_extendedprice:norm`").alias("price_mm")))


SQL_NORMALIZE = """
WITH s AS (
  SELECT l_returnflag,
         CAST(SUM(CAST(l_quantity AS DECIMAL(28,8))) AS DOUBLE) AS sq,
         CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(28,8))
                       * CAST(l_quantity AS DECIMAL(28,8)) AS DECIMAL(38,8)))
              AS DOUBLE) AS sq2,
         COUNT(l_quantity) AS n,
         MIN(CAST(l_extendedprice AS DOUBLE)) AS mnp,
         MAX(CAST(l_extendedprice AS DOUBLE)) AS mxp
  FROM lineitem GROUP BY l_returnflag)
SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
       round(CASE WHEN l.l_quantity IS NULL OR s.n IS NULL THEN NULL
             WHEN s.n > 1
                   AND (s.sq2 - s.n * (s.sq/s.n) * (s.sq/s.n)) / (s.n - 1) > 0
             THEN (CAST(l.l_quantity AS DOUBLE) - s.sq/s.n)
                  / sqrt((s.sq2 - s.n * (s.sq/s.n) * (s.sq/s.n)) / (s.n - 1))
             ELSE 0.0 END, 6) AS qty_z,
       round(CASE WHEN l.l_extendedprice IS NULL
                    OR s.mxp - s.mnp IS NULL THEN NULL
             WHEN s.mxp - s.mnp > 0
             THEN (CAST(l.l_extendedprice AS DOUBLE) - s.mnp) / (s.mxp - s.mnp)
             ELSE 0.5 END, 6) AS price_mm
FROM lineitem l LEFT JOIN s ON l.l_returnflag = s.l_returnflag
WHERE l.l_orderkey % 50 = 0
"""


def q_redact_pii(spark, sf_dir):
    """PII scrub over a synthesized PII-bearing column (the corpus text
    itself is clean, so the query plants emails/IPs/phones
    deterministically, then redacts)."""
    d = _t(spark, sf_dir, "documents")
    planted = OmigoDF(d.df.withColumn(
        "dirty",
        F.concat_ws(" ", F.col("text"),
                    F.concat(F.lit("user"), F.col("doc_id").cast("string"),
                             F.lit("@example.com")),
                    F.concat(F.lit("10.0."),
                             (F.col("doc_id") % 256).cast("string"),
                             F.lit(".7")),
                    F.lit("call 555-867-5309 now"))))
    out = TX.redact_pii(planted, col="dirty", new_col="clean")
    return out.df.select("doc_id", "clean")


def _sql_redact_pii() -> str:
    dirty = ("concat_ws(' ', text, "
             "concat('user', CAST(doc_id AS VARCHAR), '@example.com'), "
             "concat('10.0.', CAST(doc_id % 256 AS VARCHAR), '.7'), "
             "'call 555-867-5309 now')")
    return f"SELECT doc_id, {TX.redact_pii_sql_duck(dirty)} AS clean FROM documents"


def q_sample_weighted(spark, sf_dir):
    """Quality-weighted corpus sampling: each doc kept with probability
    = its quality score (portable-hash coin, reproducible)."""
    d = _t(spark, sf_dir, "documents")
    m = TX.text_metrics(d, metrics=["quality_score"])
    out = m.sample_weighted("quality_score", ["doc_id"], seed=11)
    return out.df.select("doc_id", "lang", "quality_score")


def _sql_sample_weighted() -> str:
    h = TX.hash_duck("concat_ws(chr(9), coalesce(CAST(doc_id AS VARCHAR), ''), '11')")
    qs = TX.metric_sql("duck", "quality_score")
    return f"""
WITH m AS (SELECT doc_id, lang, {qs} AS quality_score FROM documents)
SELECT doc_id, lang, quality_score FROM m
WHERE (({h}) % 1000000) / 1000000.0
      < least(greatest(quality_score, 0.0), 1.0)
"""


def q_profile(spark, sf_dir):
    """Column profile of the orders table (counts, nulls, exact distinct,
    string min/max per column) — one aggregation job for all columns."""
    o = _t(spark, sf_dir, "orders")
    return o.profile(["o_orderkey", "o_custkey", "o_orderstatus",
                      "o_totalprice"], exact=True).df


def _sql_profile() -> str:
    parts = []
    for c in ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]:
        parts.append(f"""
SELECT '{c}' AS column, COUNT(*) AS n_rows,
       COUNT(*) - COUNT({c}) AS n_null,
       COUNT(DISTINCT CAST({c} AS VARCHAR)) AS n_distinct,
       MIN(CAST({c} AS VARCHAR)) AS min_str,
       MAX(CAST({c} AS VARCHAR)) AS max_str
FROM orders""")
    return "\nUNION ALL\n".join(parts)


def q_stream_running_counts(spark, sf_dir):
    """Custom stateful streaming operator (applyInPandasWithState):
    per-key running event counts; with availableNow the single batch's
    final state equals the batch group count, so the oracle is exact."""
    sdf = _file_stream(spark, sf_dir, "events")
    agg = ST.running_counts(sdf, "event_type")
    name = "omigo_stream_rc"
    q = (agg.writeStream.format("memory").queryName(name)
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(300)
    return spark.sql(f"select key, total from {name}")


SQL_STREAM_RUNNING_COUNTS = """
SELECT CAST(event_type AS VARCHAR) AS key, COUNT(*) AS total
FROM events GROUP BY event_type
"""


def q_stream_dedup(spark, sf_dir):
    """Streaming exact dedup (streaming/stream.py stream_dedup →
    dropDuplicatesWithinWatermark) keyed by (user_id, event_type):
    availableNow + a watermark wider than the data's event-time span
    means dedup state never expires mid-run, so the landed set is
    exactly the batch DISTINCT — the oracle is exact (same pattern that
    made stream_running_counts exactly checkable)."""
    sdf = _file_stream(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts")
    out = ST.stream_dedup(sdf, ["user_id", "event_type"], ts_col="ts",
                          watermark="3650 days")
    name = "omigo_stream_dedup"
    q = (out.writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)
    return spark.sql(f"select user_id, event_type from {name}")


SQL_STREAM_DEDUP = """
SELECT DISTINCT user_id, event_type FROM events
"""


def q_stream_lsh_candidates(spark, sf_dir):
    """Streaming MinHash-LSH near-dup detection
    (streaming/stream.stream_near_dup_candidates): map-side portable
    minhash banding + a stateful first-wins bucket registry via
    applyInPandasWithState. availableNow lands the corpus in one batch
    with in-batch arrivals ordered by doc_id, so the run is exactly a
    batch min-over-bucket window query — the oracle replays it."""
    out = ST.stream_near_dup_candidates(
        _file_stream(spark, sf_dir, "documents"))
    name = "omigo_stream_lsh"
    q = (out.writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)
    return spark.sql(f"select band, band_key, doc_id, first_id from {name}")


def _sql_stream_lsh() -> str:
    sh = DD.shingles_expr("duck")
    sig_cols = ", ".join(f"{e} AS mh_{j}"
                         for j, e in enumerate(DD.minhash_exprs("duck", sh)))
    rpb = 2
    bands = "\nUNION ALL\n".join(
        f"SELECT {b} AS band, concat(" +
        ", '_', ".join(f"CAST(mh_{b * rpb + r} AS VARCHAR)"
                       for r in range(rpb)) +
        # engine parity: NULL/shingle-less docs have NULL signatures and
        # are excluded from banding (the r10 NULL-band exclusion); duckdb
        # concat() SKIPS NULLs instead of propagating, so without the
        # screen every such doc lands in one giant '' band bucket
        ") AS band_key, doc_id FROM sigs WHERE mh_0 IS NOT NULL"
        for b in range(DD.NUM_HASHES // rpb))
    return f"""
WITH sigs AS (SELECT doc_id, {sig_cols} FROM documents),
bands AS ({bands}),
w AS (SELECT band, band_key, doc_id,
             MIN(doc_id) OVER (PARTITION BY band, band_key) AS first_id
      FROM bands)
SELECT band, band_key, doc_id, first_id FROM w WHERE doc_id > first_id
"""


def q_tfidf_top_terms(spark, sf_dir):
    """Top-3 terms per document by tf-idf (ln idf, ties by term)."""
    d = _t(spark, sf_dir, "documents")
    return TX.tfidf_top_terms(d, k=3).df


SQL_TFIDF = """
WITH base AS (SELECT doc_id,
                     list_filter(string_split(lower(text), ' '),
                                 x -> x != '') AS toks
              FROM documents),
tf AS (SELECT doc_id, unnest(toks) AS term FROM base),
tfc AS (SELECT doc_id, term, COUNT(*) AS tf FROM tf GROUP BY 1, 2),
dfc AS (SELECT term, COUNT(*) AS df
        FROM (SELECT doc_id, unnest(list_distinct(toks)) AS term FROM base)
        GROUP BY 1),
scored AS (SELECT tfc.doc_id, tfc.term, tfc.tf, dfc.df,
                  round(tfc.tf * ln((SELECT COUNT(*) FROM base) * 1.0
                                    / dfc.df), 6) AS tfidf
           FROM tfc JOIN dfc USING (term)),
ranked AS (SELECT *, CAST(row_number() OVER
               (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC)
               AS BIGINT) AS rank
           FROM scored)
SELECT doc_id, term, tf, df, tfidf, rank FROM ranked WHERE rank <= 3
"""


def q_inverted_index(spark, sf_dir):
    """Token → postings index over documents (doc_freq + first 100
    ascending doc ids)."""
    d = _t(spark, sf_dir, "documents")
    return TX.inverted_index(d, max_postings=100).df


SQL_INVERTED_INDEX = """
WITH ex AS (SELECT unnest(list_distinct(list_filter(
                       string_split(lower(text), ' '), x -> x != '')))
                AS term, doc_id
            FROM documents)
SELECT term, COUNT(*) AS doc_freq,
       array_to_string(list_transform(list_sort(list(doc_id))[1:100],
                                      x -> CAST(x AS VARCHAR)), ',')
           AS postings
FROM ex GROUP BY term
"""


def q_hash_split(spark, sf_dir):
    """Deterministic 80/10/10 train/val/test labeling by portable hash of
    doc_id; checked as per-(lang, split) counts."""
    d = _t(spark, sf_dir, "documents")
    out = d.hash_split(["doc_id"]).df
    return (out.groupBy("lang", "split")
            .agg(F.count(F.lit(1)).alias("n")))


def _sql_hash_split() -> str:
    h = TX.hash_duck("concat_ws(chr(9), coalesce(CAST(doc_id AS VARCHAR), ''), '0')")
    return f"""
WITH b AS (SELECT lang, ({h}) % 1000000 AS bk FROM documents)
SELECT lang,
       CASE WHEN bk < 800000 THEN 'train'
            WHEN bk < 900000 THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n
FROM b GROUP BY 1, 2
"""


# =====================================================================
# Enrichment & multimodal (SURVEY §2.10 / north-star pipeline ops)
# =====================================================================

def q_ws_enrich(spark, sf_dir):
    """web-service enrichment with dedup rewrite and a deterministic fake
    transport (the oracle reproduces the fake's algebra in SQL)."""
    n = _t(spark, sf_dir, "nation")

    def _fake(req):
        return "R:" + req["url"], 200

    out = EN.call_web_service(n, "http://svc/{n_name}?q={n_nationkey}",
                              prefix="ws", call_fn=_fake)
    return out.select(["n_nationkey", "ws:response", "ws:response:status_code",
                       "ws:response:success"]).df


SQL_WS_ENRICH = """
SELECT n_nationkey,
       'R:http://svc/' || COALESCE(n_name, '') || '?q=' || CAST(n_nationkey AS VARCHAR)
         AS "ws:response",
       '200' AS "ws:response:status_code",
       '1' AS "ws:response:success"
FROM nation
"""


def q_model_enrich(spark, sf_dir):
    """batched model-call enrichment (LLM template): deterministic scoring
    fn over distinct inputs, joined back."""
    d = _t(spark, sf_dir, "documents")

    def score(batch):
        return [float(len(r["text"])) for r in batch]

    out = EN.enrich_with_model(d, ["text"], score, out_col="score",
                               out_type="double")
    return out.df.select("doc_id", "score")


SQL_MODEL_ENRICH = """
SELECT doc_id, CAST(LENGTH(text) AS DOUBLE) AS score FROM documents
"""


def q_multimodal_pipeline(spark, sf_dir):
    """binary payload -> metadata struct -> fake decode -> frame explode:
    the full multimodal plumbing, aggregated to oracle-checkable counts."""
    d = _t(spark, sf_dir, "documents")
    payload = OmigoDF(d.df.select(
        "doc_id", F.expr("encode(text, 'utf-8')").alias("payload")))
    m = MM.attach_media_metadata(payload, "payload", "image", "png")
    dec = MM.decode_image(m, "payload", width=8, height=8, fake=True)
    fr = MM.sample_frames(dec, "payload", every_ms=50, fake=True)
    return (fr.df.groupBy(
                "doc_id",
                F.col("media_meta.n_bytes").alias("n_bytes"),
                F.size("pixels").alias("n_pixels"))
            .agg(F.count(F.lit(1)).alias("n_frames")))


SQL_MULTIMODAL = """
SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS n_bytes,
       64 AS n_pixels,
       CAST(floor((octet_length(encode(text)) - 1) / 50) + 1 AS BIGINT)
         AS n_frames
FROM documents
"""


# =====================================================================
# Graph operators (SURVEY §2.11)
# =====================================================================

# A 3-level DAG from the star schema: customer -> order -> part.
_SQL_EDGES = """
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                  'o' || CAST(o_orderkey AS VARCHAR) AS dst FROM orders
  UNION
  SELECT DISTINCT 'o' || CAST(l_orderkey AS VARCHAR),
                  'p' || CAST(l_partkey AS VARCHAR) FROM lineitem
"""


def _edges_df(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").df
    li = _t(spark, sf_dir, "lineitem").df
    e1 = o.select(F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
                  F.concat(F.lit("o"), F.col("o_orderkey").cast("string")).alias("dst"))
    e2 = li.select(F.concat(F.lit("o"), F.col("l_orderkey").cast("string")).alias("src"),
                   F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("dst"))
    return OmigoDF(e1.unionByName(e2).distinct())


def q_graph_bfs(spark, sf_dir):
    """BFS min-levels from seed customers over the c->o->p DAG.
    encode_vertices stays OFF here — measured (SCALE.md r7): the ids are
    4-7 chars (narrower than a BIGINT) and the traversal is depth-3, so
    the dictionary build costs more than the rounds save. The encoded
    path is driver-checked where it measurably wins: graph_ancestors_guid."""
    cust = _t(spark, sf_dir, "customer").df
    seeds = OmigoDF(cust.where("c_custkey < 5").select(
        F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("node_id")))
    return GR.bfs_levels(_edges_df(spark, sf_dir), seeds).df


SQL_GRAPH_BFS = f"""
WITH RECURSIVE edges AS ({_SQL_EDGES}),
walk AS (
  SELECT 'c' || CAST(c_custkey AS VARCHAR) AS node_id, 0 AS level
  FROM customer WHERE c_custkey < 5
  UNION
  SELECT e.dst, w.level + 1 FROM walk w JOIN edges e ON e.src = w.node_id
  WHERE w.level < 30)
SELECT node_id, CAST(MIN(level) AS INT) AS level FROM walk GROUP BY node_id
"""


def q_graph_degrees(spark, sf_dir):
    return GR.degrees(_edges_df(spark, sf_dir)).df


SQL_GRAPH_DEGREES = f"""
WITH edges AS ({_SQL_EDGES}),
u AS (SELECT src AS node_id, 1 AS o, 0 AS i FROM edges
      UNION ALL
      SELECT dst, 0, 1 FROM edges)
SELECT node_id, CAST(SUM(o) AS BIGINT) AS out_degree,
       CAST(SUM(i) AS BIGINT) AS in_degree
FROM u GROUP BY node_id
"""


def q_graph_ancestors(spark, sf_dir):
    """Transitive ancestor closure of the c->o->p DAG."""
    return GR.ancestors(_edges_df(spark, sf_dir)).df


SQL_GRAPH_ANCESTORS = f"""
WITH RECURSIVE edges AS ({_SQL_EDGES}),
reach AS (
  SELECT dst AS node_id, src AS anc FROM edges
  UNION
  SELECT e.dst, r.anc FROM reach r JOIN edges e ON e.src = r.node_id)
SELECT node_id, anc AS ancestor FROM reach
"""


def q_graph_ancestors_guid(spark, sf_dir):
    """Ancestor closure over the c->o->p DAG re-keyed to md5 guids —
    the realistic telemetry-graph shape (the reference's process trees
    key on guid-style ids), with encode_vertices=True: the closure
    iterates over dictionary BIGINTs and decodes at the tail. Measured
    at sf0.1 (SCALE.md r7): 273 MB -> 112 MB total shuffle (2.4x)
    vs the un-encoded run on the same guid-keyed graph."""
    o = _t(spark, sf_dir, "orders").df
    li = _t(spark, sf_dir, "lineitem").df
    e1 = o.select(
        F.md5(F.concat(F.lit("c"), F.col("o_custkey").cast("string"))).alias("src"),
        F.md5(F.concat(F.lit("o"), F.col("o_orderkey").cast("string"))).alias("dst"))
    e2 = li.select(
        F.md5(F.concat(F.lit("o"), F.col("l_orderkey").cast("string"))).alias("src"),
        F.md5(F.concat(F.lit("p"), F.col("l_partkey").cast("string"))).alias("dst"))
    e = OmigoDF(e1.unionByName(e2).distinct())
    return GR.ancestors(e, encode_vertices=True).df


SQL_GRAPH_ANCESTORS_GUID = """
WITH RECURSIVE edges AS (
  SELECT DISTINCT src, dst FROM (
    SELECT md5('c' || CAST(o_custkey AS VARCHAR)) AS src,
           md5('o' || CAST(o_orderkey AS VARCHAR)) AS dst FROM orders
    UNION ALL
    SELECT md5('o' || CAST(l_orderkey AS VARCHAR)),
           md5('p' || CAST(l_partkey AS VARCHAR)) FROM lineitem)),
reach AS (
  SELECT dst AS node_id, src AS anc FROM edges
  UNION
  SELECT e.dst, r.anc FROM reach r JOIN edges e ON e.src = r.node_id)
SELECT node_id, anc AS ancestor FROM reach
"""


def q_graph_remove_cycles(spark, sf_dir):
    """Temporal back-edge removal on a user->user event graph."""
    ev = _t(spark, sf_dir, "events").df
    e = ev.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("src"),
        F.concat(F.lit("u"),
                 F.expr("CAST(CAST(floor(value) AS INT) % 30 AS STRING)")).alias("dst"),
        F.col("ts"))
    return GR.remove_cycles(OmigoDF(e), "ts").df.select("src", "dst").distinct()


SQL_GRAPH_REMOVE_CYCLES = """
WITH e AS (SELECT 'u' || CAST(user_id AS VARCHAR) AS src,
                  'u' || CAST(CAST(floor(value) AS INT) % 30 AS VARCHAR) AS dst,
                  ts FROM events),
m AS (SELECT dst AS node, MIN(ts) AS f FROM e GROUP BY dst)
SELECT DISTINCT src, dst FROM e LEFT JOIN m ON e.src = m.node
WHERE m.f IS NULL OR e.ts >= m.f
"""


def q_graph_time_ancestors(spark, sf_dir):
    """Time-ordered ancestor closure over the temporal user graph
    (every path edge timestamp non-decreasing)."""
    ev = _t(spark, sf_dir, "events").df
    e = ev.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("src"),
        F.concat(F.lit("u"),
                 F.expr("CAST(CAST(floor(value) AS INT) % 30 AS STRING)")).alias("dst"),
        F.col("ts"))
    return (GR.time_ordered_ancestors(OmigoDF(e), "ts")
            .df.select("node_id", "ancestor").distinct())


SQL_GRAPH_TIME_ANCESTORS = """
WITH RECURSIVE e AS (
  SELECT 'u' || CAST(user_id AS VARCHAR) AS src,
         'u' || CAST(CAST(floor(value) AS INT) % 30 AS VARCHAR) AS dst, ts
  FROM events),
reach AS (
  SELECT dst AS node_id, src AS anc, ts FROM e
  UNION
  SELECT e2.dst, r.anc, e2.ts
  FROM reach r JOIN e e2 ON e2.src = r.node_id AND e2.ts >= r.ts)
SELECT DISTINCT node_id, anc AS ancestor FROM reach
"""


def q_graph_merge_nodes(spark, sf_dir):
    """Merge equivalent leaf nodes (same parent set) to one representative."""
    o = _t(spark, sf_dir, "orders").df
    e = o.select(F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
                 F.concat(F.lit("o"), F.col("o_orderkey").cast("string")).alias("dst"))
    return GR.merge_similar_nodes(OmigoDF(e)).df


SQL_GRAPH_MERGE_NODES = """
SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
       MIN('o' || CAST(o_orderkey AS VARCHAR)) AS dst
FROM orders GROUP BY o_custkey
"""


def q_graph_dangling(spark, sf_dir):
    """Fixpoint dangling-edge pruning, protecting low-numbered parts."""
    part = _t(spark, sf_dir, "part").df
    keep = OmigoDF(part.where("p_partkey < 100").select(
        F.concat(F.lit("p"), F.col("p_partkey").cast("string")).alias("node_id")))
    return GR.remove_dangling_edges(_edges_df(spark, sf_dir), keep).df


def _sql_graph_dangling() -> str:
    """Oracle for the pruning fixpoint. The run-to-convergence fixpoint
    (this layered DAG converges in 3 of max_iter=10 rounds) removes an
    edge iff its dst cannot reach a protected node: each round keeps
    edges whose dst still sources a surviving edge or is protected, so
    at convergence an edge survives exactly when a directed path
    dst→...→keep exists. Restated as backward reachability from the
    keep set via a recursive CTE — node-set-sized state, where the
    previous 10-round unrolled form materialized ten full edge-set
    copies and exhausted DuckDB's temp disk at sf0.1."""
    return """
WITH RECURSIVE e0 AS (
  SELECT DISTINCT src, dst FROM (
    SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
           'o' || CAST(o_orderkey AS VARCHAR) AS dst FROM orders
    UNION ALL
    SELECT 'o' || CAST(l_orderkey AS VARCHAR),
           'p' || CAST(l_partkey AS VARCHAR) FROM lineitem)),
keep AS (SELECT 'p' || CAST(p_partkey AS VARCHAR) AS node_id
         FROM part WHERE p_partkey < 100),
alive AS (
  SELECT node_id AS v FROM keep
  UNION
  SELECT e.src FROM e0 e JOIN alive a ON e.dst = a.v)
SELECT src, dst FROM e0 WHERE dst IN (SELECT v FROM alive)
"""


def q_graph_job_e2e(spark, sf_dir):
    """End-to-end graph-analysis job — the matel QueryGraph batch flow
    (reference projects/matel/graph-analysis GraphAnalysis.scala:750-876)
    composed from the engine's operators, mirroring what trends_job_e2e
    does for the trends job:

      load event edges       → two-layer temporal graph from events:
                               user→user hub edges plus user→artifact
                               edges (artifacts are pure leaves)
      remove_dangling_edges  → prune edges to unprotected leaves
                               (protect artifacts x0..x9; max_iter=3 —
                               fixpoint in 2 rounds, the oracle unrolls
                               the same 3 rounds since the cyclic hub
                               layer breaks the backward-reachability
                               shortcut _sql_graph_dangling uses on DAGs)
      remove_cycles          → drop temporally-infeasible back-edges
      bfs_levels             → min levels from seed users u0..u4
      ancestors              → full reachability closure
      summary                → per-node: level, ancestor count, sorted
                               ancestor merge (get_forward_edges_only's
                               column shape)

    Scale: each stage is the audited operator; the composition adds one
    distinct + two node-sized joins. The edge set is checkpointed once
    after cleaning so BFS and the closure don't re-run the pruning."""
    ev = _t(spark, sf_dir, "events").df
    uu = ev.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("src"),
        F.concat(F.lit("u"),
                 F.expr("CAST(CAST(floor(value) AS INT) % 30 AS STRING)")).alias("dst"),
        F.col("ts"))
    ux = ev.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("src"),
        F.concat(F.lit("x"),
                 F.expr("CAST(CAST(floor(value * 7) AS INT) % 97 AS STRING)")).alias("dst"),
        F.col("ts"))
    e0 = OmigoDF(uu.unionByName(ux))
    return GR.analysis_job(e0, "ts", [f"x{i}" for i in range(10)],
                           [f"u{i}" for i in range(5)],
                           prune_max_iter=3).df


SQL_GRAPH_JOB_E2E = """
WITH RECURSIVE e0 AS (
  SELECT 'u' || CAST(user_id AS VARCHAR) AS src,
         'u' || CAST(CAST(floor(value) AS INT) % 30 AS VARCHAR) AS dst,
         ts FROM events
  UNION ALL
  SELECT 'u' || CAST(user_id AS VARCHAR),
         'x' || CAST(CAST(floor(value * 7) AS INT) % 97 AS VARCHAR),
         ts FROM events),
keep(node) AS (SELECT 'x' || CAST(i AS VARCHAR) FROM range(10) t(i)),
p1 AS (SELECT * FROM e0 WHERE dst IN (SELECT src FROM e0)
                           OR dst IN (SELECT node FROM keep)),
p2 AS (SELECT * FROM p1 WHERE dst IN (SELECT src FROM p1)
                           OR dst IN (SELECT node FROM keep)),
p3 AS (SELECT * FROM p2 WHERE dst IN (SELECT src FROM p2)
                           OR dst IN (SELECT node FROM keep)),
m AS (SELECT dst AS node, MIN(ts) AS f FROM p3 GROUP BY dst),
e2 AS (SELECT p3.* FROM p3 LEFT JOIN m ON p3.src = m.node
       WHERE m.f IS NULL OR p3.ts >= m.f),
ed AS (SELECT DISTINCT src, dst FROM e2),
walk AS (
  SELECT 'u' || CAST(i AS VARCHAR) AS node_id, 0 AS level FROM range(5) t(i)
  UNION
  SELECT e.dst, w.level + 1 FROM walk w JOIN ed e ON e.src = w.node_id
  WHERE w.level < 30),
lv AS (SELECT node_id, CAST(MIN(level) AS INT) AS level FROM walk
       GROUP BY node_id),
reach AS (
  SELECT dst AS node_id, src AS anc FROM ed
  UNION
  SELECT e.dst, r.anc FROM reach r JOIN ed e ON e.src = r.node_id),
aagg AS (SELECT node_id, CAST(COUNT(*) AS BIGINT) AS n_ancestors,
                string_agg(anc, ',' ORDER BY anc) AS ancestors
         FROM reach GROUP BY node_id),
-- explicit DISTINCT: inside a WITH RECURSIVE clause DuckDB does not
-- apply set-union dedup to this non-self-referencing CTE's UNION
nodes AS (SELECT DISTINCT node_id FROM (
  SELECT src AS node_id FROM ed UNION ALL SELECT dst FROM ed))
SELECT n.node_id, l.level,
       COALESCE(a.n_ancestors, CAST(0 AS BIGINT)) AS n_ancestors,
       COALESCE(a.ancestors, '') AS ancestors
FROM nodes n LEFT JOIN lv l USING (node_id) LEFT JOIN aagg a USING (node_id)
"""


_QG_WINDOW_MIN = 600          # Child2 time_window (minutes)
_QG_MIN_GROUP = 2             # Child2 min_group_size


def q_query_graph_job(spark, sf_dir):
    """The matel QueryGraph DSL end-to-end (reference RunQuery.main,
    GraphAnalysis.scala:878-918: Table1 -> Child1 -> Child2 with
    time_window + min_group_size), compiled to ONE Catalyst plan by
    operators/query_graph.py. Pillar tables are derived from events as a
    process-tree shape: node ids are unique per event ('e<event_id>'),
    parents are the 16-aligned sibling-group head, entities (id1) are
    user buckets — so chain joins are bounded-fanout tree hops, never
    hub joins, and output scales linearly with the corpus."""
    ev = _t(spark, sf_dir, "events").df
    t1 = ev.selectExpr(
        "concat('h', CAST(user_id % 4 AS STRING)) AS id1",
        "'d0' AS id2",
        "CAST(event_id AS STRING) AS uuid",
        "concat('e', CAST(event_id AS STRING)) AS node_id",
        "event_type AS event_id",
        "CAST(FLOOR(unix_micros(CAST(ts AS TIMESTAMP)) / 1000) AS BIGINT) AS ts")
    hier = ev.selectExpr(
        "concat('h', CAST(user_id % 4 AS STRING)) AS id1",
        "'d0' AS id2",
        "concat('e', CAST(event_id AS STRING)) AS node_id",
        "concat('e', CAST(event_id DIV 16 * 16 AS STRING)) AS parent_id",
        "event_type AS event_id",
        "CAST(FLOOR(unix_micros(CAST(ts AS TIMESTAMP)) / 1000) AS BIGINT) AS ts")
    nodes = [
        QG.Table1().as_("T1").add_filter("event_id", {"purchase"}),
        QG.Hierarchy().as_("C1"),
        QG.Hierarchy().as_("C2").time_window(_QG_WINDOW_MIN)
                               .min_group_size(_QG_MIN_GROUP),
    ]
    gi = QG.QueryGraphInput({"table1": t1, "hierarchy": hier})
    return QG.QueryGraph("bench", nodes, gi).execute().df


def _sql_query_graph_job() -> str:
    """Independent DuckDB derivation of the same chain: explicit joins
    plus the reference's own groupBy+count+join-back group filter
    (GraphAnalysis.scala:673-681) — deliberately NOT the engine's count
    window, so agreement checks the DSL compiler's semantics."""
    w_ms = _QG_WINDOW_MIN * 60 * 1000
    return f"""
WITH t1 AS (
  SELECT 'h' || CAST(user_id % 4 AS VARCHAR) AS id1, 'd0' AS id2,
         CAST(event_id AS VARCHAR) AS uuid,
         'e' || CAST(event_id AS VARCHAR) AS node_id,
         event_type AS eid, CAST(epoch_ms(ts) AS BIGINT) AS ts
  FROM events WHERE event_type IN ('purchase')),
h AS (
  SELECT 'h' || CAST(user_id % 4 AS VARCHAR) AS id1, 'd0' AS id2,
         'e' || CAST(event_id AS VARCHAR) AS node_id,
         'e' || CAST((event_id // 16) * 16 AS VARCHAR) AS parent_id,
         event_type AS eid, CAST(epoch_ms(ts) AS BIGINT) AS ts
  FROM events),
j1 AS (
  SELECT c.id1 AS C1_id1, c.id2 AS C1_id2, c.node_id AS C1_node_id,
         c.parent_id AS C1_parent_id, c.eid AS C1_event_id, c.ts AS C1_ts,
         t.id1 AS T1_id1, t.id2 AS T1_id2, t.uuid AS T1_uuid,
         t.node_id AS T1_node_id, t.eid AS T1_event_id, t.ts AS T1_ts
  FROM h c JOIN t1 t
    ON c.id1 = t.id1 AND c.id2 = t.id2 AND c.parent_id = t.node_id),
j2 AS (
  SELECT c.id1 AS C2_id1, c.id2 AS C2_id2, c.node_id AS C2_node_id,
         c.parent_id AS C2_parent_id, c.eid AS C2_event_id, c.ts AS C2_ts,
         j1.*
  FROM h c JOIN j1
    ON c.id1 = j1.C1_id1 AND c.id2 = j1.C1_id2
   AND c.parent_id = j1.C1_node_id
   AND c.ts <= j1.C1_ts + {w_ms}),
g AS (
  SELECT C2_id1, C2_id2, C2_parent_id FROM j2
  GROUP BY C2_id1, C2_id2, C2_parent_id
  HAVING COUNT(*) >= {_QG_MIN_GROUP})
SELECT j2.* FROM j2 JOIN g USING (C2_id1, C2_id2, C2_parent_id)
"""


# =====================================================================
# Relational coverage widening (SURVEY §2.2/2.3/2.5 long tail)
# =====================================================================

def q_natural_join(spark, sf_dir):
    """Inner join on all common column names (reference dataframe.py:3642)."""
    sup = (_t(spark, sf_dir, "supplier")
           .select(["s_suppkey", "s_nationkey"]).rename("s_nationkey", "nationkey"))
    nat = (_t(spark, sf_dir, "nation")
           .select(["n_nationkey", "n_name"]).rename("n_nationkey", "nationkey"))
    return sup.natural_join(nat).select(["n_name", "s_suppkey"]).df


SQL_NATURAL_JOIN = """
SELECT n_name, s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
"""


def q_outer_join_fill(spark, sf_dir):
    """Full outer join with def_val_map fill of unmatched-side nulls
    (reference dataframe.py:3545-3561)."""
    nat = _t(spark, sf_dir, "nation").select(["n_nationkey", "n_name"])
    rich = (_t(spark, sf_dir, "customer")
            .gt_float("c_acctbal", 9900)
            .aggregate(["c_nationkey"], ["c_custkey"], ["get_array_len"],
                       collapse=True)
            .rename("c_custkey:get_array_len", "rich_cnt"))
    return (nat.outer_join(rich, lkeys=["n_nationkey"], rkeys=["c_nationkey"],
                           def_val_map={"rich_cnt": "0"})
            .select(["n_nationkey", "n_name", "rich_cnt"]).df)


SQL_OUTER_JOIN_FILL = """
WITH rich AS (
  SELECT c_nationkey, COUNT(*) AS cnt FROM customer
  WHERE c_acctbal > 9900 GROUP BY c_nationkey)
SELECT n_nationkey, n_name, COALESCE(cnt, 0) AS rich_cnt
FROM nation FULL JOIN rich ON n_nationkey = c_nationkey
"""


def q_rows_cond_exists(spark, sf_dir):
    """Existence filter: keep rows where ANY selected col satisfies the
    lambda (reference dataframe.py:225-238)."""
    p = _t(spark, sf_dir, "part")
    return (p.select_rows_with_cond_exists(
                ["p_type", "p_name"],
                lambda v: ("PROMO" in v) or v.startswith("red"))
            .select(["p_partkey", "p_type", "p_name"]).df)


SQL_ROWS_COND_EXISTS = """
SELECT p_partkey, p_type, p_name FROM part
WHERE p_type LIKE '%PROMO%' OR p_type LIKE 'red%'
   OR p_name LIKE '%PROMO%' OR p_name LIKE 'red%'
"""


def q_sort_slice(spark, sf_dir):
    """sort (reverse, numeric) + skip_rows + take slicing
    (reference dataframe.py:457-477, 2019-2085)."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.select(["l_extendedprice", "l_orderkey", "l_linenumber"])
            .reverse_sort(["l_extendedprice", "l_orderkey", "l_linenumber"])
            .skip_rows(10).take(20).df)


SQL_SORT_SLICE = """
SELECT l_extendedprice, l_orderkey, l_linenumber FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey DESC, l_linenumber DESC
LIMIT 20 OFFSET 10
"""


def q_seq_num(spark, sf_dir):
    """add_seq_num in current (sorted) order (reference dataframe.py:1707)."""
    n = _t(spark, sf_dir, "nation")
    return (n.select(["n_nationkey", "n_name"]).sort(["n_nationkey"])
            .add_seq_num("sno").df)


SQL_SEQ_NUM = """
SELECT n_nationkey, n_name,
       row_number() OVER (ORDER BY n_nationkey) AS sno
FROM nation
"""


def q_codec_base64(spark, sf_dir):
    """base64/url codec columns + decode roundtrip
    (reference dataframe.py:2252-2320)."""
    r = _t(spark, sf_dir, "region")
    return (r.select(["r_name"])
            .base64_encode("r_name", "b64")
            .base64_decode("b64", "rt")
            .url_encode("r_name", "urlenc").df)


SQL_CODEC_BASE64 = """
SELECT r_name, base64(CAST(r_name AS BLOB)) AS b64, r_name AS rt,
       replace(r_name, ' ', '+') AS urlenc
FROM region
"""


def q_ratio_cap(spark, sf_dir):
    """ratio (safe division, precision 6) + cap_min/cap_max clamps
    (reference dataframe.py:440-450, 2962-2976)."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.select(["l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity"])
            .ratio("l_extendedprice", "l_quantity", "unit_price")
            .cap_max("unit_price", 50000.0, "capped_hi")
            .cap_min("unit_price", 1000.0, "capped_lo").df)


SQL_RATIO_CAP = """
-- round via DECIMAL to replicate Spark's HALF_UP (DuckDB double round is half-even)
WITH r AS (
  SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity,
         CASE WHEN l_quantity != 0
              THEN CAST(round(CAST(l_extendedprice / l_quantity AS DECIMAL(28,12)), 6)
                        AS DOUBLE)
              ELSE 0.0 END AS unit_price
  FROM lineitem)
SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity, unit_price,
       least(unit_price, 50000.0) AS capped_hi,
       greatest(unit_price, 1000.0) AS capped_lo
FROM r
"""


def q_const_missing_cols(spark, sf_dir):
    """add_const + set_missing_values + drop_empty_cols
    (reference dataframe.py:2404-2553, 4910, 553-635)."""
    n = _t(spark, sf_dir, "nation")
    return (n.select(["n_nationkey", "n_name"])
            .add_const("alwaysempty", "")
            .add_const("maybe", "")
            .set_missing_values(["maybe"], "X")
            .drop_empty_cols().df)


SQL_CONST_MISSING = """
SELECT n_nationkey, n_name, 'X' AS maybe FROM nation
"""


def q_select_first(spark, sf_dir):
    """Deterministic select_first/select_last via the parameterized
    'name(order_col)' agg spec → min_by/max_by (functions/aggs.py
    _PARAM_AGGS; reference udfs.py:221-225 picks first in stable file
    order, which Spark can't reproduce — the order column makes the pick
    well-defined under any partitioning). o_orderkey is unique, so ties
    can't flake the hash."""
    od = _t(spark, sf_dir, "orders")
    return (od.aggregate(["o_orderpriority"],
                         ["o_totalprice", "o_orderstatus"],
                         ["select_first(o_orderkey)", "select_last(o_orderkey)"])
            .rename("o_totalprice:select_first(o_orderkey)", "first_price")
            .rename("o_orderstatus:select_last(o_orderkey)", "last_status")
            .df)


SQL_SELECT_FIRST = """
SELECT o_orderpriority,
       MIN_BY(o_totalprice, o_orderkey) AS first_price,
       MAX_BY(o_orderstatus, o_orderkey) AS last_status
FROM orders GROUP BY o_orderpriority
"""


_REST_SERVERS: dict[str, tuple[str, int, int, int]] = {}


def _rest_events_server(sf_dir: str) -> tuple[str, int, int, int]:
    """Start (once per sf_dir) a driver-side fake HTTP service that serves
    the events table by time slice — the deterministic stand-in for the
    Splunk/LogScale endpoints (reference splunk_ext.py:181-359). Returns
    (base_url, lo_us, hi_us, n). The thread is a daemon; executor tasks in
    local mode fetch from 127.0.0.1. Rows are loaded once per sf_dir and
    sliced per request via bisect on the sorted ts — the fixture should
    cost O(answer), not O(table), per fetch."""
    if sf_dir in _REST_SERVERS:
        return _REST_SERVERS[sf_dir]

    import json as _json
    import threading
    import urllib.parse as _up
    from bisect import bisect_left
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    import duckdb as _dk

    rows = _dk.sql(
        f"SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us "
        f"FROM '{sf_dir}/events.parquet' ORDER BY ts_us, event_id").fetchall()
    lo, hi, n = rows[0][4], rows[-1][4] + 1, len(rows)
    ts_sorted = [r[4] for r in rows]

    class H(BaseHTTPRequestHandler):
        def do_GET(self):
            q = _up.parse_qs(_up.urlparse(self.path).query)
            st, et = int(q["st"][0]), int(q["et"][0])
            limit = int(q["limit"][0])
            # rows are sorted by (ts_us, event_id): bisect the ts range,
            # then the slice + `limit` truncation is deterministic
            i, j = bisect_left(ts_sorted, st), bisect_left(ts_sorted, et)
            out = [{"event_id": r[0], "user_id": r[1], "event_type": r[2],
                    "value": repr(r[3]), "ts_us": r[4]}
                   for r in rows[i:min(j, i + limit)]]
            body = _json.dumps(out).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    _REST_SERVERS[sf_dir] = (base, lo, hi, n)
    return _REST_SERVERS[sf_dir]


def q_rest_partitioned(spark, sf_dir):
    """Partitioned REST source (sources/rest.py): the Splunk/LogScale
    time-slot pattern (reference splunk_ext.py:181-359) against a
    deterministic fake server backed by the same events.parquet the oracle
    reads. 4 slots with limit=n//6 force the limit-triggered one-level
    re-split on every slot (slot ~ n/4 >= n/6; sub-slot ~ n/16 < n/6 at
    every SF — verified against the ts distribution), so the oracle match
    proves re-split loses and duplicates nothing. Fetches run inside
    mapInPandas tasks, one slot per task."""
    from omigo_data_analytics_spark.sources.rest import PartitionedRestSource

    base, lo, hi, n = _rest_events_server(sf_dir)
    limit = max(50, n // 6)
    src = PartitionedRestSource(
        lambda st, et: f"{base}/events?st={st}&et={et}&limit={limit}",
        ["event_id", "user_id", "event_type", "value", "ts_us"],
        limit=limit, num_par_on_limit=4)
    d = src.read(spark, lo, hi, num_slots=4).df
    return d.select(
        d["event_id"].try_cast("bigint").alias("event_id"),
        d["user_id"].try_cast("bigint").alias("user_id"),
        d["event_type"],
        d["value"].try_cast("double").alias("value"),
        d["ts_us"].try_cast("bigint").alias("ts_us"))


SQL_REST_PARTITIONED = """
SELECT event_id, user_id, event_type, value,
       CAST(epoch_us(ts) AS BIGINT) AS ts_us
FROM events
"""


_JIRA_SERVERS: dict[str, tuple[str, int]] = {}

_JIRA_FIELDS_META = [
    {"id": "summary", "name": "Summary", "schema": {"type": "string"}},
    {"id": "amount", "name": "Amount", "schema": {"type": "number"}},
    {"id": "created", "name": "Created", "schema": {"type": "date"}},
    {"id": "labels", "name": "Labels", "schema": {"type": "array"}},
    {"id": "status", "name": "Status", "schema": {"type": "status"}},
    {"id": "customfield_10001", "name": "Priority",
     "schema": {"type": "string"}},
]


def _jira_orders_server(sf_dir: str) -> tuple[str, int]:
    """Start (once per sf_dir) a driver-side fake JIRA REST endpoint that
    serves the orders table as issues — field metadata at
    /rest/api/2/field, paged JQL search at /rest/api/2/search (startAt /
    maxResults / total envelope). The issue fields exercise every
    flatten rule in sources/jira.py: plain string, renamed custom field,
    dict -> json_encoded, scalar array -> comma join, number and date
    stringification. Rows load once and slice per page request."""
    if sf_dir in _JIRA_SERVERS:
        return _JIRA_SERVERS[sf_dir]

    import json as _json
    import threading
    import urllib.parse as _up
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    import duckdb as _dk

    rows = _dk.sql(
        f"SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority, "
        f"strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') AS created "
        f"FROM '{sf_dir}/orders.parquet' ORDER BY o_orderkey").fetchall()
    n = len(rows)
    # pre-serialize each issue once: a page response is then a join of
    # ready strings, so bench passes measure the source, not the fixture
    issues_json = [_json.dumps(
        {"key": f"ORD-{r[0]}",
         "fields": {"summary": f"order {r[0]} priority {r[3]}",
                    "amount": r[2],
                    "created": r[4],
                    "labels": [r[1], r[3]],
                    "status": {"name": r[1]},
                    "customfield_10001": r[3]}}) for r in rows]

    class H(BaseHTTPRequestHandler):
        def do_GET(self):
            u = _up.urlparse(self.path)
            if u.path.endswith("/field"):
                body = _json.dumps(_JIRA_FIELDS_META).encode()
            else:
                q = _up.parse_qs(u.query)
                st = int(q["startAt"][0])
                mx = int(q["maxResults"][0])
                body = (f'{{"total": {n}, "issues": ['
                        + ",".join(issues_json[st:st + mx])
                        + "]}").encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    _JIRA_SERVERS[sf_dir] = (f"http://127.0.0.1:{srv.server_address[1]}", n)
    return _JIRA_SERVERS[sf_dir]


def q_jira_search(spark, sf_dir):
    """JIRA issue-search source (sources/jira.py — reference
    jira_ext.py:1-209): paged JQL search distributed one page per
    executor task, custom fields renamed via /field metadata, per-type
    flattening to the all-string row model. The fake endpoint serves
    orders.parquet, so the oracle rebuilds every flattened column in
    SQL."""
    from omigo_data_analytics_spark.sources.jira import JiraIssueSource

    base, n = _jira_orders_server(sf_dir)
    src = JiraIssueSource(
        base, ["key", "summary", "Priority", "status:json_encoded",
               "labels", "amount", "created"], auth_token="local")
    page = max(500, -(-n // 24))  # <=24 page tasks at any SF
    d = src.read(spark, "project = ORD", page_size=page).df
    return d.select("key", "summary", "Priority", "status:json_encoded",
                    "labels", "amount", "created")


SQL_JIRA_SEARCH = """
SELECT 'ORD-' || CAST(o_orderkey AS VARCHAR) AS key,
       'order ' || CAST(o_orderkey AS VARCHAR) || ' priority '
           || o_orderpriority AS summary,
       o_orderpriority AS "Priority",
       '{"name": "' || o_orderstatus || '"}' AS "status:json_encoded",
       o_orderstatus || ',' || o_orderpriority AS labels,
       CAST(o_totalprice AS VARCHAR) AS amount,
       strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') AS created
FROM orders
"""


def q_json_xpath_filter(spark, sf_dir):
    """filter_json_by_xpath over events.props (flat {"k": int} JSON):
    dict-form equality on $.k compiled to get_json_object — the operator
    the reference declares but never implemented (dataframe.py:4955)."""
    ev = _t(spark, sf_dir, "events")
    return (ev.filter_json_by_xpath("props", {"k": 3}).df
            .selectExpr("event_id", "user_id",
                        "get_json_object(props, '$.k') AS k_val"))


SQL_JSON_XPATH = """
SELECT event_id, user_id, json_extract_string(props, '$.k') AS k_val
FROM events
WHERE json_extract_string(props, '$.k') = '3'
"""


def q_token_vocab(spark, sf_dir):
    """token_counts (operators/text.py): corpus vocabulary statistics —
    (token, count, doc_freq) with a min_count threshold. Shuffle is
    vocabulary-sized (map-side partial aggregation), not corpus-sized."""
    from omigo_data_analytics_spark.operators.text import token_counts

    docs = _t(spark, sf_dir, "documents")
    out = token_counts(docs, "text", min_count=2)
    return out.df.selectExpr("token", "CAST(count AS BIGINT) AS count",
                             "CAST(doc_freq AS BIGINT) AS doc_freq")


SQL_TOKEN_VOCAB = """
WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
             FROM documents)
SELECT token, CAST(count(*) AS BIGINT) AS count,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
FROM tok WHERE token <> '' GROUP BY token HAVING count(*) >= 2
"""


def q_doc_chunks(spark, sf_dir):
    """chunk_documents (operators/text.py): overlapping token-window
    chunking of the documents corpus — the pre-tokenization fan-out of an
    LLM training pipeline. max_tokens=40/overlap=8 → a chunk starts every
    32 tokens; map-side sequence→slice→posexplode, no shuffle."""
    from omigo_data_analytics_spark.operators.text import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    out = chunk_documents(docs, "text", max_tokens=40, overlap=8)
    return out.df.select("doc_id", "chunk_idx", "chunk", "chunk_n_tokens")


SQL_DOC_CHUNKS = """
WITH t AS (SELECT doc_id,
                  list_filter(string_split_regex(text, ' +'), x -> x != '')
                    AS toks FROM documents),
s AS (SELECT doc_id, toks,
             unnest(range(0, greatest(len(toks), 1), 32)) AS st
      FROM t)
SELECT doc_id,
       CAST(st // 32 AS BIGINT) AS chunk_idx,
       array_to_string(toks[st + 1 : st + 40], ' ') AS chunk,
       CAST(len(toks[st + 1 : st + 40]) AS BIGINT) AS chunk_n_tokens
FROM s
"""


def q_parent_hierarchy(spark, sf_dir):
    """Bounded parent-chain flattening (operators/graph.parent_hierarchy
    — the reference trends job's createHierarchy,
    TrendsAnalysis.scala:240-390): per node, parent_1..parent_3 over the
    c->o->p DAG via chained equi-joins on one min-parent map."""
    e = _edges_df(spark, sf_dir)
    return GR.parent_hierarchy(e, levels=3, child_col="dst",
                               parent_col="src").df


SQL_PARENT_HIERARCHY = """
WITH e AS (
  SELECT DISTINCT src, dst FROM (
    SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
           'o' || CAST(o_orderkey AS VARCHAR) AS dst FROM orders
    UNION ALL
    SELECT 'o' || CAST(l_orderkey AS VARCHAR),
           'p' || CAST(l_partkey AS VARCHAR) FROM lineitem)),
pmap AS (SELECT dst AS c, MIN(src) AS p FROM e GROUP BY dst)
SELECT m1.c AS node_id, m1.p AS parent_1, m2.p AS parent_2, m3.p AS parent_3
FROM pmap m1
LEFT JOIN pmap m2 ON m2.c = m1.p
LEFT JOIN pmap m3 ON m3.c = m2.p
"""


def q_graphviz_dot(spark, sf_dir):
    """DOT export as a distributed line-per-row frame
    (operators/dot.dot_lines; reference graphviz_ext.py:23-138 builds the
    same document in a driver-side dict loop). Nation→region membership
    graph; deterministic (section, sort_key) ordering."""
    from omigo_data_analytics_spark.operators.dot import dot_lines

    nat = _t(spark, sf_dir, "nation").df
    reg = _t(spark, sf_dir, "region").df
    v = (nat.select(
            F.concat(F.lit("n"), F.col("n_nationkey").cast("string")).alias("id"),
            F.col("n_name").alias("name"), F.lit("nation").alias("kind"))
         .unionByName(reg.select(
            F.concat(F.lit("r"), F.col("r_regionkey").cast("string")).alias("id"),
            F.col("r_name").alias("name"), F.lit("region").alias("kind"))))
    e = nat.select(
        F.concat(F.lit("n"), F.col("n_nationkey").cast("string")).alias("src"),
        F.concat(F.lit("r"), F.col("n_regionkey").cast("string")).alias("dst"),
        F.lit("member").alias("rel"))
    out = dot_lines(OmigoDF(v), OmigoDF(e), "id", "src", "dst",
                    vertex_display_id_col="name", node_props=["kind"],
                    edge_props=["rel"], validate=False)
    return out.df.select("section", "sort_key", "line")


SQL_GRAPHVIZ_DOT = """
WITH v AS (
  SELECT 'n' || CAST(n_nationkey AS VARCHAR) AS id, n_name AS name,
         'nation' AS kind FROM nation
  UNION ALL
  SELECT 'r' || CAST(r_regionkey AS VARCHAR), r_name, 'region' FROM region),
e AS (
  SELECT 'n' || CAST(n_nationkey AS VARCHAR) AS src,
         'r' || CAST(n_regionkey AS VARCHAR) AS dst FROM nation),
vl AS (
  SELECT 1 AS section, id AS sort_key,
         '    "' || id || '" ["label" = "' ||
         (CASE WHEN name IS NULL OR name = '' THEN id ELSE name END) ||
         chr(10) || '[kind = ' || kind ||
         ']", "style" = "filled", "shape" = "rectangle" ]' AS line
  FROM v),
el AS (
  SELECT 3 AS section, src || chr(31) || dst AS sort_key,
         '    "' || src || '" -> "' || dst ||
         '" [ label = "[rel = member]" ]' AS line
  FROM e),
hf AS (SELECT * FROM (VALUES (0, '', 'digraph G {'), (2, '', ''),
                             (4, '', '}')) t(section, sort_key, line))
SELECT section, sort_key, line FROM hf
UNION ALL SELECT * FROM vl
UNION ALL SELECT * FROM el
"""


def q_geomap_mercator(spark, sf_dir):
    """Distributed Web-Mercator projection (operators/geomap.geomap_prepare;
    reference geomap_viz.py:16-25 projects in a driver-side pandas loop).
    Lat/lon synthesized deterministically from c_custkey (testdata has no
    geo columns); projected meters rounded to 3 decimals (mm) — the cosine
    oracles' ROUND(…,6) convention scaled to ~2e7-magnitude values."""
    from omigo_data_analytics_spark.operators.geomap import geomap_prepare

    c = _t(spark, sf_dir, "customer").df
    pts = c.select(
        ((F.col("c_custkey") * 37) % 160 - 80 + 0.5).alias("lat"),
        ((F.col("c_custkey") * 91) % 340 - 170 + 0.5).alias("lon"))
    out = geomap_prepare(OmigoDF(pts), "lat", "lon").df
    return out.select("lat", "lon",
                      F.round("mercator_x", 3).alias("mx"),
                      F.round("mercator_y", 3).alias("my"))


SQL_GEOMAP_MERCATOR = """
WITH pts AS (
  SELECT DISTINCT (c_custkey * 37) % 160 - 80 + 0.5 AS lat,
                  (c_custkey * 91) % 340 - 170 + 0.5 AS lon
  FROM customer),
m AS (
  SELECT lat, lon, 6378137.000 * radians(lon) AS x FROM pts
  WHERE lat <> 0 AND lon <> 0)
SELECT lat, lon, ROUND(x, 3) AS mx,
       ROUND(180.0 / pi() * ln(tan(pi() / 4.0 + lat * (pi() / 180.0) / 2.0))
             * (x / lon), 3) AS my
FROM m
"""


def q_sankey_links(spark, sf_dir):
    """Sankey node/link aggregation (operators/sankey.sankey_links; the
    reference's plotly_ext.py:13-33 renders a caller-built map — the
    distributed shaping is the scale-relevant half). Order-priority →
    order-status flows weighted by DECIMAL-exact total price."""
    from omigo_data_analytics_spark.operators.sankey import sankey_links

    o = _t(spark, sf_dir, "orders").df.select(
        "o_orderpriority", "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,4)").alias("price_d"))
    out = sankey_links(OmigoDF(o), "o_orderpriority", "o_orderstatus",
                       value_col="price_d")
    return out.df.select(
        "src_label", "dst_label",
        F.col("source").cast("long").alias("source"),
        F.col("target").cast("long").alias("target"),
        F.col("value").cast("double").alias("value"))


SQL_SANKEY_LINKS = """
WITH links AS (
  SELECT CAST(o_orderpriority AS VARCHAR) AS src_label,
         CAST(o_orderstatus AS VARCHAR) AS dst_label,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS value
  FROM orders GROUP BY 1, 2),
labels AS (
  SELECT label, CAST(ROW_NUMBER() OVER (ORDER BY label) - 1 AS BIGINT) AS idx
  FROM (SELECT src_label AS label FROM links
        UNION SELECT dst_label FROM links) u)
SELECT l.src_label, l.dst_label, s.idx AS source, t.idx AS target, l.value
FROM links l
JOIN labels s ON s.label = l.src_label
JOIN labels t ON t.label = l.dst_label
"""


def q_repetition_metrics(spark, sf_dir):
    """Gopher-style per-document repetition statistics
    (operators/curation.repetition_metrics): bigram count, duplicate-
    bigram fraction, top-bigram dominance. Pure map-side codegen'd
    expressions — at 100 TB the cost is the scan."""
    docs = _t(spark, sf_dir, "documents")
    return (CU.repetition_metrics(docs).df
            .select("doc_id", "ngram_count", "dup_ngram_frac",
                    "top_ngram_frac"))


def _sql_repetition() -> str:
    ex = CU.repetition_exprs("duckdb")
    cols = ", ".join(f"{e} AS {k}" for k, e in ex.items())
    return f"SELECT doc_id, {cols} FROM documents"


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (operators/curation.decontaminate):
    training docs sharing any 5-gram with the held-out set (doc_id % 20
    == 0 plays the benchmark) are dropped. Eval shingles broadcast;
    the only shuffle is the distinct over contaminated ids."""
    docs = _t(spark, sf_dir, "documents")
    ev = OmigoDF(docs.df.filter("doc_id % 20 = 0"))
    tr = OmigoDF(docs.df.filter("doc_id % 20 <> 0"))
    out = CU.decontaminate(tr, ev, "doc_id", n=5)
    return out.df.select("doc_id", "lang", "source", "n_chars")


def q_decontaminate_semantic(spark, sf_dir):
    """Semantic decontamination (curation.decontaminate_semantic):
    training docs whose feature-hash embedding is cosine-close (>=0.85)
    to any held-out doc (doc_id % 20 == 0 plays the benchmark) are
    dropped. Both sides embed map-side; the cosine screen is a
    broadcast nested-loop over the benchmark-sized eval set."""
    docs = _t(spark, sf_dir, "documents")
    ev = OmigoDF(docs.df.filter("doc_id % 20 = 0"))
    tr = OmigoDF(docs.df.filter("doc_id % 20 <> 0"))
    out = CU.decontaminate_semantic(tr, ev, "doc_id", threshold=0.85)
    return out.df.select("doc_id", "lang", "source", "n_chars")


def q_decontaminate_semantic_clustered(spark, sf_dir):
    """Cluster-prefiltered semantic decontamination (r9 —
    curation.decontaminate_semantic(num_clusters=...)): the
    deterministic spherical k-means trains on the EVAL embeddings,
    both sides assign map-side (centroid literals ride the plan), and
    the cosine screen joins on the cluster key instead of
    cross-joining — per-row cost k + |eval|/k̄ instead of |eval| dot
    products; the corpus still never shuffles. Threshold semantics
    exact within a cluster; cross-cluster pairs are the documented
    SemDeDup trade."""
    docs = _t(spark, sf_dir, "documents")
    ev = OmigoDF(docs.df.filter("doc_id % 20 = 0"))
    tr = OmigoDF(docs.df.filter("doc_id % 20 <> 0"))
    out = CU.decontaminate_semantic(tr, ev, "doc_id", threshold=0.85,
                                    num_clusters=4)
    return out.df.select("doc_id", "lang", "source", "n_chars")


def q_leakage_safe_split(spark, sf_dir):
    """leakage-safe train/val/test split (curation.leakage_safe_split):
    near-dup cluster first, hash-split by CLUSTER id, so a dup pair can
    never straddle the train/test boundary; checked as per-(lang,
    split) counts."""
    d = _t(spark, sf_dir, "documents")
    out = CU.leakage_safe_split(d)
    return (out.df.groupBy("lang", "split")
            .agg(F.count(F.lit(1)).alias("n")))


def _sql_leakage_safe_split() -> str:
    h = TX.hash_duck("concat_ws(chr(9), CAST(cluster_id AS VARCHAR), '0')")
    return f"""
WITH RECURSIVE {_sql_cc_ctes('documents')},
lab AS (SELECT d.doc_id, d.lang,
               COALESCE(cc.cluster_id, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN cc ON cc.id = d.doc_id),
b AS (SELECT lang, ({h}) % 1000000 AS bk FROM lab)
SELECT lang,
       CASE WHEN bk < 800000 THEN 'train'
            WHEN bk < 900000 THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n
FROM b GROUP BY 1, 2
"""


def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights (curation.dsir_weights, Xie et al. 2023
    arXiv:2302.03169): hashed unigram+bigram bag models of a target
    slice vs the raw pool; logweight = sum ln(p_t/p_s) per document.
    Bucket-count tables are B-bounded (broadcast); the corpus-sized
    work is one explode + per-id partial agg."""
    docs = _t(spark, sf_dir, "documents")
    tgt = OmigoDF(docs.df.filter("doc_id % 7 = 0"))
    pool = OmigoDF(docs.df.filter("doc_id % 7 <> 0"))
    return CU.dsir_weights(tgt, pool).df


def _sql_dsir_weights() -> str:
    return CU.dsir_weights_sql_duck(
        "(SELECT * FROM documents WHERE doc_id % 7 = 0)",
        "(SELECT * FROM documents WHERE doc_id % 7 <> 0)")


def q_dsir_select(spark, sf_dir):
    """DSIR Gumbel-top-n resampling (curation.dsir_select): draw 200
    documents without replacement from the softmax of the importance
    weights — noise from the portable (id, seed) hash, so the selected
    set is identical across runs, partitionings, and engines; top-n is
    TakeOrderedAndProject (no global sort)."""
    docs = _t(spark, sf_dir, "documents")
    tgt = OmigoDF(docs.df.filter("doc_id % 7 = 0"))
    pool = OmigoDF(docs.df.filter("doc_id % 7 <> 0"))
    return CU.dsir_select(tgt, pool, 200).df


def _sql_dsir_select() -> str:
    return CU.dsir_select_sql_duck(
        "(SELECT * FROM documents WHERE doc_id % 7 = 0)",
        "(SELECT * FROM documents WHERE doc_id % 7 <> 0)", 200)


def q_nb_classify(spark, sf_dir):
    """hashed naive-Bayes classifier (curation.nb_classify) — the
    fastText-style linear bag-of-ngrams model behind model-based corpus
    filters: train on the doc_id%4==0 slice labeled by lang, label the
    rest by max log-joint. One counting pass; CxB count table rides
    broadcast; micro-nat BIGINT sums make label and score bit-identical
    at any partition count."""
    docs = _t(spark, sf_dir, "documents")
    tr = OmigoDF(docs.df.filter("doc_id % 4 = 0"))
    scd = OmigoDF(docs.df.filter("doc_id % 4 <> 0"))
    return CU.nb_classify(tr, scd, "lang").df


def _sql_nb_classify() -> str:
    return CU.nb_classify_sql_duck(
        "(SELECT * FROM documents WHERE doc_id % 4 = 0)",
        "(SELECT * FROM documents WHERE doc_id % 4 <> 0)", "lang")


def q_nb_classify_pruned(spark, sf_dir):
    """naive-Bayes with per-class top-m model pruning (r9 —
    curation.nb_classify(top_m=...), the verdict's thousand-class
    prescription): each class keeps its 64 highest-count features
    (count DESC, bucket ASC rank over the C x B model table — never
    the corpus), the tail folds into the smoothing floor exactly like
    unseen features, T_c re-sums over survivors. The lift join then
    carries at most C x top_m distinct features. top_m=64 << B=10007
    so the pruning is ACTIVE here, and the oracle re-derives the same
    rank window."""
    docs = _t(spark, sf_dir, "documents")
    tr = OmigoDF(docs.df.filter("doc_id % 4 = 0"))
    scd = OmigoDF(docs.df.filter("doc_id % 4 <> 0"))
    return CU.nb_classify(tr, scd, "lang", top_m=64).df


def _sql_nb_classify_pruned() -> str:
    return CU.nb_classify_sql_duck(
        "(SELECT * FROM documents WHERE doc_id % 4 = 0)",
        "(SELECT * FROM documents WHERE doc_id % 4 <> 0)", "lang",
        top_m=64)


def q_fuzzy_pairs(spark, sf_dir):
    """exact edit-distance self-join (ed-join, Gravano et al. 2001
    q-gram count filtering + levenshtein verify) over part names.
    Pinned to the first 2000 partkeys: the synthetic name vocabulary is
    so small that near-dup pairs grow ~n²/10 — the brute-force oracle
    (a deliberately different derivation) must stay sweep-affordable."""
    part = _t(spark, sf_dir, "part")
    sl = OmigoDF(part.df.where("p_partkey <= 2000"))
    return FZ.fuzzy_pairs(sl, "p_partkey", "p_name", max_dist=1, q=3).df


SQL_FUZZY_PAIRS = """
SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
FROM part a JOIN part b
  ON a.p_partkey < b.p_partkey
 AND abs(len(a.p_name) - len(b.p_name)) <= 1
WHERE a.p_partkey <= 2000 AND b.p_partkey <= 2000
  AND levenshtein(a.p_name, b.p_name) <= 1
"""


def q_dedup_fuzzy(spark, sf_dir):
    """fuzzy near-dup REMOVAL (fuzzy.dedup_fuzzy): keep only rows with
    no smaller-id neighbor within edit distance 1 — the mutation-side
    consumer of the fuzzy_pairs machinery (greedy min-representative
    keep rule). Same pinned part slice as fuzzy_pairs so the
    brute-force NOT EXISTS oracle stays sweep-affordable."""
    part = _t(spark, sf_dir, "part")
    sl = OmigoDF(part.df.where("p_partkey <= 2000")
                 .select("p_partkey", "p_name"))
    return FZ.dedup_fuzzy(sl, "p_partkey", "p_name", max_dist=1, q=3).df


SQL_DEDUP_FUZZY = """
SELECT p_partkey, p_name FROM part p
WHERE p_partkey <= 2000 AND NOT EXISTS (
  SELECT 1 FROM part q
  WHERE q.p_partkey < p.p_partkey AND q.p_partkey <= 2000
    AND abs(len(q.p_name) - len(p.p_name)) <= 1
    AND levenshtein(q.p_name, p.p_name) <= 1)
"""


def q_fuzzy_join(spark, sf_dir):
    """two-table exact edit-distance join (fuzzy.fuzzy_join): customer
    names vs a deterministically mutated sample (position-10 'X'
    substitution), max_dist=2 — exercises the combined left+right
    hot-gram census, the per-side rare-occurrence stats split, and the
    shared-column suffix logic (both inputs carry ``c_name`` ->
    ``c_name_l``/``c_name_r``). The 'Customer#'/digit-run grams are
    corpus-wide (hot), so the query also drives the unsafe x unsafe
    length-bucket fallback. Pinned to absolute keys so the brute-force
    oracle stays sweep-affordable at any SF."""
    cust = _t(spark, sf_dir, "customer")
    left = OmigoDF(cust.df.where("c_custkey < 800")
                   .select("c_custkey", "c_name"))
    right = OmigoDF(
        cust.df.where("c_custkey < 900 AND c_custkey % 3 = 0")
        .select(F.col("c_custkey").alias("m_custkey"),
                F.expr("concat(substring(c_name, 1, 9), 'X', "
                       "substring(c_name, 11))").alias("c_name")))
    return FZ.fuzzy_join(left, right, "c_name", "c_name", max_dist=2,
                         q=3, lsuffix="_l", rsuffix="_r").df


SQL_FUZZY_JOIN = """
WITH l AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey < 800),
     r AS (SELECT c_custkey AS m_custkey,
                  substr(c_name, 1, 9) || 'X' || substr(c_name, 11) AS c_name
           FROM customer WHERE c_custkey < 900 AND c_custkey % 3 = 0)
SELECT l.c_custkey, l.c_name AS c_name_l, r.m_custkey, r.c_name AS c_name_r,
       CAST(levenshtein(l.c_name, r.c_name) AS BIGINT) AS dist
FROM l, r
WHERE levenshtein(l.c_name, r.c_name) <= 2
"""


def q_search_job_e2e(spark, sf_dir):
    """executed search composition (search.search_job): bloom prefilter +
    exact contains -> BM25 over the candidate set -> distributed top-k
    (TakeOrdered, ties break by id)."""
    docs = _t(spark, sf_dir, "documents")
    return SR.search_job(docs, must_contain="window",
                         rank_query="window merge sort", k=25).df


def _sql_search_job_e2e() -> str:
    return SR.search_job_sql_duck("documents", "window",
                                  "window merge sort", k=25)


def _sql_decontaminate_semantic() -> str:
    hs = SIM.hash_embed_hs_sql_duck(dim=64)
    vec = SIM.hash_embed_vec_sql_duck("hs", dim=64, normalize=False)
    cos = SIM.cosine_sql_duck("t.vec", "e.vec")
    nrm = SIM.norm_sql_duck("CAST(vec AS DOUBLE[])")
    return f"""
WITH emb AS (SELECT doc_id, {vec} AS vec
             FROM (SELECT doc_id, {hs} AS hs FROM documents)),
ev AS (SELECT vec FROM emb WHERE doc_id % 20 = 0 AND {nrm} > 0),
tr AS (SELECT doc_id, vec FROM emb WHERE doc_id % 20 <> 0 AND {nrm} > 0),
cont AS (SELECT DISTINCT t.doc_id FROM tr t CROSS JOIN ev e
         WHERE ROUND({cos}, 6) >= 0.85)
SELECT doc_id, lang, source, n_chars FROM documents
WHERE doc_id % 20 <> 0 AND doc_id NOT IN (SELECT doc_id FROM cont)
"""


def _sql_decontaminate_semantic_clustered() -> str:
    """DuckDB replay of the k-means-prefiltered screen: same eval-side
    training CTEs as the kmeans_clusters oracle (seeds = 4 lowest eval
    doc_ids, BIGINT micro-unit updates), same rounded-cosine argmin
    assignment for BOTH sides, pair cosine only within a cluster."""
    hs = SIM.hash_embed_hs_sql_duck(dim=64)
    vec = SIM.hash_embed_vec_sql_duck("hs", dim=64, normalize=False)
    nrm = SIM.norm_sql_duck("CAST(vec AS DOUBLE[])")
    cte, fin = SIM.kmeans_cents_cte_duck(k=4, iters=2, table="evp",
                                         id_col="doc_id", vec_col="vec")
    acos = SIM.cosine_sql_duck("e.v", "c.c_vec")
    pcos = SIM.cosine_sql_duck("t.v", "e.v")
    return f"""
WITH emb AS (SELECT doc_id, {vec} AS vec
             FROM (SELECT doc_id, {hs} AS hs FROM documents)),
evp AS (SELECT doc_id, vec FROM emb WHERE doc_id % 20 = 0 AND {nrm} > 0),
trp AS (SELECT doc_id, vec FROM emb WHERE doc_id % 20 <> 0 AND {nrm} > 0),
{cte},
easg AS (SELECT vid, v, c_id FROM (
           SELECT e.vid, e.v, c.c_id,
                  row_number() OVER (PARTITION BY e.vid
                     ORDER BY ROUND({acos}, 6) DESC, c.c_id) AS rn
           FROM km_pts e CROSS JOIN {fin} c) WHERE rn = 1),
tr_pts AS (SELECT doc_id AS vid, CAST(vec AS DOUBLE[]) AS v FROM trp),
tasg AS (SELECT vid, v, c_id FROM (
           SELECT e.vid, e.v, c.c_id,
                  row_number() OVER (PARTITION BY e.vid
                     ORDER BY ROUND({acos}, 6) DESC, c.c_id) AS rn
           FROM tr_pts e CROSS JOIN {fin} c) WHERE rn = 1),
cont AS (SELECT DISTINCT t.vid FROM tasg t JOIN easg e USING (c_id)
         WHERE ROUND({pcos}, 6) >= 0.85)
SELECT doc_id, lang, source, n_chars FROM documents
WHERE doc_id % 20 <> 0 AND doc_id NOT IN (SELECT vid FROM cont)
"""


def _sql_decontaminate() -> str:
    sh = DD.shingles_expr("duckdb", "text", 5)
    return f"""
WITH ev AS (SELECT DISTINCT unnest({sh}) AS s FROM documents
            WHERE doc_id % 20 = 0),
tr AS (SELECT * FROM documents WHERE doc_id % 20 <> 0),
cont AS (SELECT DISTINCT doc_id
         FROM (SELECT doc_id, unnest({sh}) AS s FROM tr) t
         JOIN ev USING (s))
SELECT doc_id, lang, source, n_chars FROM tr
WHERE doc_id NOT IN (SELECT doc_id FROM cont)
"""


def q_distribution_stats(spark, sf_dir):
    """Per-event-type categorical distribution stats
    (operators/trends.category_distribution_stats — the reference
    TrendsAnalysis.scala:740-781 dict stats re-expressed as two partial
    aggregations; entropy folded without collecting distributions)."""
    from omigo_data_analytics_spark.operators import trends as TR

    ev = OmigoDF(_t(spark, sf_dir, "events").df
                 .selectExpr("event_type", "user_id % 50 AS uv"))
    return TR.category_distribution_stats(ev, ["event_type"], "uv").df


def _sql_distribution_stats() -> str:
    from omigo_data_analytics_spark.operators import trends as TR

    inner = TR.category_stats_sql_duck("t", ["event_type"], "uv")
    # fold the source CTE into the helper's own WITH clause
    inner = inner.replace("\nWITH ", "\n, ", 1)
    return ("WITH t AS (SELECT event_type, user_id % 50 AS uv FROM events)"
            + inner)


def q_distribution_drift(spark, sf_dir):
    """Week-over-week behavioral drift per event type
    (operators/trends.distribution_drift — the reference trends job's
    paired cosine/jaccard stats, TrendsAnalysis.scala:791-900, as one
    equi-join + aggregates; no per-key value lists materialize)."""
    from omigo_data_analytics_spark.operators import trends as TR

    ev = OmigoDF(_t(spark, sf_dir, "events").df
                 .selectExpr("event_type", "user_id % 50 AS uv",
                             "CAST(CAST(ts AS DATE) AS STRING) AS wk"))
    return TR.distribution_drift(ev, ["event_type"], "wk", "uv").df


def _sql_distribution_drift() -> str:
    from omigo_data_analytics_spark.operators import trends as TR

    inner = TR.distribution_drift_sql_duck("t", ["event_type"], "wk", "uv")
    inner = inner.replace("\nWITH ", "\n, ", 1)
    return ("WITH t AS (SELECT event_type, user_id % 50 AS uv, "
            "CAST(CAST(ts AS TIMESTAMP) AS DATE)::VARCHAR AS wk "
            "FROM events)" + inner)


def q_sample_n_per_group(spark, sf_dir):
    """Deterministic exact-3-docs-per-language sample
    (OmigoDF.sample_n_per_group): portable-hash rank within group,
    row_number + filter → map-side WindowGroupLimit."""
    docs = _t(spark, sf_dir, "documents")
    out = docs.sample_n_per_group(["lang"], 3, key_cols=["doc_id"], seed=4)
    return out.df.select("doc_id", "lang", "source")


def _sql_sample_n_per_group() -> str:
    h = TX.hash_duck("concat_ws(chr(9), coalesce(CAST(doc_id AS VARCHAR), ''), '4')")
    return f"""
WITH r AS (SELECT doc_id, lang, source,
                  row_number() OVER (PARTITION BY lang
                      ORDER BY ({h}) ASC, coalesce(CAST(doc_id AS VARCHAR), '') ASC) AS rn
           FROM documents)
SELECT doc_id, lang, source FROM r WHERE rn <= 3
"""


def q_bloom_search(spark, sf_dir):
    """Bloom-bitset substring search (operators/search — the matel
    text-analysis job's searchable-hash flow): map-side 1024-bit phrase
    signatures, subset-test prefilter, exact contains verification —
    results are exact, so the oracle is a plain LIKE."""
    docs = _t(spark, sf_dir, "documents")
    out = SR.bloom_substring_search(docs, "window", col="text")
    return out.df.select("doc_id", "lang", "source")


SQL_BLOOM_SEARCH = """
SELECT doc_id, lang, source FROM documents WHERE contains(text, 'window')
"""


def q_bm25_rank(spark, sf_dir):
    """BM25 relevance ranking (operators/search.bm25_rank — new r8): the
    retrieval-scoring half of the text-search family (bloom finds exact
    spans; this ranks by bag-of-words relevance). Lucene-form idf, one
    matched-pairs-only shuffle, corpus stats broadcast as one scalar row;
    the oracle replays the identical literal score expression in DuckDB
    with the same term-sorted fold, so doubles match bit-for-bit."""
    docs = _t(spark, sf_dir, "documents")
    return SR.bm25_rank(docs, "window merge vector").df


def q_trend_scores(spark, sf_dir):
    """Trailing-window spike detection (operators/trends.trend_scores —
    the reference trends job's generateTrends core,
    TrendsAnalysis.scala:1199-1330): per event type and day, robust
    stats of the preceding 7 days' counts and the day's deviation in
    stddev/IQR units. Bounded collect_list window frame — no per-key
    list materialization."""
    from omigo_data_analytics_spark.operators import trends as TR

    ev = OmigoDF(_t(spark, sf_dir, "events").df
                 .selectExpr("event_type",
                             "CAST(CAST(ts AS DATE) AS STRING) AS day"))
    return TR.trend_scores(ev, ["event_type"], "day", learning_window=7).df


def _sql_trend_scores() -> str:
    from omigo_data_analytics_spark.operators import trends as TR

    inner = TR.trend_scores_sql_duck("t", ["event_type"], "day", 7)
    inner = inner.replace("\nWITH ", "\n, ", 1)
    return ("WITH t AS (SELECT event_type, "
            "CAST(CAST(ts AS TIMESTAMP) AS DATE)::VARCHAR AS day "
            "FROM events)" + inner)


def q_dict_sequence_stats(spark, sf_dir):
    """Shrinking-window sequence stats over a dict-style count table —
    the reference trends job's generateDictSequenceStats
    (TrendsAnalysis.scala:969-1070): per event type, daily counts sorted
    by day; for each held-out tail w in 0..3, prefix min/max/mean/
    median/stddev/mad (computeStats ladder) plus the tail's
    percIncreaseMax inferences vs the prefix maximum. One shuffle builds
    the per-key day-ordered array (bounded by the day count); every
    window is a map-side slice expression."""
    from omigo_data_analytics_spark.operators import trends as TR

    ev = (_t(spark, sf_dir, "events").df
          .selectExpr("event_type",
                      "CAST(CAST(ts AS DATE) AS STRING) AS day")
          .groupBy("event_type", "day")
          .agg(F.count(F.lit(1)).alias("cnt")))
    return TR.sequence_stats(OmigoDF(ev), ["event_type"], "day", ["cnt"],
                             minus_window=3, inference_col="cnt").df


def _sql_dict_sequence_stats() -> str:
    from omigo_data_analytics_spark.operators import trends as TR

    inner = TR.sequence_stats_sql_duck("qin", ["event_type"], "day",
                                       ["cnt"], minus_window=3,
                                       inference_col="cnt")
    inner = inner.replace("\nWITH ", "\n, ", 1)
    return ("WITH qin AS (SELECT event_type, "
            "CAST(CAST(ts AS TIMESTAMP) AS DATE)::VARCHAR AS day, "
            "CAST(COUNT(*) AS BIGINT) AS cnt "
            "FROM events GROUP BY 1, 2)" + inner)


def q_stats_sequence_stats(spark, sf_dir):
    """Sequence stats OVER the distribution-stats table — the reference
    trends job's generateStatsSequenceStats (TrendsAnalysis.scala:
    1072-1197): category_distribution_stats per (event type, day)
    yields (uniq_count, total_count, entropy) series, then the same
    shrinking-window computeStats ladder runs per metric. Two chained
    operators, exactly the reference's stats → stats-sequence-stats
    pipeline."""
    from omigo_data_analytics_spark.operators import trends as TR

    ev = OmigoDF(_t(spark, sf_dir, "events").df
                 .selectExpr("event_type", "user_id % 50 AS uv",
                             "CAST(CAST(ts AS DATE) AS STRING) AS day"))
    st = TR.category_distribution_stats(ev, ["event_type", "day"], "uv")
    return TR.sequence_stats(st, ["event_type"], "day",
                             ["uniq_count", "total_count", "entropy"],
                             minus_window=3).df


def _sql_stats_sequence_stats() -> str:
    from omigo_data_analytics_spark.operators import trends as TR

    stats_q = TR.category_stats_sql_duck("qev", ["event_type", "day"], "uv")
    inner = TR.sequence_stats_sql_duck(
        "qst", ["event_type"], "day",
        ["uniq_count", "total_count", "entropy"], minus_window=3)
    inner = inner.replace("\nWITH ", "\n, ", 1)
    return ("WITH qev AS (SELECT event_type, user_id % 50 AS uv, "
            "CAST(CAST(ts AS TIMESTAMP) AS DATE)::VARCHAR AS day "
            "FROM events), "
            f"qst AS (SELECT * FROM ({stats_q}) s)" + inner)


def q_pack_sequences(spark, sf_dir):
    """Training-batch sequence packing (operators/text.pack_sequences):
    deterministic contiguous packing of documents into ~20000-token
    bins via the two-level distributed prefix sum — per-bucket window
    cumsums plus a 256-row bucket-offset broadcast; NO global window."""
    docs = _t(spark, sf_dir, "documents")
    out = TX.pack_sequences(docs, "n_chars", budget=20000,
                            key_cols=["doc_id"])
    return out.df.select("doc_id", "lang", "bin_id")


def _sql_pack_sequences() -> str:
    return TX.pack_sequences_sql_duck(
        "documents", "n_chars", 20000, ["doc_id"],
        select="d.doc_id, d.lang")


def q_trends_dataset(spark, sf_dir):
    """The trends job's generateTrendsDataset relational core
    (TrendsAnalysis.scala:1520-1640): parse a packed top-k feature
    string column — '(name,value,type)|(...)' — into features and build
    the feature vocabulary whose support (distinct
    id prefixes) passes a per-polarity threshold, then merge polarity
    branches and count the union support. The packed column is first
    BUILT from events (per-user event counts, sorted for determinism) —
    the same shape the upstream trends output feeds the reference.
    Everything is split/explode/distinct/count-distinct algebra: two
    aggregate shuffles over feature-vocabulary-sized data."""
    ev = _t(spark, sf_dir, "events").df
    packed = (ev.groupBy("user_id", "event_type")
              .agg(F.count(F.lit(1)).alias("c"))
              .groupBy("user_id")
              .agg(F.concat_ws("|", F.sort_array(F.collect_list(
                  F.format_string("(%s,%d,unary)", F.col("event_type"),
                                  F.col("c"))))).alias("top_k_features")))
    feats = (packed
             .select("user_id",
                     F.explode(F.split("top_k_features", "[|]"))
                     .alias("__t__"))
             .select("user_id",
                     F.split(F.regexp_replace("__t__", "[()]", ""), ",")
                     .alias("__p__"))
             .select(
                 F.concat_ws("_", F.expr("__p__[0]"), F.expr("__p__[2]"))
                 .alias("feature_name"),
                 (F.col("user_id") % 2).cast("int").alias("is_pos"),
                 F.substring(F.col("user_id").cast("string"), 1, 2)
                 .alias("idp")))
    sup = feats.select("feature_name", "is_pos", "idp").distinct()
    per_branch = (sup.groupBy("feature_name", "is_pos")
                  .agg(F.count_distinct("idp").alias("c")))
    keep = per_branch.where(
        ((F.col("is_pos") == 1) & (F.col("c") >= 3))
        | ((F.col("is_pos") == 0) & (F.col("c") >= 4)))
    out = (sup.join(keep.select("feature_name", "is_pos"),
                    ["feature_name", "is_pos"], "left_semi")
           .groupBy("feature_name")
           .agg(F.count_distinct("idp").cast("long").alias("n_ids")))
    return out


SQL_TRENDS_DATASET = """
WITH pk AS (
  SELECT user_id,
         string_agg(fmt, '|' ORDER BY fmt) AS top_k_features
  FROM (SELECT user_id,
               '(' || event_type || ',' || CAST(COUNT(*) AS VARCHAR)
                   || ',unary)' AS fmt
        FROM events GROUP BY user_id, event_type) t
  GROUP BY user_id),
fx AS (
  SELECT user_id, string_split(replace(replace(u, '(', ''), ')', ''), ',') AS p
  FROM (SELECT user_id, unnest(string_split(top_k_features, '|')) AS u
        FROM pk) s),
feats AS (
  SELECT p[1] || '_' || p[3] AS feature_name,
         CAST(user_id % 2 AS INT) AS is_pos,
         substr(CAST(user_id AS VARCHAR), 1, 2) AS idp
  FROM fx),
sup AS (SELECT DISTINCT feature_name, is_pos, idp FROM feats),
pb AS (SELECT feature_name, is_pos, COUNT(DISTINCT idp) AS c
       FROM sup GROUP BY feature_name, is_pos),
keep AS (SELECT feature_name, is_pos FROM pb
         WHERE (is_pos = 1 AND c >= 3) OR (is_pos = 0 AND c >= 4))
SELECT s.feature_name, CAST(COUNT(DISTINCT s.idp) AS BIGINT) AS n_ids
FROM sup s JOIN keep k USING (feature_name, is_pos)
GROUP BY s.feature_name
"""


def q_trends_job_e2e(spark, sf_dir):
    """End-to-end trends job — the reference TrendsAnalysis.scala main
    flow (:63-140) composed from the engine's operators, each step the
    one COVERAGE.md maps it to:

      readBaseData            → load_testdata (orders + lineitem)
      createHierarchy         → graph.parent_hierarchy over the c→o→p DAG
      createGroups/createDicts→ ancestry join + segment key (the
                                customer-segment dimension each part
                                event rolls up to)
      generateStats           → trends.category_distribution_stats
      generatePairedStats     → trends.distribution_drift (week pairs)
      generateTrends          → trends.trend_scores (daily spikes)
      generateTrendsAnalysis  → the export join of the three on the group

    Per customer segment (last digit of the part's grandparent customer):
    return-flag distribution stats, week-over-week drift averages, and
    daily spike summary. Scale: the hierarchy is vertex-sized map joins;
    stats/drift/trend shuffles are count-table-sized (segment × week ×
    value), never the event table; drift/trend averages accumulate
    DECIMAL-exact so the result is partition-order-independent."""
    from omigo_data_analytics_spark.operators import trends as TR

    hier = GR.parent_hierarchy(_edges_df(spark, sf_dir), levels=3,
                               child_col="dst", parent_col="src").df
    li = _t(spark, sf_dir, "lineitem").df
    ev = li.select(
        F.concat(F.lit("p"), F.col("l_partkey").cast("string"))
        .alias("node_id"),
        F.col("l_returnflag").alias("v"),
        F.expr("CAST(CAST(date_trunc('week', l_shipdate) AS DATE) AS STRING)")
        .alias("wk"),
        F.expr("CAST(CAST(l_shipdate AS DATE) AS STRING)").alias("day"))
    # the enriched event table feeds THREE downstream branches (stats,
    # drift, trend scores) plus the export join: checkpoint it once or
    # every branch re-reads and re-joins the whole input (measured 1.0 GB
    # of file reads at sf0.1 without the barrier — a ~90x corpus re-scan
    # multiplier that would dominate at 100 TB; on a cluster use
    # .persist() with a real storage level instead)
    enr = OmigoDF(
        ev.join(hier.where(F.col("parent_2").isNotNull())
                    .select("node_id", "parent_2"), "node_id")
          .select(F.expr("substring(parent_2, -1, 1)").alias("grp"),
                  "v", "wk", "day").localCheckpoint())
    stats = TR.category_distribution_stats(enr, ["grp"], "v").df
    drift = TR.distribution_drift(enr, ["grp"], "wk", "v").df
    n = F.count(F.lit(1))
    drift_agg = (drift.groupBy("grp").agg(
        n.alias("n_drift_pairs"),
        F.round(F.sum(F.col("cosine_sim").cast("decimal(18,6)"))
                .cast("double") / n, 6).alias("avg_cosine"),
        F.round(F.sum(F.col("jsd").cast("decimal(18,6)"))
                .cast("double") / n, 6).alias("avg_jsd")))
    tr = TR.trend_scores(enr, ["grp"], "day", learning_window=7).df
    tr_agg = (tr.groupBy("grp").agg(
        F.max("spike_stddev").alias("max_spike_stddev"),
        F.sum(F.when(F.col("spike_stddev") >= 2.0, 1).otherwise(0))
        .cast("long").alias("n_spike_days")))
    return stats.join(drift_agg, "grp").join(tr_agg, "grp")


def _sql_trends_job_e2e() -> str:
    from omigo_data_analytics_spark.operators import trends as TR

    # each helper query nests as a parenthesized derived table, so its
    # CTE names (c/n/p/d...) stay scoped and can't collide
    stats_q = TR.category_stats_sql_duck("enr", ["grp"], "v")
    drift_q = TR.distribution_drift_sql_duck("enr", ["grp"], "wk", "v")
    trend_q = TR.trend_scores_sql_duck("enr", ["grp"], "day", 7)
    return f"""
WITH eh AS (
  SELECT DISTINCT src, dst FROM (
    SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
           'o' || CAST(o_orderkey AS VARCHAR) AS dst FROM orders
    UNION ALL
    SELECT 'o' || CAST(l_orderkey AS VARCHAR),
           'p' || CAST(l_partkey AS VARCHAR) FROM lineitem)),
pmap AS (SELECT dst AS c, MIN(src) AS p FROM eh GROUP BY dst),
hier AS (SELECT m1.c AS node_id, m2.p AS parent_2
         FROM pmap m1 LEFT JOIN pmap m2 ON m2.c = m1.p),
enr AS (
  SELECT right(h.parent_2, 1) AS grp, l.l_returnflag AS v,
         CAST(date_trunc('week', l.l_shipdate) AS DATE)::VARCHAR AS wk,
         CAST(l.l_shipdate AS DATE)::VARCHAR AS day
  FROM lineitem l
  JOIN hier h ON h.node_id = 'p' || CAST(l.l_partkey AS VARCHAR)
  WHERE h.parent_2 IS NOT NULL),
stats AS (SELECT * FROM ({stats_q}) sq),
dagg AS (
  SELECT grp, COUNT(*) AS n_drift_pairs,
         round(CAST(SUM(CAST(cosine_sim AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(*), 6) AS avg_cosine,
         round(CAST(SUM(CAST(jsd AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(*), 6) AS avg_jsd
  FROM ({drift_q}) dq GROUP BY grp),
tagg AS (
  SELECT grp, MAX(spike_stddev) AS max_spike_stddev,
         CAST(SUM(CASE WHEN spike_stddev >= 2.0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_spike_days
  FROM ({trend_q}) tq GROUP BY grp)
SELECT s.grp, s.total_count, s.uniq_count, s.entropy,
       g.n_drift_pairs, g.avg_cosine, g.avg_jsd,
       a.max_spike_stddev, a.n_spike_days
FROM stats s JOIN dagg g USING (grp) JOIN tagg a USING (grp)
"""


MIX_SHARES = {"src0": 0.5, "src1": 0.3, "src2": 0.2}


def q_lm_score(spark, sf_dir):
    """CCNet-style bigram LM quality score (operators/curation.lm_score):
    train an add-k-smoothed bigram LM on the doc_id%5==0 slice, score the
    rest by average token log-probability + perplexity. Count tables are
    vocabulary-sized (AQE broadcasts them); V is the one scalar collect."""
    docs = _t(spark, sf_dir, "documents")
    tr = OmigoDF(docs.df.filter("doc_id % 5 = 0"))
    scd = OmigoDF(docs.df.filter("doc_id % 5 <> 0"))
    return CU.lm_score(tr, scd).df


def _sql_lm_score() -> str:
    return CU.lm_score_sql_duck(
        "(SELECT * FROM documents WHERE doc_id % 5 = 0)",
        "(SELECT * FROM documents WHERE doc_id % 5 <> 0)")


def q_mix_sources(spark, sf_dir):
    """Deterministic source mixing (operators/curation.mix_sources):
    downsample each source to 50/30/20 target shares with a portable-
    hash coin — counts/rates in-plan (broadcast), keep decision
    map-side, no RNG and no driver collect."""
    docs = _t(spark, sf_dir, "documents")
    out = CU.mix_sources(docs, "source", MIX_SHARES, ["doc_id"], seed=7)
    return out.df.select("doc_id", "source", "lang")


def _sql_mix_sources() -> str:
    return CU.mix_sources_sql_duck(
        "documents", "source", MIX_SHARES, ["doc_id"], seed=7,
        select="d.doc_id, d.source, d.lang")


def q_mix_sources_weighted(spark, sf_dir):
    """Token-budget source mixing (mix_sources(weight_col=...)): shares
    measured in summed n_chars, not documents — what an LLM pipeline
    actually mixes by. Same portable-hash coin, rates from BIGINT weight
    sums (exact, partition-order-independent)."""
    docs = _t(spark, sf_dir, "documents")
    out = CU.mix_sources(docs, "source", MIX_SHARES, ["doc_id"], seed=11,
                         weight_col="n_chars")
    return out.df.select("doc_id", "source", "n_chars")


def _sql_mix_sources_weighted() -> str:
    return CU.mix_sources_sql_duck(
        "documents", "source", MIX_SHARES, ["doc_id"], seed=11,
        select="d.doc_id, d.source, d.n_chars", weight_col="n_chars")


# =====================================================================
# Driver contract
# =====================================================================

# =====================================================================
# Hostile-input fixtures (r11 verdict #2): the registry parquet has no
# NULL/NaN payloads, so the silent-wrong defect class the r11 hostile
# rigs caught (fabricated scores for NULL inputs, NaN-is-greatest
# cosine pairing, collapse-path divergence) had no permanent driver
# gate. Each entry derives its hostile corpus DETERMINISTICALLY from
# the parquet tables with the same mutation expressed in both engines —
# the redact_pii precedent — so the DuckDB oracle sees identical input.
# =====================================================================

def q_normalize_nulls(spark, sf_dir):
    """normalize() over a 20%-NULL-payload mutation of documents: NULL x
    and junk-group rows must score NULL (never the constant-group
    0.0/0.5 fallback — the r11 silent-wrong fix, dataframe.py normalize
    NULL guards), NULL group keys must miss the stats join, and no row
    may be dropped."""
    d = _t(spark, sf_dir, "documents")
    mut = OmigoDF(d.df.select(
        "doc_id",
        F.when(F.col("doc_id") % 11 != 3, F.col("lang")).alias("g"),
        F.when(F.col("doc_id") % 7 != 0, F.col("n_chars")).alias("x"),
        F.when(F.col("doc_id") % 5 != 2, F.col("n_chars")).alias("y")))
    out = (mut.normalize(["x"], method="zscore", group_cols=["g"])
              .normalize(["y"], method="minmax", group_cols=["g"]))
    return out.df.select("doc_id", "g",
                         F.col("`x:norm`").alias("xz"),
                         F.col("`y:norm`").alias("ymm"))


SQL_NORMALIZE_NULLS = """
WITH mut AS (SELECT doc_id,
        CASE WHEN doc_id % 11 <> 3 THEN lang END AS g,
        CASE WHEN doc_id % 7 <> 0 THEN n_chars END AS x,
        CASE WHEN doc_id % 5 <> 2 THEN n_chars END AS y
      FROM documents),
s AS (SELECT g,
        CAST(SUM(CAST(x AS DECIMAL(28,8))) AS DOUBLE) AS sx,
        CAST(SUM(CAST(CAST(x AS DECIMAL(28,8))
                      * CAST(x AS DECIMAL(28,8)) AS DECIMAL(38,8)))
             AS DOUBLE) AS sx2,
        COUNT(x) AS n,
        MIN(CAST(y AS DOUBLE)) AS mny,
        MAX(CAST(y AS DOUBLE)) AS mxy
      FROM mut GROUP BY g)
SELECT m.doc_id, m.g,
       round(CASE WHEN m.x IS NULL OR s.n IS NULL THEN NULL
             WHEN s.n > 1
                  AND (s.sx2 - s.n * (s.sx/s.n) * (s.sx/s.n)) / (s.n - 1) > 0
             THEN (CAST(m.x AS DOUBLE) - s.sx/s.n)
                  / sqrt((s.sx2 - s.n * (s.sx/s.n) * (s.sx/s.n)) / (s.n - 1))
             ELSE 0.0 END, 6) AS xz,
       round(CASE WHEN m.y IS NULL OR (s.mxy - s.mny) IS NULL THEN NULL
             WHEN s.mxy - s.mny > 0
             THEN (CAST(m.y AS DOUBLE) - s.mny) / (s.mxy - s.mny)
             ELSE 0.5 END, 6) AS ymm
FROM mut m LEFT JOIN s ON m.g = s.g
"""


def q_semdedup_corrupt(spark, sf_dir):
    """SemDeDup over embeddings with planted all-NaN / all-Inf vectors
    (every 13th id): corrupt vectors must neither seed/train the
    clustering nor pair with anything (NaN cosine passes >= threshold in
    both engines — the r11 extreme-sweep silent-wrong fix, dedup.py
    finite screens) yet must SURVIVE in the output untouched."""
    e = _t(spark, sf_dir, "embeddings")
    corrupt = OmigoDF(e.df.select(
        "vec_id",
        F.when(F.col("vec_id") % 26 == 0, F.expr(
            "transform(CAST(embedding AS ARRAY<DOUBLE>), "
            "x -> CAST('NaN' AS DOUBLE))"))
         .when(F.col("vec_id") % 13 == 0, F.expr(
            "transform(CAST(embedding AS ARRAY<DOUBLE>), "
            "x -> CAST('Infinity' AS DOUBLE))"))
         .otherwise(F.expr("CAST(embedding AS ARRAY<DOUBLE>)"))
         .alias("embedding"),
        "label"))
    return (DD.semdedup(corrupt, threshold=0.4, num_clusters=8, iters=2)
            .select(["vec_id", "label"]).df)


def _sql_semdedup_corrupt() -> str:
    src = """src AS (SELECT vec_id,
        CASE WHEN vec_id % 26 = 0
             THEN list_transform(CAST(embedding AS DOUBLE[]),
                                 x -> CAST('NaN' AS DOUBLE))
             WHEN vec_id % 13 = 0
             THEN list_transform(CAST(embedding AS DOUBLE[]),
                                 x -> CAST('Infinity' AS DOUBLE))
             ELSE CAST(embedding AS DOUBLE[]) END AS embedding,
        label FROM embeddings)"""
    cte, fin = SIM.kmeans_cents_cte_duck(k=8, iters=2, table="src")
    cos = SIM.cosine_sql_duck("e.v", "c.c_vec")
    paircos = SIM.cosine_sql_duck("g.v", "f.v")
    # fa ranges over km_fin (the finite-screened rows), matching the
    # engine's pair-generation screen; the final select ranges over src
    # so the corrupt vectors come back as survivors
    return f"""
WITH {src},
{cte},
fa AS (SELECT e.vid, e.v, c.c_id,
       row_number() OVER (PARTITION BY e.vid
                          ORDER BY ROUND({cos}, 6) DESC, c.c_id) AS rn
       FROM km_fin e CROSS JOIN {fin} c),
fin_asg AS (SELECT vid, v, c_id FROM fa WHERE rn = 1),
dups AS (SELECT DISTINCT f.vid
         FROM fin_asg f JOIN fin_asg g
           ON g.c_id = f.c_id AND g.vid < f.vid
         WHERE ROUND({paircos}, 6) >= 0.4
           AND ({paircos} - ({paircos})) = 0)
SELECT s.vec_id, s.label FROM src s
WHERE s.vec_id NOT IN (SELECT vid FROM dups)
"""


def q_dedup_near_dupheavy(spark, sf_dir):
    """dedup_near over a duplicate-heavy corpus (every doc_id < 400
    replicated 4×, byte-identical): the sampled census must pick the
    collapse_exact path (75% duplication >> the 5% floor) and the result
    must still be exactly the LSH-verify answer — the r11 collapse
    pre-pass (dedup.py collapse tri-state) under its design load."""
    d = _t(spark, sf_dir, "documents")
    base = d.df.where("doc_id < 400").select("doc_id", "text")
    heavy = OmigoDF(base.select(
        F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("r"),
        "doc_id", "text")
        .select((F.col("doc_id") * 4 + F.col("r")).alias("doc_id"), "text"))
    return DD.dedup_near(heavy, threshold=0.7).select(["doc_id"]).df


def _sql_dedup_near_dupheavy() -> str:
    pre = ("heavy AS (SELECT d.doc_id * 4 + r.r AS doc_id, d.text "
           "FROM documents d CROSS JOIN (VALUES (0),(1),(2),(3)) r(r) "
           "WHERE d.doc_id < 400),\n")
    return _sql_lsh_dedup(
        "heavy",
        "SELECT doc_id FROM heavy\n"
        "WHERE doc_id NOT IN (SELECT id_b FROM ver)",
        pre_cte=pre)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_tpch_q1_aggregate(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordered so the driver's per-round correctness budget (first 50
    # dict entries) covers what needs (re-)validation most; the
    # round-specific rotation rationale is the comment inside the
    # return block below. Invariants the rotation maintains: every
    # registry entry keeps a driver row no older than two rounds; any
    # entry whose code was touched this round sits in the head (same-
    # round-row rule); a NEW entry enters the head the round it lands.
    return {

        # --- r15 rotation head (50-entry driver budget) ---
        # (a) the 31 entries whose code round 15 (optimization round 2)
        #     touches (same-round-row rule):
        #     - graph family (observe()-fused loop terminators riding the
        #       per-round checkpoints, dead-end-flag loop restructure,
        #       hostile-name reference fixes): graph_bfs .. graph_remove_cycles;
        #     - connected-components consumers (same terminator fusion in
        #       the CC loop): pipeline_e2e, dedup_cluster,
        #       leakage_safe_split, dedup_near_dupheavy;
        #     - ttest (do_ttest moments riding the union checkpoint,
        #       ks_test side counts from the prefix-sum pass);
        #     - the full timeseries carry family (default-on hot-key
        #       watch via observe(), order-key materialization sharing
        #       ONE Sort across window passes, merge_intervals_bucketed
        #       single summary join): asof_join .. merge_intervals_bucketed;
        #     - the cosine family (one interpreted fold per centroid:
        #       centroid-norm literals + hoisted row norms):
        #       kmeans_clusters, semdedup, semdedup_corrupt,
        #       similarity_ivf, similarity_lsh, cosine_topk,
        #       search_job_e2e, decontaminate_semantic_clustered.
        # (b) the 19 leading stale-row entries (newest driver row r11 —
        #     the block the r14 rotation spilled, in its documented
        #     priority order): generate_key_hash .. decontaminate.
        # 31 + 19 = 50 exactly. The remaining 10 r11-row entries
        # (mix_sources .. read_xml_roundtrip) STILL spill; they lead the
        # post-boundary priority below for r16 and every one was
        # re-verified this round in full 153/153 batteries at sf0.01
        # (dtype-strict rows+schema+hash), the touched families also at
        # sf0.1.
        "graph_bfs": q_graph_bfs,
        "graph_ancestors": q_graph_ancestors,
        "graph_ancestors_guid": q_graph_ancestors_guid,
        "graph_time_ancestors": q_graph_time_ancestors,
        "graph_dangling": q_graph_dangling,
        "graph_job_e2e": q_graph_job_e2e,
        "graph_merge_nodes": q_graph_merge_nodes,
        "graph_remove_cycles": q_graph_remove_cycles,
        "pipeline_e2e": q_pipeline_e2e,
        "dedup_cluster": q_dedup_cluster,
        "leakage_safe_split": q_leakage_safe_split,
        "dedup_near_dupheavy": q_dedup_near_dupheavy,
        "ttest": q_ttest,
        "asof_join": q_asof_join,
        "asof_nearest": q_asof_nearest,
        "asof_bucketed": q_asof_bucketed,
        "asof_nearest_bucketed": q_asof_nearest_bucketed,
        "sessionize": q_sessionize,
        "sessionize_bucketed": q_sessionize_bucketed,
        "rolling_aggregate": q_rolling_aggregate,
        "rolling_bucketed": q_rolling_bucketed,
        "merge_intervals_islands": q_merge_intervals,
        "merge_intervals_bucketed": q_merge_intervals_bucketed,
        "kmeans_clusters": q_kmeans_clusters,
        "semdedup": q_semdedup,
        "semdedup_corrupt": q_semdedup_corrupt,
        "similarity_ivf": q_similarity_ivf,
        "similarity_lsh": q_similarity_lsh,
        "cosine_topk": q_cosine_topk,
        "search_job_e2e": q_search_job_e2e,
        "decontaminate_semantic_clustered": q_decontaminate_semantic_clustered,
        "generate_key_hash": q_generate_key_hash,
        "explode_json": q_explode_json,
        "minhash_signatures": q_minhash_signatures,
        "simhash": q_simhash,
        "tpch_q1_aggregate": q_tpch_q1_aggregate,
        "codec_base64": q_codec_base64,
        "topk_per_group": q_topk_per_group,
        "merge_union": q_merge_union,
        "text_quality_filter": q_text_quality_filter,
        "dedup_exact": q_dedup_exact,
        "select_first": q_select_first,
        "rest_partitioned": q_rest_partitioned,
        "normalize": q_normalize,
        "jira_search": q_jira_search,
        "stream_dedup": q_stream_dedup,
        "graphviz_dot": q_graphviz_dot,
        "geomap_mercator": q_geomap_mercator,
        "repetition_metrics": q_repetition_metrics,
        "decontaminate": q_decontaminate,
        # ---------------- 50-entry budget boundary (driver checks above) ---
        # Post-boundary order = r16 priority: FIRST the 10 r11-row
        # entries this rotation still could not seat, then the prior
        # ordering (r12 rows, r13 rows, then the entries with fresh r14
        # driver rows, freshest last).
        "mix_sources": q_mix_sources,
        "distribution_stats": q_distribution_stats,
        "trend_scores": q_trend_scores,
        "mix_sources_weighted": q_mix_sources_weighted,
        "dsir_weights": q_dsir_weights,
        "dsir_select": q_dsir_select,
        "nb_classify": q_nb_classify,
        "ngram_jaccard": q_ngram_jaccard,
        "read_text_roundtrip": q_read_text_roundtrip,
        "read_xml_roundtrip": q_read_xml_roundtrip,
        "parent_hierarchy": q_parent_hierarchy,
        "lm_score": q_lm_score,
        "group_by_key": q_group_by_key,
        "seq_num": q_seq_num,
        "cumulative_sum": q_cumulative_sum,
        "sample_weighted": q_sample_weighted,
        "window_tumbling": q_window_tumbling,
        "window_sliding": q_window_sliding,
        "model_enrich": q_model_enrich,
        "inverted_index": q_inverted_index,
        "query_graph_job": q_query_graph_job,
        "trends_job_e2e": q_trends_job_e2e,
        "pack_sequences": q_pack_sequences,
        "redact_pii": q_redact_pii,
        "remove_dup_spans": q_remove_dup_spans,
        "replicate_rows": q_replicate_rows,
        "rows_cond_exists": q_rows_cond_exists,
        "sankey_links": q_sankey_links,
        "sql_pushdown": q_sql_pushdown,
        "stream_running_counts": q_stream_running_counts,
        "stream_sessions": q_stream_sessions,
        "stream_window": q_stream_window,
        "text_metrics": q_text_metrics,
        "tfidf_top_terms": q_tfidf_top_terms,
        "timefuncs_ladder": q_timefuncs_ladder,
        "typed_filters": q_typed_filters,
        "dedup_fuzzy": q_dedup_fuzzy,
        "bm25_rank": q_bm25_rank,
        "bloom_search": q_bloom_search,
        "distribution_drift": q_distribution_drift,
        "normalize_nulls": q_normalize_nulls,
        "minmax_range": q_minmax_range,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "pivot": q_pivot,
        "split_str": q_split_str,
        "ws_enrich": q_ws_enrich,
        "stream_lsh_candidates": q_stream_lsh_candidates,
        "profile": q_profile,
        "dedup_embedding": q_dedup_embedding,
        "embedding_near_dup": q_embedding_near_dup,
        "arg_max_topk": q_arg_max_topk,
        "arg_min_topk": q_arg_min_topk,
        "dict_sequence_stats": q_dict_sequence_stats,
        "explode_json_join": q_explode_json_join,
        "explode_json_zip": q_explode_json_zip,
        "explode_udtf": q_explode_udtf,
        "failsafe_aggs": q_failsafe_aggs,
        "fingerprint": q_fingerprint,
        "flatmap": q_flatmap,
        "fuzzy_pairs": q_fuzzy_pairs,
        "graph_degrees": q_graph_degrees,
        "hash_embeddings": q_hash_embeddings,
        "json_xpath_filter": q_json_xpath_filter,
        "merge_intersect": q_merge_intersect,
        "multimodal_pipeline": q_multimodal_pipeline,
        "nb_classify_pruned": q_nb_classify_pruned,
        "quantiles": q_quantiles,
        "resolve_template": q_resolve_template,
        "sample_group_by_key": q_sample_group_by_key,
        "sample_n_per_group": q_sample_n_per_group,
        "sample_uniq_cap": q_sample_uniq_cap,
        "stats_sequence_stats": q_stats_sequence_stats,
        "token_vocab": q_token_vocab,
        "trends_dataset": q_trends_dataset,
        "aggregate_analytic": q_aggregate_analytic,
        "group_count": q_group_count,
        "quantile_grid": q_quantile_grid,
        "transform_lambda": q_transform_lambda,
        "token_estimate": q_token_estimate,
        "select_regex": q_select_regex,
        "sort_slice": q_sort_slice,
        "const_missing_cols": q_const_missing_cols,
        "ratio_cap": q_ratio_cap,
        "distinct_cols": q_distinct_cols,
        "string_aggs": q_string_aggs,
        "uniq_mkstr": q_uniq_mkstr,
        "time_diffs": q_time_diffs,
        "read_tsv_intersect": q_read_tsv_intersect,
        "etl_date_scan": q_etl_date_scan,
        "inner_join_agg": q_inner_join_agg,
        "left_join_histogram": q_left_join_histogram,
        "map_join_broadcast": q_map_join_broadcast,
        "natural_join": q_natural_join,
        "outer_join_fill": q_outer_join_fill,
        "difference_anti": q_difference_anti,
        "range_join": q_range_join,
        "concat_as_cols": q_concat_as_cols,
        "decontaminate_semantic": q_decontaminate_semantic,
        "doc_chunks": q_doc_chunks,
        "duplicate_spans": q_duplicate_spans,
        "fuzzy_join": q_fuzzy_join,
        "hash_split": q_hash_split,
        "lang_id": q_lang_id,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "normalize_nulls": SQL_NORMALIZE_NULLS,
        "semdedup_corrupt": _sql_semdedup_corrupt(),
        "dedup_near_dupheavy": _sql_dedup_near_dupheavy(),
        "query_graph_job": _sql_query_graph_job(),
        "graph_job_e2e": SQL_GRAPH_JOB_E2E,
        "graph_ancestors_guid": SQL_GRAPH_ANCESTORS_GUID,
        "trends_job_e2e": _sql_trends_job_e2e(),
        "dict_sequence_stats": _sql_dict_sequence_stats(),
        "stats_sequence_stats": _sql_stats_sequence_stats(),
        "trends_dataset": SQL_TRENDS_DATASET,
        "pack_sequences": _sql_pack_sequences(),
        "select_first": SQL_SELECT_FIRST,
        "rest_partitioned": SQL_REST_PARTITIONED,
        "json_xpath_filter": SQL_JSON_XPATH,
        "doc_chunks": SQL_DOC_CHUNKS,
        "token_vocab": SQL_TOKEN_VOCAB,
        "tpch_q1_aggregate": SQL_TPCH_Q1,
        "typed_filters": SQL_TYPED_FILTERS,
        "select_regex": SQL_SELECT_REGEX,
        "inner_join_agg": SQL_INNER_JOIN_AGG,
        "left_join_histogram": SQL_LEFT_JOIN_HISTOGRAM,
        "map_join_broadcast": SQL_MAP_JOIN,
        "difference_anti": SQL_DIFFERENCE,
        "group_count": SQL_GROUP_COUNT,
        "arg_max_topk": SQL_ARG_MAX,
        "arg_min_topk": SQL_ARG_MIN,
        "concat_as_cols": SQL_CONCAT_AS_COLS,
        "natural_join": SQL_NATURAL_JOIN,
        "outer_join_fill": SQL_OUTER_JOIN_FILL,
        "rows_cond_exists": SQL_ROWS_COND_EXISTS,
        "sort_slice": SQL_SORT_SLICE,
        "seq_num": SQL_SEQ_NUM,
        "codec_base64": SQL_CODEC_BASE64,
        "ratio_cap": SQL_RATIO_CAP,
        "const_missing_cols": SQL_CONST_MISSING,
        "distinct_cols": SQL_DISTINCT,
        "window_tumbling": _sql_window(_dsum("e.value"), "value_sum", sliding=False),
        "window_sliding": _sql_window(
            f"(CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(e.value))",
            "value_mean", sliding=True),
        "topk_per_group": SQL_TOPK,
        "aggregate_analytic": SQL_AGG_ANALYTIC,
        "cumulative_sum": SQL_CUMSUM,
        "merge_union": SQL_MERGE_UNION,
        "pivot": SQL_PIVOT,
        "explode_json": SQL_EXPLODE_JSON,
        "split_str": SQL_SPLIT_STR,
        "replicate_rows": SQL_REPLICATE,
        "text_metrics": SQL_TEXT_METRICS,
        "text_quality_filter": SQL_TEXT_QUALITY,
        "lang_id": SQL_LANG_ID,
        "fingerprint": SQL_FINGERPRINT,
        "generate_key_hash": _sql_generate_key_hash(),
        "sample_group_by_key": _sql_sample_group_by_key(),
        "sample_uniq_cap": _sql_sample_uniq_cap(),
        "ttest": _sql_ttest(),
        "dedup_exact": SQL_DEDUP_EXACT,
        "duplicate_spans": DD.duplicate_span_stats_sql_duck(n=8),
        "remove_dup_spans": SQL_REMOVE_DUP_SPANS_WRAP.format(
            inner=DD.remove_duplicate_spans_sql_duck(n=8)),
        "ngram_jaccard": _sql_ngram_jaccard(),
        "asof_join": SQL_ASOF_JOIN,
        "asof_bucketed": SQL_ASOF_JOIN,
        "range_join": SQL_RANGE_JOIN,
        "sessionize": SQL_SESSIONIZE,
        "dedup_cluster": _sql_dedup_cluster(),
        "tfidf_top_terms": SQL_TFIDF,
        "inverted_index": SQL_INVERTED_INDEX,
        "bm25_rank": SR.bm25_sql_duck("documents", "window merge vector"),
        "hash_split": _sql_hash_split(),
        "stream_sessions": SQL_STREAM_SESSIONS,
        "pipeline_e2e": _sql_pipeline_e2e(),
        "normalize": SQL_NORMALIZE,
        "redact_pii": _sql_redact_pii(),
        "rolling_aggregate": SQL_ROLLING,
        "rolling_bucketed": SQL_ROLLING,
        "sessionize_bucketed": SQL_SESSIONIZE_BUCKETED,
        "merge_intervals_islands": SQL_MERGE_INTERVALS,
        "merge_intervals_bucketed": SQL_MERGE_INTERVALS,
        "jira_search": SQL_JIRA_SEARCH,
        "stream_dedup": SQL_STREAM_DEDUP,
        "stream_lsh_candidates": _sql_stream_lsh(),
        "distribution_stats": _sql_distribution_stats(),
        "distribution_drift": _sql_distribution_drift(),
        "sample_n_per_group": _sql_sample_n_per_group(),
        "bloom_search": SQL_BLOOM_SEARCH,
        "parent_hierarchy": SQL_PARENT_HIERARCHY,
        "trend_scores": _sql_trend_scores(),
        "repetition_metrics": _sql_repetition(),
        "decontaminate": _sql_decontaminate(),
        "lm_score": _sql_lm_score(),
        "mix_sources": _sql_mix_sources(),
        "mix_sources_weighted": _sql_mix_sources_weighted(),
        "graphviz_dot": SQL_GRAPHVIZ_DOT,
        "geomap_mercator": SQL_GEOMAP_MERCATOR,
        "sankey_links": SQL_SANKEY_LINKS,
        "asof_nearest": SQL_ASOF_NEAREST,
        "asof_nearest_bucketed": SQL_ASOF_NEAREST,
        "sample_weighted": _sql_sample_weighted(),
        "profile": _sql_profile(),
        "stream_running_counts": SQL_STREAM_RUNNING_COUNTS,
        "minhash_signatures": _sql_minhash(),
        "simhash": _sql_simhash(),
        "dedup_minhash_lsh": _sql_dedup_minhash_lsh(),
        "cosine_topk": _sql_cosine_topk(),
        "similarity_ivf": _sql_similarity_ivf(),
        "similarity_lsh": _sql_similarity_lsh(),
        "kmeans_clusters": _sql_kmeans_clusters(),
        "semdedup": _sql_semdedup(),
        "hash_embeddings": _sql_hash_embeddings(),
        "decontaminate_semantic": _sql_decontaminate_semantic(),
        "decontaminate_semantic_clustered":
            _sql_decontaminate_semantic_clustered(),
        "search_job_e2e": _sql_search_job_e2e(),
        "fuzzy_pairs": SQL_FUZZY_PAIRS,
        "fuzzy_join": SQL_FUZZY_JOIN,
        "dedup_fuzzy": SQL_DEDUP_FUZZY,
        "leakage_safe_split": _sql_leakage_safe_split(),
        "dsir_weights": _sql_dsir_weights(),
        "dsir_select": _sql_dsir_select(),
        "token_estimate": _sql_token_estimate(),
        "nb_classify": _sql_nb_classify(),
        "nb_classify_pruned": _sql_nb_classify_pruned(),
        "embedding_near_dup": _sql_embedding_near_dup(),
        "dedup_embedding": """
WITH p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
           FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
           WHERE ROUND(""" + SIM.cosine_sql_duck("a.embedding", "b.embedding") + """, 6) >= 0.4
             AND (""" + SIM.cosine_sql_duck("a.embedding", "b.embedding")
                + """ - (""" + SIM.cosine_sql_duck("a.embedding", "b.embedding") + """)) = 0)
SELECT vec_id, label FROM embeddings WHERE vec_id NOT IN (SELECT id_b FROM p)
""",
        "quantiles": SQL_QUANTILES,
        "quantile_grid": SQL_QUANTILE_GRID,
        "failsafe_aggs": SQL_FAILSAFE_AGGS,
        "uniq_mkstr": SQL_UNIQ_MKSTR,
        "read_tsv_intersect": SQL_READ_TSV_INTERSECT,
        "read_text_roundtrip": SQL_READ_TEXT_ROUNDTRIP,
        "read_xml_roundtrip": SQL_READ_XML_ROUNDTRIP,
        "etl_date_scan": SQL_ETL_DATE_SCAN,
        "timefuncs_ladder": SQL_TIMEFUNCS_LADDER,
        "time_diffs": SQL_TIME_DIFFS,
        "explode_json_zip": SQL_EXPLODE_JSON_ZIP,
        "explode_json_join": SQL_EXPLODE_JSON_JOIN,
        "string_aggs": SQL_STRING_AGGS,
        "merge_intersect": SQL_MERGE_INTERSECT,
        "resolve_template": SQL_RESOLVE_TEMPLATE,
        "minmax_range": SQL_MINMAX_RANGE,
        "group_by_key": SQL_GROUP_BY_KEY,
        "explode_udtf": SQL_EXPLODE_UDTF,
        "flatmap": SQL_FLATMAP,
        "transform_lambda": SQL_TRANSFORM_LAMBDA,
        "sql_pushdown": SQL_SQL_PUSHDOWN,
        "stream_window": SQL_STREAM_WINDOW,
        "ws_enrich": SQL_WS_ENRICH,
        "model_enrich": SQL_MODEL_ENRICH,
        "multimodal_pipeline": SQL_MULTIMODAL,
        "graph_bfs": SQL_GRAPH_BFS,
        "graph_degrees": SQL_GRAPH_DEGREES,
        "graph_ancestors": SQL_GRAPH_ANCESTORS,
        "graph_remove_cycles": SQL_GRAPH_REMOVE_CYCLES,
        "graph_dangling": _sql_graph_dangling(),
        "graph_time_ancestors": SQL_GRAPH_TIME_ANCESTORS,
        "graph_merge_nodes": SQL_GRAPH_MERGE_NODES,
    }
