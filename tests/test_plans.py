"""Physical-plan invariants: the scale properties the engine is designed
around, asserted on the real bench queries at sf0.001. A plan regression
(lost pushdown, join degraded to cartesian, single-partition window)
fails here even while row-level results stay correct."""

import pytest

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def _plan(spark, name):
    df = entry.queries()[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    p = _plan(spark, "typed_filters")
    assert "PushedFilters: [" in p
    assert "EqualTo(l_returnflag,R)" in p
    assert "GreaterThan(l_quantity" in p  # display truncates the value


def test_projection_prunes_scan_columns(spark):
    p = _plan(spark, "select_regex")
    # only the three referenced columns reach the parquet reader
    assert "ReadSchema: struct<l_orderkey:bigint,l_linenumber:int," \
           "l_extendedprice:double>" in p


def test_dim_join_broadcasts(spark):
    assert "BroadcastHashJoin" in _plan(spark, "map_join_broadcast")


def test_no_cartesian_products_in_relational_queries(spark):
    for name in ["inner_join_agg", "left_join_histogram", "difference_anti",
                 "ngram_jaccard", "similarity_lsh"]:
        assert "CartesianProduct" not in _plan(spark, name), name


def test_aggregate_is_partial_then_final(spark):
    # map-side combine: two HashAggregate levels around the exchange
    p = _plan(spark, "tpch_q1_aggregate")
    assert p.count("HashAggregate") >= 2
    assert "partial_" in p


def test_difference_is_anti_join_not_exists_scan(spark):
    p = _plan(spark, "difference_anti")
    assert "LeftAnti" in p


def test_cumulative_sum_avoids_global_single_partition_window(spark):
    p = _plan(spark, "cumulative_sum")
    # the prefix-sum rewrite keys the window by partition id; a global
    # orderBy window would show an Exchange SinglePartition feeding Window
    assert "Window" in p
    import re
    assert not re.search(r"Exchange SinglePartition[\s\S]{0,400}Window", p)


def test_window_aggregate_has_no_single_partition_window(spark):
    # distinct-value numbering uses the two-phase rank, not a global
    # Window.orderBy; group_count's total is a 1-row broadcast, not an
    # unpartitioned window
    import re

    for name in ["window_tumbling", "window_sliding", "group_count"]:
        p = _plan(spark, name)
        assert not re.search(r"Exchange SinglePartition[\s\S]{0,400}Window", p), name


def test_timefuncs_ladder_is_pure_expressions(spark):
    # the sniffing ladder must stay in the scan/project stages — no
    # Python evaluation, no shuffle beyond the final aggregate
    p = _plan(spark, "timefuncs_ladder")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert p.count("Exchange") <= 1  # just the groupBy


def test_new_reshape_queries_have_no_cartesian(spark):
    for name in ["explode_json_zip", "explode_json_join", "string_aggs"]:
        assert "CartesianProduct" not in _plan(spark, name), name


def test_group_count_total_is_broadcast_not_window(spark):
    p = _plan(spark, "group_count")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    assert "Window" not in p


def test_lsh_join_is_bucket_equijoin(spark):
    p = _plan(spark, "similarity_lsh")
    assert "BroadcastHashJoin [bucket" in p or "bucket#" in p
    assert "CartesianProduct" not in p


def test_topk_per_group_is_rank_filter_not_sort_all(spark):
    p = _plan(spark, "topk_per_group")
    assert "row_number" in p
    # ranking runs per-group (hashpartitioning on the group key), never a
    # global single-partition sort
    assert "Exchange hashpartitioning" in p


def test_doc_chunks_is_shuffle_free(spark):
    # chunking is a map-side fan-out: generate/explode with NO Exchange
    p = _plan(spark, "doc_chunks")
    assert "Generate" in p
    assert "Exchange hashpartitioning" not in p
    assert "Exchange rangepartitioning" not in p


def test_token_vocab_aggregates_partial_then_final(spark):
    # vocabulary shuffle must be preceded by map-side partial aggregation
    p = _plan(spark, "token_vocab")
    assert "partial_" in p
    assert p.count("HashAggregate") >= 2
    assert "CartesianProduct" not in p


def test_json_xpath_filter_stays_jvm_side(spark):
    # dict-form filter compiles to get_json_object expressions: no
    # BatchEvalPython / ArrowEvalPython stage in the plan
    p = _plan(spark, "json_xpath_filter")
    assert "EvalPython" not in p


def test_asof_join_is_window_not_inequality_join(spark):
    # the as-of compiles to union + window over the key: no BNLJ/cartesian
    p = _plan(spark, "asof_join")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Window" in p
    assert "Union" in p


def test_range_join_is_binned_equijoin(spark):
    # the interval predicate must ride an equi-join on (key, bin), never
    # a nested-loop over the inequality alone
    p = _plan(spark, "range_join")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "__bin__" in p


def test_sessionize_shares_one_sort(spark):
    # lag + running sum + the stats agg: exactly one hashpartitioning
    # exchange on the session key feeds it all
    p = _plan(spark, "sessionize")
    assert p.count("Exchange hashpartitioning") == 1
    import re
    assert not re.search(r"Exchange SinglePartition[\s\S]{0,400}Window", p)


def test_tfidf_aggregates_partial_then_final(spark):
    p = _plan(spark, "tfidf_top_terms")
    assert "partial_" in p
    assert "CartesianProduct" not in p
    import re
    assert not re.search(r"Exchange SinglePartition[\s\S]{0,400}Window", p)


def test_inverted_index_bounded_term_shuffles(spark):
    """r13 de-skew: the rank path (WindowGroupLimit pre-limits every map
    task to max_postings rows per term) and the doc_freq path (partial
    agg) each shuffle once; the join reuses term partitioning. The old
    single-exchange shape computed doc_freq as a full-partition count
    window in the rank partition — which defeated WindowGroupLimit and
    landed a stopword's entire posting list in one task."""
    p = _plan(spark, "inverted_index")
    assert p.count("Exchange hashpartitioning") == 2
    assert "partial_" in p  # partial aggregation before the exchanges
    assert "WindowGroupLimit" in p


def test_pipeline_e2e_no_cartesian_partial_aggs(spark):
    p = _plan(spark, "pipeline_e2e")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "partial_" in p


def test_profile_default_has_no_expand(spark):
    # N exact countDistinct in one agg compiles to an Expand node that
    # duplicates every scanned row ~once per distinct aggregate — the
    # default (approx_count_distinct) must not
    from omigo_data_analytics_spark.core.dataframe import OmigoDF
    o = OmigoDF(spark.read.parquet(f"{SF}/orders.parquet"))
    default_plan = (o.profile(["o_orderkey", "o_custkey"])
                    .df._jdf.queryExecution().executedPlan().toString())
    assert "Expand" not in default_plan
    # the exact path avoids Expand too since its stack rewrite: explicit
    # map-side fan-out + two plain partial+final hash aggregations
    exact_plan = (o.profile(["o_orderkey", "o_custkey"], exact=True)
                  .df._jdf.queryExecution().executedPlan().toString())
    assert "Expand" not in exact_plan
    assert "partial_count" in exact_plan or "HashAggregate" in exact_plan


def test_arg_minmax_mapside_topk(spark):
    """arg_max/arg_min must plan a Partial WindowGroupLimit BEFORE the
    exchange: each map task pre-filters to its local top-k per group, so
    the shuffle carries k rows per group per task instead of the whole
    corpus (the old collect_list form shipped entire groups as single
    unsplittable array rows — measured 32 MB across 9 rows at sf0.1)."""
    import re
    p = _plan(spark, "arg_max_topk")
    # toString is top-down: the map-side (Partial) limit prints BELOW the
    # exchange it feeds
    i_exch = p.index("Exchange hashpartitioning")
    assert re.search(r"WindowGroupLimit.*Partial", p[i_exch:]), \
        "no map-side partial window-group limit below the exchange"


@pytest.mark.parametrize("call", [
    lambda d: d.sample_class_by_max_values("lang", 2),
    lambda d: d.sample_group_by_topk(["lang"], "n_chars", 2),
    lambda d: d.sample_n_per_group(["lang"], 2, key_cols=["doc_id"]),
    lambda d: d.sample_group_by_max_uniq_values_exact(["lang"], "source", 1),
], ids=["class_by_max_values", "group_by_topk", "n_per_group",
        "max_uniq_values_exact"])
def test_per_group_rank_samplers_mapside_limit(spark, call):
    """Every sampler ranking rows ≤ k per group feeds its group exchange
    from a Partial WindowGroupLimit: each map task ships at most k rows
    per group, never the whole group."""
    import re

    from omigo_data_analytics_spark.sources.io import load_testdata

    d = call(load_testdata(spark, SF, "documents"))
    p = d.df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"Exchange hashpartitioning\(lang#\d+, \d+\)[^\n]*\n"
                     r"\W*WindowGroupLimit \[lang#\d+\][^\n]*Partial", p), p


def test_plan_shapes_match_golden(spark):
    """Every registry query's physical-plan node counts (Exchange, Sort,
    Window, joins, aggregates, Union, Python evals, CollectMetrics) equal
    plans/shape.json, so "same plan" across a refactor is a test, not a
    reviewer reading a diff. An intended plan change regenerates the file
    and commits the diff."""
    import json

    from tools import capture_plans as cp

    with open(cp.SHAPE_PATH) as fh:
        golden = json.load(fh)
    got = cp.capture(spark)
    diffs = []
    for name in sorted(set(golden) | set(got)):
        old, new = golden.get(name), got.get(name)
        if old is None or new is None:
            diffs.append(f"{name}: {'new query' if old is None else 'gone'}")
        elif old != new:
            delta = ", ".join(f"{n} {old[n]}->{new[n]}" for n in cp.NODES
                              if old.get(n) != new.get(n))
            diffs.append(f"{name}: {delta}")
    assert not diffs, ("plan shapes differ from plans/shape.json:\n  "
                       + "\n  ".join(diffs)
                       + f"\nif intended, regenerate with: {cp.REGEN_CMD}")
