"""Graph operator tests on small hand-built graphs."""

import pytest

from omigo_data_analytics_spark import OmigoDF
from omigo_data_analytics_spark.operators import graph as G


def _edges(spark, rows):
    return OmigoDF(spark.createDataFrame(rows, ["src", "dst"]))


def test_bfs_levels_min_level_and_cycles(spark):
    # a -> b -> c -> a (cycle), b -> d, d -> e; seed a
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a"), ("b", "d"), ("d", "e")])
    out = {r["node_id"]: r["level"] for r in G.bfs_levels(e, ["a"]).df.collect()}
    assert out == {"a": 0, "b": 1, "c": 2, "d": 2, "e": 3}


def test_bfs_levels_multi_seed(spark):
    e = _edges(spark, [("a", "b"), ("x", "b"), ("b", "c")])
    out = {r["node_id"]: r["level"] for r in G.bfs_levels(e, ["a", "x"]).df.collect()}
    assert out == {"a": 0, "x": 0, "b": 1, "c": 2}


def test_degrees(spark):
    e = _edges(spark, [("a", "b"), ("a", "c"), ("b", "c")])
    out = {r["node_id"]: (r["out_degree"], r["in_degree"])
           for r in G.degrees(e).df.collect()}
    assert out == {"a": (2, 0), "b": (1, 1), "c": (0, 2)}


def test_ancestors_transitive(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("b", "d")])
    out = {(r["node_id"], r["ancestor"]) for r in G.ancestors(e).df.collect()}
    assert out == {("b", "a"), ("c", "b"), ("c", "a"), ("d", "b"), ("d", "a")}


def test_remove_dangling_edges(spark):
    # chain a->b->c->d ; keep {d}: all survive. keep {}: all pruned.
    rows = [("a", "b"), ("b", "c"), ("c", "d")]
    e = _edges(spark, rows)
    kept = G.remove_dangling_edges(e, ["d"]).df.collect()
    assert {(r["src"], r["dst"]) for r in kept} == set(rows)
    none = G.remove_dangling_edges(e, []).df.collect()
    assert none == []


def test_remove_cycles_time_order(spark):
    # u->v at t=1, v->u at t=0 is a back-edge (u first reached at t=... )
    rows = [("u", "v", 1), ("v", "u", 0), ("w", "u", 5)]
    e = OmigoDF(spark.createDataFrame(rows, ["src", "dst", "ts"]))
    out = {(r["src"], r["dst"]) for r in G.remove_cycles(e, "ts").df.collect()}
    # v first reached at ts=1, so v->u@0 violates time order and is dropped;
    # u first reached at ts=0; u->v@1 ok; w never a dst -> survives
    assert out == {("u", "v"), ("w", "u")}


def test_time_ordered_ancestors(spark):
    # a -(1)-> b -(2)-> c : time-ordered path a->c exists
    # x -(5)-> y -(3)-> z : x->z violates time order (5 then 3)
    rows = [("a", "b", 1), ("b", "c", 2), ("x", "y", 5), ("y", "z", 3)]
    e = OmigoDF(spark.createDataFrame(rows, ["src", "dst", "ts"]))
    out = {(r["node_id"], r["ancestor"])
           for r in G.time_ordered_ancestors(e, "ts").df.collect()}
    assert ("c", "a") in out and ("c", "b") in out
    assert ("z", "y") in out and ("z", "x") not in out


def test_time_ordered_ancestors_multiplicity_and_min_arrival(spark):
    """Duplicate (src,dst) events at many timestamps (the pre-grouped
    sorted-ts-array path) and arrival minimization through a later hop:
    a->b has edges at ts 5 and 9; b->c at ts 3 and 7. Path a->c must use
    the FIRST eligible b->c edge after each arrival: arrive b at 5 ->
    b->c at 7 (not 3, not 9). Also brute-force cross-check."""
    rows = [("a", "b", 5), ("a", "b", 9), ("a", "b", 5),  # dup event
            ("b", "c", 3), ("b", "c", 7),
            ("c", "d", 6),   # too early after arriving c at 7 -> no a->d
            ("c", "d", 8)]   # eligible: a->d arrives 8
    e = OmigoDF(spark.createDataFrame(rows, ["src", "dst", "ts"]))
    out = {(r["node_id"], r["ancestor"]): r["arr_ts"]
           for r in G.time_ordered_ancestors(e, "ts").df.collect()}
    assert out[("b", "a")] == 5
    assert out[("c", "b")] == 3        # direct min edge
    assert out[("c", "a")] == 7        # first b->c edge >= 5
    assert out[("d", "c")] == 6
    assert out[("d", "b")] == 6        # b->c at 3, then c->d at 6
    assert out[("d", "a")] == 8        # a(5)->b, b->c(7), c->d(8)


def test_time_ordered_ancestors_all_null_ts_pair(spark):
    # a (src,dst) pair whose every ts is NULL must not throw (empty
    # sorted set -> get() null). Parity with the pre-array version:
    # the direct pair stays reachable with NULL arrival (min over an
    # all-null group), but nothing extends through it (ts >= NULL is
    # never true)
    rows = [("a", "b", None), ("b", "c", 2)]
    e = OmigoDF(spark.createDataFrame(rows, "src string, dst string, ts int"))
    sc = spark.sparkContext
    sc.setJobGroup("tta_nullts", "convergence check")
    try:
        out = {(r["node_id"], r["ancestor"]): r["arr_ts"]
               for r in G.time_ordered_ancestors(e, "ts").df.collect()}
    finally:
        n_jobs = len(sc.statusTracker().getJobIdsForGroup("tta_nullts"))
        sc.setJobGroup(None, None)
    assert set(out) == {("b", "a"), ("c", "b")}
    assert out[("b", "a")] is None and ("c", "a") not in out
    # convergence must NOT be defeated by the NULL-arrival state: the loop
    # exits after ~2 rounds (a handful of jobs), not max_iter=30 rounds
    assert n_jobs < 20, f"null-ts pair kept the frontier alive: {n_jobs} jobs"


def test_merge_similar_nodes(spark):
    # leaves l1, l2 share parent set {a, b}; l3 has parent set {a}
    rows = [("a", "l1"), ("b", "l1"), ("a", "l2"), ("b", "l2"), ("a", "l3")]
    e = OmigoDF(spark.createDataFrame(rows, ["src", "dst"]))
    out = {(r["src"], r["dst"]) for r in G.merge_similar_nodes(e).df.collect()}
    assert out == {("a", "l1"), ("b", "l1"), ("a", "l3")}


def test_merge_similar_nodes_no_delimiter_collision(spark):
    # parent sets {"a,b"} and {"a","b"} serialize identically under a
    # ','-joined signature — the leaves must NOT merge (r10 review: the
    # signature is now the sorted parent array itself)
    rows = [("a,b", "l1"), ("a", "l2"), ("b", "l2")]
    e = OmigoDF(spark.createDataFrame(rows, ["src", "dst"]))
    out = {(r["src"], r["dst"]) for r in G.merge_similar_nodes(e).df.collect()}
    assert out == {("a,b", "l1"), ("a", "l2"), ("b", "l2")}


def test_get_bfs_levels_bidirectional(spark):
    # a -> b -> c ; z -> a. Seed {a}: forward reaches b,c; reverse reaches z.
    e = _edges(spark, [("a", "b"), ("b", "c"), ("z", "a")])
    out = {r["node_id"]: r["level"]
           for r in G.get_bfs_levels(e, ["a"]).df.collect()}
    assert out == {"a": 0, "b": 1, "c": 2, "z": 1}


def test_get_bfs_levels_hostile_dotted_cols(spark):
    # r14 ADVICE (medium): the reversed projection used bare F.col, so
    # dotted src/dst names raised AnalysisException — must be quoted
    e = OmigoDF(spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("z", "a")], ["src.x", "dst.y"]))
    out = {r["node_id"]: r["level"]
           for r in G.get_bfs_levels(e, ["a"], src_col="src.x",
                                     dst_col="dst.y").df.collect()}
    assert out == {"a": 0, "b": 1, "c": 2, "z": 1}


def test_get_forward_edges_only_ancestor_merge(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("x", "c")])
    out = {r["node_id"]: r["fwd:ancestors"]
           for r in G.get_forward_edges_only(e).df.collect()}
    assert out["b"] == "a"
    assert out["c"] == "a,b,x"


def test_get_time_based_forward_edges_only(spark):
    rows = [("a", "b", 1), ("b", "c", 2), ("x", "y", 5), ("y", "z", 3)]
    e = OmigoDF(spark.createDataFrame(rows, ["src", "dst", "ts"]))
    out = {r["node_id"]: r["fwd:ancestors"]
           for r in G.get_time_based_forward_edges_only(e).df.collect()}
    assert out["c"] == "a,b"
    assert out["z"] == "y"  # x excluded: 5 -> 3 violates time order


def test_split_graph_filter_func():
    ann = {"d1": (100, 200)}
    keep = lambda n: n == "ROOT"
    f = G.split_graph_filter_func
    # special node always kept
    assert f("ROOT", "d1", "999", {"d1"}, ann, keep)
    # edge not touching retained set kept
    assert f("a", "b", "5", {"d1"}, ann, keep)
    # incoming edge to retained node after its window end -> dropped
    assert not f("a", "d1", "201", {"d1"}, ann, keep)
    assert f("a", "d1", "150", {"d1"}, ann, keep)
    # outgoing edge from retained node before window start -> dropped
    assert not f("d1", "b", "99", {"d1"}, ann, keep)
    assert f("d1", "b", "100", {"d1"}, ann, keep)


def test_apply_time_order_based_filter(spark):
    # l = (a->b) with min ts 10; r = (b->c) with max ts 5: infeasible pair.
    # b is retained -> l touches retained vertex -> exclude r.
    erows = [("a", "b", 10), ("b", "c", 5)]
    e = OmigoDF(spark.createDataFrame(erows, ["src", "dst", "ts"]))
    v = OmigoDF(spark.createDataFrame([("a",), ("b",), ("c",)], ["node_id"]))
    v2, e2 = G.apply_time_order_based_filter(v, e, ["b"])
    kept = {(r["src"], r["dst"]) for r in e2.df.collect()}
    assert kept == {("a", "b")}
    assert {r["node_id"] for r in v2.df.collect()} == {"a", "b"}


def test_apply_time_order_based_filter_feasible_pairs_untouched(spark):
    erows = [("a", "b", 1), ("b", "c", 5)]
    e = OmigoDF(spark.createDataFrame(erows, ["src", "dst", "ts"]))
    v = OmigoDF(spark.createDataFrame([("a",), ("b",), ("c",)], ["node_id"]))
    v2, e2 = G.apply_time_order_based_filter(v, e, ["b"])
    assert {(r["src"], r["dst"]) for r in e2.df.collect()} == set(
        (s, d) for s, d, _ in erows)


def test_parent_hierarchy_chains_pad_and_canonicalize(spark):
    from omigo_data_analytics_spark.operators.graph import parent_hierarchy

    e = OmigoDF(spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("d", "c"), ("x", "a"),
         ("dup", "b"), ("dup", "a")],  # malformed double parent
        "child string, parent string"))
    rows = {r["node_id"]: r for r in parent_hierarchy(e, levels=3).df.collect()}
    d = rows["d"]
    assert (d["parent_1"], d["parent_2"], d["parent_3"]) == ("c", "b", "a")
    b = rows["b"]
    assert b["parent_1"] == "a" and b["parent_2"] is None
    assert rows["dup"]["parent_1"] == "a"  # min-parent canonical chain
    # cycle truncates at levels instead of looping
    cyc = OmigoDF(spark.createDataFrame(
        [("p", "q"), ("q", "p")], "child string, parent string"))
    r = {x["node_id"]: x for x in parent_hierarchy(cyc, levels=4).df.collect()}
    assert (r["p"]["parent_1"], r["p"]["parent_2"],
            r["p"]["parent_3"], r["p"]["parent_4"]) == ("q", "p", "q", "p")


def test_encode_vertices_identical_results(spark):
    """Dictionary-encoded runs must return exactly the un-encoded results
    (ids are decoded before return), including a seed absent from the
    edge table (level-0 row must survive the dictionary build)."""
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a"), ("b", "d"),
                       ("d", "e")])
    plain = {(r["node_id"], r["level"])
             for r in G.bfs_levels(e, ["a", "zz"]).df.collect()}
    enc = {(r["node_id"], r["level"])
           for r in G.bfs_levels(e, ["a", "zz"],
                                 encode_vertices=True).df.collect()}
    assert enc == plain and ("zz", 0) in enc

    dag = _edges(spark, [("a", "b"), ("b", "c"), ("b", "d"), ("d", "f")])
    assert ({tuple(r) for r in G.ancestors(dag, encode_vertices=True)
             .df.collect()}
            == {tuple(r) for r in G.ancestors(dag).df.collect()})

    rows = [("a", "b", 1), ("b", "c", 2), ("x", "y", 5), ("y", "z", 3),
            ("a", "b", 4)]
    te = OmigoDF(spark.createDataFrame(rows, ["src", "dst", "ts"]))
    assert ({tuple(r) for r in
             G.time_ordered_ancestors(te, "ts", encode_vertices=True)
             .df.collect()}
            == {tuple(r) for r in
                G.time_ordered_ancestors(te, "ts").df.collect()})


def test_encode_vertices_loop_shuffles_bigint(spark):
    """With encoding on, the iteration state is BIGINT — the dictionary is
    built once and the per-round frontier/closure never carries the
    string id (decode happens only at the tail)."""
    e = _edges(spark, [("a", "b"), ("b", "c")])
    out = G.bfs_levels(e, ["a"], encode_vertices=True)
    # output schema is decoded back to the input vertex type
    assert dict(out.df.dtypes)["node_id"] == "string"
    anc = G.ancestors(e, encode_vertices=True).df
    assert dict(anc.dtypes) == {"node_id": "string", "ancestor": "string"}


def test_encode_vertices_small_dict_broadcasts(spark):
    """A dictionary under _DICT_BROADCAST_MAX_ROWS must ride the
    encode/decode joins as a broadcast: the dictionary is checkpointed
    (no size stats), so without the explicit hint Spark sort-merge-joins
    and shuffles the corpus-sized side — measured 10x MORE shuffle than
    no encoding at all."""
    e = _edges(spark, [(f"n{i}", f"n{i+1}") for i in range(20)])
    out = G.ancestors(e, encode_vertices=True).df
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_analysis_job_composition(spark):
    """The matel-flow composition: dangling prune (protect z), cycle
    removal, BFS + ancestor summary — hand-checked micro-graph."""
    rows = [("a", "b", 1), ("b", "c", 2), ("c", "b", 1),  # c->b back-edge
            ("b", "z", 3),                                 # kept artifact
            ("b", "w", 3)]                                 # unprotected leaf
    e = OmigoDF(spark.createDataFrame(rows, ["src", "dst", "ts"]))
    out = {r["node_id"]: (r["level"], r["n_ancestors"], r["ancestors"])
           for r in G.analysis_job(e, "ts", ["z"], ["a"]).df.collect()}
    # b->w pruned (w a leaf, unprotected); c->b@1 dropped (b first seen
    # at ts=2 via... b first seen as dst at ts=1 (a->b@1); c->b@1 needs
    # ts >= first_ts(c)=2 -> dropped. Remaining: a->b, b->c, b->z.
    assert set(out) == {"a", "b", "c", "z"}
    assert out["a"] == (0, 0, "")
    assert out["b"] == (1, 1, "a")
    assert out["c"] == (2, 2, "a,b")
    assert out["z"] == (2, 2, "a,b")
    # encoded run returns the identical summary
    enc = {r["node_id"]: (r["level"], r["n_ancestors"], r["ancestors"])
           for r in G.analysis_job(e, "ts", ["z"], ["a"],
                                   encode_vertices=True).df.collect()}
    assert enc == out


def test_encode_vertices_large_dict_fallback(spark, monkeypatch):
    """Above _DICT_BROADCAST_MAX_ROWS the dictionary must NOT be
    force-broadcast (a billion-vertex dict would OOM the driver at
    scale) — the join falls back to AQE's choice and results are
    unchanged."""
    monkeypatch.setattr(G, "_DICT_BROADCAST_MAX_ROWS", 1)
    e = _edges(spark, [("a", "b"), ("b", "c"), ("b", "d")])
    got = {tuple(r) for r in G.ancestors(e, encode_vertices=True).df.collect()}
    assert got == {("b", "a"), ("c", "b"), ("c", "a"), ("d", "b"), ("d", "a")}


def test_encode_vertices_null_ts_pair_identical(spark):
    """The encoded path must preserve the NULL-arrival semantics: the
    all-null pair stays reachable with NULL arrival, nothing extends
    through it, and results equal the un-encoded run."""
    rows = [("a", "b", None), ("b", "c", 2), ("c", "d", 3)]
    e = OmigoDF(spark.createDataFrame(rows, "src string, dst string, ts int"))
    plain = {tuple(r) for r in G.time_ordered_ancestors(e, "ts").df.collect()}
    enc = {tuple(r) for r in G.time_ordered_ancestors(
        e, "ts", encode_vertices=True).df.collect()}
    assert enc == plain
    assert ("b", "a", None) in enc and not any(
        n == "c" and a == "a" for (n, a, _t) in enc)


def test_encode_vertices_rejects_null_ids(spark):
    """Encoding NULL vertex ids would silently change traversal
    semantics (or drop rows at the encode join) — must raise."""
    import pytest as _pt

    e = OmigoDF(spark.createDataFrame(
        [("a", None), ("a", "b")], "src string, dst string"))
    with _pt.raises(ValueError, match="NULL vertex ids"):
        G.ancestors(e, encode_vertices=True)


# ---------------------------------------------------- job-count pins
# The graph family's deterministic cost layer: Spark jobs submitted while
# each traversal is constructed, and by one collect() of its result, on a
# micro-graph with a cycle (b->c->d->b), a branch (b->e) and a separate
# component (x->y). The counts are the same at local[2] and local[4]. A
# refactor of graph.py must leave every pin as it is; a change that adds
# or removes a job must say so and update the table.
_PIN_EDGES = [("a", "b", 1), ("b", "c", 2), ("c", "d", 3), ("b", "e", 4),
              ("d", "b", 5), ("x", "y", 1)]

_PIN_CALLS = {
    "bfs_levels": lambda e, enc: G.bfs_levels(e, ["a"], encode_vertices=enc),
    "ancestors": lambda e, enc: G.ancestors(e, encode_vertices=enc),
    "time_ordered_ancestors": lambda e, enc: G.time_ordered_ancestors(
        e, "ts", encode_vertices=enc),
    "get_bfs_levels": lambda e, enc: G.get_bfs_levels(e, ["a"]),
    "analysis_job": lambda e, enc: G.analysis_job(
        e, "ts", ["e"], ["a"], encode_vertices=enc),
    "remove_dangling_edges": lambda e, enc: G.remove_dangling_edges(
        e, ["e"]),
}

# (call, encode_vertices) -> (construct jobs, collect jobs)
_PIN_JOBS = {
    ("bfs_levels", False): (35, 1),
    ("bfs_levels", True): (40, 2),
    ("ancestors", False): (26, 1),
    ("ancestors", True): (30, 2),
    ("time_ordered_ancestors", False): (22, 1),
    ("time_ordered_ancestors", True): (26, 2),
    ("get_bfs_levels", False): (47, 2),
    ("analysis_job", False): (74, 6),
    ("analysis_job", True): (83, 8),
    ("remove_dangling_edges", False): (11, 1),
}


@pytest.mark.parametrize("call,enc", sorted(_PIN_JOBS),
                         ids=[f"{c}-{'enc' if e else 'plain'}"
                              for c, e in sorted(_PIN_JOBS)])
def test_graph_job_count_pins(spark, jobs_in_group, call, enc):
    e = OmigoDF(spark.createDataFrame(_PIN_EDGES, "src string, dst string, "
                                                  "ts int"))
    out, construct = jobs_in_group(lambda: _PIN_CALLS[call](e, enc))
    _, collect = jobs_in_group(out.df.collect)
    assert (construct, collect) == _PIN_JOBS[(call, enc)]


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def test_list_seeds_equal_their_dataframe_twin(spark):
    """A vertex list means exactly the one-column node_id frame of the edge
    column's type: [] is an empty frame, [None] a NULL vertex, and an
    inferred value is cast like before ([1] on string edges is "1")."""
    e = _edges(spark, [("a", "b"), ("b", "c"), ("1", "a")])

    def twin(vals):
        return spark.createDataFrame([(v,) for v in vals], "node_id string")

    for vals in ([], [None], ["a", None]):
        assert (_rows(G.bfs_levels(e, vals).df)
                == _rows(G.bfs_levels(e, twin(vals)).df)), vals
    assert _rows(G.bfs_levels(e, [None]).df) == [(None, 0)]
    assert _rows(G.bfs_levels(e, [1]).df) == _rows(
        G.bfs_levels(e, twin(["1"])).df)
    assert (_rows(G.get_bfs_levels(e, []).df)
            == _rows(G.get_bfs_levels(e, twin([])).df) == [])
    for keep in ([None], ["c", None]):
        assert (_rows(G.remove_dangling_edges(e, keep).df)
                == _rows(G.remove_dangling_edges(e, twin(keep)).df)), keep
    te = OmigoDF(spark.createDataFrame(
        [("a", "b", 1), ("b", "c", 2), ("b", "w", 3)],
        "src string, dst string, ts int"))
    assert (_rows(G.analysis_job(te, "ts", ["c"], []).df)
            == _rows(G.analysis_job(te, "ts", ["c"], twin([])).df))


def test_null_vertex_reached_once(spark):
    """NULL is one vertex: reached once at its minimum level (BFS) and one
    closure pair per ancestor, never once per round."""
    e = _edges(spark, [("a", None), ("a", "b"), ("b", None), ("b", "c"),
                       ("c", None)])
    assert _rows(G.bfs_levels(e, ["a"]).df) == sorted(
        [("a", 0), ("b", 1), ("c", 2), (None, 1)], key=repr)
    assert _rows(G.ancestors(e).df) == sorted(
        [("b", "a"), ("c", "a"), ("c", "b"), (None, "a"), (None, "b"),
         (None, "c")], key=repr)


def test_analysis_job_null_vertex_summary(spark):
    """The summary joins are null-safe: the NULL vertex reads the level BFS
    gives it, and a NULL ancestor counts as one vertex though the
    ','-merged list cannot show it."""
    rows = [(None, "b", 1), ("b", "c", 2)]
    e = OmigoDF(spark.createDataFrame(rows, "src string, dst string, ts int"))
    # a NULL vertex never expands, so the seed alone is reached
    assert _rows(G.bfs_levels(e, [None]).df) == [(None, 0)]
    assert _rows(G.analysis_job(e, "ts", ["c"], [None]).df) == sorted(
        [(None, 0, 0, ""), ("b", None, 1, ""), ("c", None, 2, "b")], key=repr)


def _plan(spark, sf_dir, name):
    import __spark_entry__ as entry

    df = entry.queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_merge_similar_nodes_has_no_window(spark, sf_dir):
    """r13: the per-signature representative is a partial-aggregated
    groupBy min + join-back, not a window over psig (a hot signature's
    window partition cannot be split)."""
    p = _plan(spark, sf_dir, "graph_merge_nodes")
    assert "Window" not in p


def test_get_bfs_levels_threaded_order_insensitive(spark):
    """r14: the two directions' loops run overlapped from a thread
    pool — safe because min-union is order-insensitive. Pin that:
    reverse_first (which swaps which loop is 'first') changes nothing,
    a node reachable both ways keeps the MIN level, and custom column
    names survive the shared checkpointed projection."""
    from omigo_data_analytics_spark.operators import graph as G

    # a->b->c->d plus d->a: from seed {a}, d is level 3 forward but
    # level 1 reverse — min must win; z->a gives reverse-only reach
    e = OmigoDF(spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("z", "a")],
        "u string, v string"))
    want = {"a": 0, "b": 1, "c": 2, "d": 1, "z": 1}
    for rf in (False, True):
        out = {r["node_id"]: r["level"]
               for r in G.get_bfs_levels(e, ["a"], reverse_first=rf,
                                         src_col="u", dst_col="v"
                                         ).df.collect()}
        assert out == want, f"reverse_first={rf}: {out}"


def test_bfs_levels_dead_end_early_exit_correct(spark):
    # last level is all dead-ends: the early exit (live == 0) must still
    # emit those nodes at their level
    e = OmigoDF(spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")], ["src", "dst"]))
    out = {r["node_id"]: r["level"]
           for r in G.bfs_levels(e, ["a"]).df.collect()}
    assert out == {"a": 0, "b": 1, "c": 1, "d": 2}


def test_bfs_levels_dead_end_seeds_and_cycles(spark):
    # seeds with no outgoing edges appear at level 0; cycles keep min level
    e = OmigoDF(spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c")], ["src", "dst"]))
    out = {r["node_id"]: r["level"]
           for r in G.bfs_levels(e, ["a", "zzz"]).df.collect()}
    assert out == {"a": 0, "zzz": 0, "b": 1, "c": 2}


def test_ancestors_flag_carries_through_composition(spark):
    # depth-4 chain: the closure needs 2 composition rounds; pairs ending
    # at the chain tail (dead end) must still compose INTO others' results
    e = OmigoDF(spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")], ["src", "dst"]))
    out = sorted((r["node_id"], r["ancestor"])
                 for r in G.ancestors(e).df.collect())
    want = sorted([("b", "a"), ("c", "a"), ("c", "b"), ("d", "a"),
                   ("d", "b"), ("d", "c"), ("e", "a"), ("e", "b"),
                   ("e", "c"), ("e", "d")])
    assert out == want


def test_time_ordered_ancestors_dead_end_states_kept(spark):
    # states at dead-end nodes never extend but MUST stay in the output
    rows = [("a", "b", 1), ("b", "c", 2), ("x", "c", 5)]
    e = OmigoDF(spark.createDataFrame(rows, ["src", "dst", "ts"]))
    out = sorted((r["node_id"], r["ancestor"], r["arr_ts"])
                 for r in G.time_ordered_ancestors(e, "ts").df.collect())
    assert out == [("b", "a", 1), ("c", "a", 2), ("c", "b", 2),
                   ("c", "x", 5)]


def test_graph_ops_hostile_backtick_dot_names(spark):
    # r15 parity-hunt find: merge_similar_nodes / remove_cycles /
    # remove_dangling_edges used e[col] getitem and raw-string selects,
    # which PARSE the name — a lone backtick or dot broke them
    edges = spark.createDataFrame([("a", "b"), ("a", "c")],
                                  "`sr.c` string, `d``st` string")
    out = {tuple(r) for r in G.merge_similar_nodes(
        OmigoDF(edges), src_col="sr.c", dst_col="d`st").df.collect()}
    assert out == {("a", "b")}  # b,c same-parent leaves merge to min
    e2 = spark.createDataFrame([("a", "b", 1), ("b", "a", 0)],
                               "`sr.c` string, `d``st` string, `t.s` long")
    out2 = {tuple(r) for r in G.remove_cycles(
        OmigoDF(e2), "t.s", src_col="sr.c", dst_col="d`st").df.collect()}
    assert out2 == {("a", "b", 1)}
    out3 = {tuple(r) for r in G.remove_dangling_edges(
        OmigoDF(edges), ["b", "c"], src_col="sr.c",
        dst_col="d`st").df.collect()}
    assert out3 == {("a", "b"), ("a", "c")}
