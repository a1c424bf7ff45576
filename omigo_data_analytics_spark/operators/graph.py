"""Graph operators: BFS levels, ancestor paths, dangling-edge pruning,
cycle removal — the graph_traversal surface of the reference
(reference graph_traversal.py:7-342), re-expressed as iterative DataFrame
joins (Pregel-style frontier expansion).

Scale design: each iteration is a distributed hash join between the
frontier and the edge table partitioned on the join key; the driver only
orchestrates the loop and checks an empty-frontier terminator. Frontiers
are localCheckpoint()ed per iteration so the lineage (and task binary)
does not grow with depth — the standard iterative-algorithm pattern on
Spark. No driver-side materialization of vertices or edges.

The three traversals (``bfs_levels``, ``ancestors``,
``time_ordered_ancestors``) share one skeleton, each decision made by
one private helper below: the vertex codec (``_encode`` / ``_decode``),
the dead-end flag (``_flag_dead_ends``), the observed round
(``_observed_round``), the lazy delta union (``_union_all``), the
null-safe visited test (``_unseen``), the vertex list builder
(``_vertex_frame``) and the two-loop overlap of the compositions
(``_overlap``). NULL is one vertex: it can be reached (once) but never
expands, since no equi-join matches a NULL key.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F, types as T

from ..core.colutils import qcol

from ..core.dataframe import OmigoDF
from ..core.jobs import checkpoint_with_metrics


def _df(x) -> DataFrame:
    return x.df if isinstance(x, OmigoDF) else x


# ------------------------------------------------- vertex dictionary codec
# The iterative operators re-shuffle vertex ids every round (up to max_iter
# times). Real telemetry graphs key on long strings (the reference's process
# trees use guid-style ids), so each round's exchange carries the full id in
# every row and every hash/compare walks the string. With
# ``encode_vertices=True`` the operator builds a (node -> BIGINT) dictionary
# ONCE, runs every iteration over 8-byte longs, and decodes before
# returning — shuffle bytes and compare cost drop 2-3x on string-keyed
# graphs (SCALE.md records the measured cut), for the one-time price of a
# vertex-set distinct plus encode/decode joins that AQE broadcasts whenever
# the dictionary fits. monotonically_increasing_id assigns the ids: unique
# without any global sort/window barrier; the ids are not dense and not
# stable across runs, but they never escape the operator (decoded before
# return), so output determinism is unaffected.

# Above this row count the dictionary is left to AQE (a billion-vertex
# dictionary must NOT be force-broadcast); below it the encode/decode joins
# get an explicit broadcast hint. The hint matters because the dictionary is
# localCheckpoint'd (stable ids require materialization) and checkpointed
# plans carry no size statistics — without the hint Spark sort-merge-joins,
# shuffling the corpus-sized edge/output side to encode it (measured at
# sf0.1: 10x MORE shuffle than no encoding at all).
_DICT_BROADCAST_MAX_ROWS = 1_000_000


def _vertex_dict(*node_dfs: DataFrame) -> tuple[DataFrame, bool]:
    """(``__node__``, ``__vid__`` BIGINT) dictionary over the union of the
    given single-column vertex frames, checkpointed (encode and decode
    must see the SAME id assignment) — plus whether it is small enough to
    broadcast."""
    u = node_dfs[0].toDF("__node__")
    for d in node_dfs[1:]:
        u = u.unionByName(d.toDF("__node__"))
    # NULL vertex ids cannot be dictionary-encoded without changing
    # semantics: the un-encoded traversal's joins never match NULL=NULL
    # (while still carrying NULL-keyed rows through non-join paths), but
    # an encoded NULL would become a real id that DOES match itself —
    # and an inner-join encode would instead silently DROP those rows.
    # Refuse loudly. The NULL probe and the broadcast-size count ride
    # the eager checkpoint's materialization job via observe(): one job.
    vdict, row = checkpoint_with_metrics(
        u.distinct().withColumn("__vid__", F.monotonically_increasing_id()),
        {"__n__": F.count(F.lit(1)),
         "__nulls__": F.count(F.when(F.col("__node__").isNull(), 1))})
    if row["__nulls__"] > 0:
        raise ValueError(
            "encode_vertices: NULL vertex ids are not supported — filter "
            "or fill them first (encoding NULL would silently change "
            "traversal semantics)")
    return vdict, row["__n__"] <= _DICT_BROADCAST_MAX_ROWS


def _encode_vcol(df: DataFrame, vdict: DataFrame, col: str,
                 small: bool) -> DataFrame:
    """Replace vertex column ``col`` with its dictionary id (inner join —
    every value is in the dictionary by construction)."""
    cols = df.columns
    d = vdict.withColumnRenamed("__node__", col)
    return (df.join(F.broadcast(d) if small else d, col)
              .select(*[F.col("__vid__").alias(c) if c == col else qcol(c)
                        for c in cols]))


def _decode_vcol(df: DataFrame, vdict: DataFrame, col: str,
                 small: bool) -> DataFrame:
    """Inverse of _encode_vcol: dictionary id back to the original vertex."""
    cols = df.columns
    d = vdict.withColumnRenamed("__vid__", col)
    return (df.join(F.broadcast(d) if small else d, col)
              .select(*[F.col("__node__").alias(c) if c == col else qcol(c)
                        for c in cols]))


def _encode(on: bool, e: DataFrame, cols: tuple, seeds=None):
    """``(e, seeds, codec)`` with the vertex columns ``cols`` of the edge
    frame and the seeds' ``node_id`` dictionary-encoded when ``on``; the
    inputs unchanged and a ``None`` codec otherwise. The seeds join the
    dictionary, so a seed absent from the edge table still decodes.

    The encoded projection is a cheap broadcast-join plan over the raw
    blocks, consumed only by the traversal's first checkpoint job — it
    is folded into that job rather than materialized as a second edge
    copy (r15)."""
    if not on:
        return e, seeds, None
    extra = [] if seeds is None else [seeds.select("node_id")]
    vdict, small = _vertex_dict(*[e.select(c) for c in cols], *extra)
    for c in cols:
        e = _encode_vcol(e, vdict, c, small)
    if seeds is not None:
        seeds = _encode_vcol(seeds, vdict, "node_id", small)
    return e, seeds, (vdict, small)


def _decode(df: DataFrame, codec, *cols: str) -> DataFrame:
    """The vertex columns ``cols`` of a traversal's output decoded back to
    the original ids, in order; the identity for a ``None`` codec."""
    if codec is None:
        return df
    vdict, small = codec
    for c in cols:
        df = _decode_vcol(df, vdict, c, small)
    return df


# ------------------------------------------------------ traversal skeleton
def _vertex_frame(like: DataFrame, vertices, dtype) -> DataFrame:
    """A vertex set as a one-column ``node_id`` frame. A DataFrame or
    OmigoDF passes through (its ``node_id`` column). A list means exactly
    that frame: one row per value, cast to the edge column's ``dtype``
    (``[1]`` on string edges is ``"1"``); ``[]`` is an empty frame and
    ``None`` a NULL vertex."""
    if not isinstance(vertices, (list, tuple)):
        return _df(vertices).select("node_id")
    rows = [(v,) for v in vertices]
    if any(v is not None for v in vertices):
        out = like.sparkSession.createDataFrame(rows, ["node_id"])
    else:
        # nothing to infer a type from: build it in the edge type
        out = like.sparkSession.createDataFrame(
            rows, T.StructType([T.StructField("node_id", dtype)]))
    return out.withColumn("node_id", F.col("node_id").cast(dtype))


def _flag_dead_ends(df: DataFrame, frm: str, to: str,
                    keep: list) -> DataFrame:
    """``keep`` plus ``__has_out__``: whether the row's ``to`` vertex is
    some row's ``frm`` vertex, i.e. whether a traversal state at ``to``
    can expand.

    The flag joins in ONCE at entry (r15) and rides every round's join
    output, replacing a per-round ``frontier ⋈ srcs`` semi-join (a
    vertex-set-sized build EVERY round); because each round then knows
    how many of its new rows are expandable, an all-dead frontier exits
    WITHOUT paying the convergence round's join. A NULL ``to`` never
    matches, so NULL never expands."""
    srcs = df.select(F.col(frm).alias("__sn__")).distinct()
    return (df.join(srcs, df[to] == F.col("__sn__"), "left")
            .select(*keep, F.col("__sn__").isNotNull().alias("__has_out__")))


def _observed_round(frame: DataFrame, live, new=None):
    """One round: eagerly checkpoint ``frame`` and return ``(checkpointed
    frame, any new row?, any live row?)``. ``new`` and ``live`` are
    boolean Columns over ``frame`` (``new`` defaults to every row). Both
    terminators ride the checkpoint's materialization job via observe()
    (r15): one job per round, where checkpoint + isEmpty was two. The
    checkpoint stays eager (r14 adjudication): the next round's plan
    reads its blocks."""
    ck, m = checkpoint_with_metrics(
        frame, {"n": F.count(F.lit(1)) if new is None
                else F.count(F.when(new, 1)),
                "live": F.count(F.when(live, 1))})
    return ck, m["n"] > 0, m["live"] > 0


def _union_all(frames: list) -> DataFrame:
    """The lazy union of a loop's checkpointed deltas: readers re-scan
    materialized blocks instead of re-writing the whole accumulated set
    every round (one fewer job per round)."""
    return reduce(DataFrame.unionByName, frames)


def _unseen(df: DataFrame, seen: DataFrame, keys: list) -> DataFrame:
    """Rows of ``df`` whose ``keys`` are not in ``seen``, NULL matching
    NULL: a reached NULL vertex counts as visited, so it is emitted once,
    not once per round."""
    s = seen.select(*[F.col(k).alias(f"__seen{i}__")
                      for i, k in enumerate(keys)])
    return df.join(s, reduce(lambda a, b: a & b, [
        F.col(k).eqNullSafe(F.col(f"__seen{i}__"))
        for i, k in enumerate(keys)]), "left_anti")


def _overlap(spark, build_a, build_b) -> tuple:
    """Run two independent traversal builders from a 2-thread pool and
    return both frames.

    Each loop's jobs are tiny at any scale — the win is scheduling
    overlap, not parallelism of data work: one loop's convergence-tail
    tasks back-fill the executors the other frees (Spark's scheduler
    runs jobs from several driver threads FIFO).
    inheritable_thread_target (r14): jobs
    submitted from the pool threads inherit the caller's Spark local
    properties (job group/description, scheduler pool) and tags, so
    caller-side cancellation and job accounting see the loops' jobs."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    inherit = inheritable_thread_target(spark)
    with ThreadPoolExecutor(max_workers=2) as pool:
        fa, fb = pool.submit(inherit(build_a)), pool.submit(inherit(build_b))
        return fa.result(), fb.result()


def _edge_barrier(edges, *cols) -> DataFrame:
    """The caller's edges projected to ``(column, alias)`` pairs and
    eagerly checkpointed, so their construction runs exactly once under
    the traversal's several readers (flag join, dictionary, rounds)."""
    return _df(edges).select(*[qcol(c).alias(a) for c, a in cols]
                             ).localCheckpoint()


# ---------------------------------------------------------------- traversals
def bfs_levels(edges, seed_vertices, src_col: str = "src", dst_col: str = "dst",
               max_iter: int = 30, out_col: str = "level",
               encode_vertices: bool = False) -> OmigoDF:
    """Minimum BFS level of every reachable vertex from the seed set
    (seeds = level 0). Cycle-tolerant: a vertex keeps its first (minimum)
    level (reference graph_traversal.py:7-78, forward direction).

    `seed_vertices` is a list of vertex ids or a DataFrame/OmigoDF with a
    `node_id` column. Returns (node_id, level).

    ``encode_vertices=True`` runs every BFS round over dictionary-encoded
    BIGINT vertex ids (see _vertex_dict) — same output, 2-3x less
    per-round shuffle on string-keyed graphs.
    """
    e = _edge_barrier(edges, (src_col, "src"), (dst_col, "dst"))
    return OmigoDF(_bfs(e, seed_vertices, max_iter, encode_vertices)
                   .withColumnRenamed("level", out_col))


def _bfs(e: DataFrame, seed_vertices, max_iter: int,
         encode: bool) -> DataFrame:
    """bfs_levels over a projected, materialized (src, dst) edge frame:
    (node_id, level)."""
    seeds = _vertex_frame(e, seed_vertices, e.schema["src"].dataType)
    e, seeds, codec = _encode(encode, e, ("src", "dst"), seeds)
    e = _flag_dead_ends(e, "src", "dst", ["src", "dst"]).localCheckpoint()
    deltas = [seeds.distinct().withColumn("level", F.lit(0)).localCheckpoint()]
    frontier = deltas[0].select("node_id")
    for depth in range(1, max_iter + 1):
        # __has_out__ is constant per node, so distinct() over (node_id,
        # flag) yields exactly the node-distinct
        nxt, any_new, any_live = _observed_round(
            _unseen(e.join(frontier.withColumnRenamed("node_id", "src"), "src")
                     .select(F.col("dst").alias("node_id"), "__has_out__")
                     .distinct(),
                    _union_all([d.select("node_id") for d in deltas]),
                    ["node_id"]),
            F.col("__has_out__"))
        if not any_new:
            break
        deltas.append(nxt.select("node_id").withColumn("level", F.lit(depth)))
        if not any_live:
            break
        frontier = nxt.where(F.col("__has_out__")).select("node_id")
    return _decode(_union_all(deltas), codec, "node_id")


def degrees(edges, src_col: str = "src", dst_col: str = "dst") -> OmigoDF:
    """(node_id, out_degree, in_degree) for every vertex appearing in the
    edge table. A tagged union into ONE conditional aggregate — a single
    partial-aggregated shuffle, where the per-direction groupBy + full
    outer join form costs two shuffles plus a vertex-sized join.
    Delta from that join form: a NULL node id aggregates into ONE row
    carrying both directions (groupBy groups NULLs), where the full
    outer join emitted two separate NULL rows (NULL keys never match)."""
    e = _df(edges)
    u = (e.select(qcol(src_col).alias("node_id"),
                  F.lit(1).alias("__o__"), F.lit(0).alias("__i__"))
         .unionByName(e.select(qcol(dst_col).alias("node_id"),
                               F.lit(0).alias("__o__"),
                               F.lit(1).alias("__i__"))))
    return OmigoDF(u.groupBy("node_id")
                    .agg(F.sum("__o__").alias("out_degree"),
                         F.sum("__i__").alias("in_degree")))


def ancestors(edges, src_col: str = "src", dst_col: str = "dst",
              max_iter: int = 30, encode_vertices: bool = False) -> OmigoDF:
    """Full ancestor set of every vertex in a DAG: (node_id, ancestor)
    pairs — the relational core of the reference's
    get_forward_edges_only path/ancestor columns
    (graph_traversal.py:80-171). Iterates reachability joins to fixpoint.

    ``encode_vertices=True`` runs the closure over dictionary-encoded
    BIGINT ids (see _vertex_dict) — the closure is the worst case for
    wide ids, since |R| grows toward V x avg-ancestry pairs, every one
    carrying BOTH ids through every round's shuffle.
    """
    e = _edge_barrier(edges, (src_col, "anc"), (dst_col, "node_id"))
    return OmigoDF(_closure(e, max_iter, encode_vertices))


def _closure(e: DataFrame, max_iter: int, encode: bool) -> DataFrame:
    """ancestors over a projected, materialized (anc, node_id) edge frame:
    (node_id, ancestor).

    Semi-naive recursive doubling ("smart" transitive closure):
    Δ_k = Δ_{k-1} ∘ R_{k-1}, still O(log depth) rounds — a pair whose
    MINIMAL path length lies in (2^(k-1), 2^k] splits at 2^(k-1) into a
    prefix that is minimal-length-new at step k-1 (∈ Δ) and a suffix
    already in R; composing the full closure with itself (R∘R) each
    round instead re-derives every previously-known pair before the
    anti-join throws them away — on a depth-d graph the last (empty)
    round alone costs a full |R|×|R| self-join. With Δ on the build
    side the convergence round joins only the newest (often tiny or
    dead-ended) delta against R. The dead-end flag rides the delta
    pairs: (anc, n) composes further iff n has an outgoing edge.
    __has_out__ is constant per node_id, so distinct() over (anc,
    node_id, flag) is exactly the pair-distinct."""
    e, _, codec = _encode(encode, e, ("anc", "node_id"))
    deltas = [_flag_dead_ends(e, "anc", "node_id", ["anc", "node_id"])
              .distinct().localCheckpoint()]   # direct parents
    for _ in range(max_iter):
        reach = _union_all(deltas)
        comp, any_new, any_live = _observed_round(
            _unseen(deltas[-1].where(F.col("__has_out__"))
                    .select("anc", F.col("node_id").alias("mid"))
                    .join(reach.select(F.col("anc").alias("mid"), "node_id",
                                       "__has_out__"), "mid")
                    .select("anc", "node_id", "__has_out__").distinct(),
                    reach, ["anc", "node_id"]),
            F.col("__has_out__"))
        if not any_new:
            break
        deltas.append(comp)
        if not any_live:
            break
    return _decode(_union_all(deltas)
                   .select("node_id", F.col("anc").alias("ancestor")),
                   codec, "node_id", "ancestor")


def remove_dangling_edges(edges, keep_vertices=None, src_col: str = "src",
                          dst_col: str = "dst", max_iter: int = 10) -> OmigoDF:
    """Iteratively prune edges whose destination is a leaf (no outgoing
    edges) and not in the protected vertex set, until fixpoint or max_iter
    (reference graph_traversal.py:215-285). Returns the surviving edges."""
    # the fixpoint terminators (entry row count + per-round counts) ride
    # the checkpoints' own materialization jobs via observe() (r15) —
    # one job per round, where checkpoint + count() was two
    e, m0 = checkpoint_with_metrics(_df(edges), {"n": F.count(F.lit(1))})
    keep = _vertex_frame(e, [] if keep_vertices is None else keep_vertices,
                         e.schema[dst_col].dataType)
    cur = e
    prev_n = m0["n"]
    for _ in range(max_iter):
        srcs = cur.select(qcol(src_col).alias("node_id")).distinct()
        protected = srcs.unionByName(keep).distinct()
        pruned, m = checkpoint_with_metrics(
            cur.join(protected.withColumnRenamed("node_id", dst_col),
                     dst_col, "left_semi"),
            {"n": F.count(F.lit(1))})
        n = m["n"]
        if n == prev_n:
            break
        cur, prev_n = pruned, n
    return OmigoDF(cur.select(*[qcol(c) for c in e.columns]))


def time_ordered_ancestors(edges, ts_col: str, src_col: str = "src",
                           dst_col: str = "dst", max_iter: int = 30,
                           encode_vertices: bool = False) -> OmigoDF:
    """Ancestors reachable along TIME-ORDERED paths: a path a→…→z counts
    only if every successive edge timestamp is >= the previous one —
    the reference's time-based forward-edge expansion
    (graph_traversal.py:173-212). Returns (node_id, ancestor).

    State per (node, ancestor) is the MINIMUM arrival timestamp (the most
    permissive for further extension), so each iteration is join + min-agg
    — no path materialization, no explosion on dense DAGs.

    The edge table is pre-grouped ONCE to (src, dst, sorted distinct ts
    array): the per-iteration extension join then emits one row per
    (state, successor-pair) with a binary probe for the first eligible
    timestamp, instead of one row per (state, raw edge) — at high edge
    multiplicity (many events per node pair, the common temporal-graph
    shape) that divides the join volume by the multiplicity factor.
    Caveat: the distinct-ts array of ONE (src, dst) pair must fit in a
    row; for adversarial inputs where a single pair carries ~10^8
    distinct timestamps, split the pair's time range before calling.

    ``encode_vertices=True`` runs the whole loop (pre-grouping included)
    over dictionary-encoded BIGINT ids — see _vertex_dict."""
    e = _df(edges).select(qcol(src_col).alias("src"), qcol(dst_col).alias("dst"),
                          qcol(ts_col).alias("ts"))
    if encode_vertices:
        # barrier before the dictionary build, which reads the edges
        # twice more; encoding BEFORE the pre-grouping makes even that
        # first corpus-sized (src, dst) shuffle run over BIGINT keys
        e = e.localCheckpoint()
    e, _, codec = _encode(encode_vertices, e, ("src", "dst"))
    eg = (e.groupBy("src", "dst")
          .agg(F.sort_array(F.collect_set("ts")).alias("tss"))
          ).localCheckpoint()
    eg = _flag_dead_ends(eg, "src", "dst", ["src", "dst", "tss"]).localCheckpoint()

    # incremental accumulator: `best` is the checkpointed running minimum
    # arrival per (node, ancestor); each iteration touches O(|best| + |ext|)
    # — not a re-union of every prior delta (O(depth^2) recompute). The
    # frontier delta is NOT force-broadcast: on dense DAGs it is O(V*A) and
    # would OOM the driver at scale; AQE broadcasts it when it is small.
    # (src, dst) is unique in eg, so the depth-1 closure needs no extra
    # shuffle: the min arrival is the sorted array's head.
    best = eg.select(F.col("dst").alias("node_id"), F.col("src").alias("anc"),
                     F.expr("get(tss, 0)").alias("arr_ts"),
                     F.col("__has_out__")).localCheckpoint()
    # NULL-arrival states (all-null-ts pairs) stay in `best` (reachability
    # with unknown time) but never enter the frontier: ts >= NULL can't
    # extend them, and a NULL state's __old_ts__ is NULL every round, so
    # keeping them in the delta would defeat convergence detection and
    # force all max_iter rounds. States at dead-end nodes are likewise
    # excluded from the frontier: they can never extend.
    frontier = (best.where(F.col("arr_ts").isNotNull()
                           & F.col("__has_out__"))
                .select("node_id", "anc", "arr_ts"))
    for _ in range(max_iter):
        # Extensions union the accumulator straight into ONE tagged
        # aggregate: min arrival overall + min arrival among prior states.
        # That single shuffle replaces three (the extension pre-agg, the
        # strictly-better left join against `best`, and the union
        # re-aggregate) — the combined groupBy's map-side partial agg does
        # the extension combine. The first eligible timestamp per
        # successor pair comes from the sorted array via get() — null (no
        # eligible edge, or an all-null-ts pair) drops pre-shuffle; ANSI
        # subscripting would throw on the empty filter result.
        ext_raw = (frontier.join(eg, frontier["node_id"] == eg["src"])
                   .select(F.col("dst").alias("node_id"), F.col("anc"),
                           F.expr("get(filter(tss, t -> t >= arr_ts), 0)")
                           .alias("arr_ts"),
                           F.lit(False).alias("__old__"),
                           F.col("__has_out__"))
                   .where(F.col("arr_ts").isNotNull()))
        # a row is a DELTA when its overall min beats (or lacks) a
        # prior-state min. __has_out__ is constant per node_id, so max()
        # is exact.
        delta_cond = (F.col("arr_ts").isNotNull()
                      & (F.col("__old_ts__").isNull()
                         | (F.col("arr_ts") < F.col("__old_ts__"))))
        agg, any_new, any_live = _observed_round(
            best.withColumn("__old__", F.lit(True)).unionByName(ext_raw)
                .groupBy("node_id", "anc")
                .agg(F.min("arr_ts").alias("arr_ts"),
                     F.min(F.when(F.col("__old__"), F.col("arr_ts")))
                     .alias("__old_ts__"),
                     F.max("__has_out__").alias("__has_out__")),
            delta_cond & F.col("__has_out__"), new=delta_cond)
        best = agg.select("node_id", "anc", "arr_ts", "__has_out__")
        if not (any_new and any_live):
            break
        frontier = (agg.where(delta_cond & F.col("__has_out__"))
                    .select("node_id", "anc", "arr_ts"))
    return OmigoDF(_decode(best.select("node_id", F.col("anc").alias("ancestor"),
                                       "arr_ts"),
                           codec, "node_id", "ancestor"))


def merge_similar_nodes(edges, src_col: str = "src", dst_col: str = "dst") -> OmigoDF:
    """Collapse equivalent leaf nodes: leaves (no outgoing edges) with the
    same sorted parent set merge into one representative (minimum id) —
    the working core of the reference's merge_similar_nodes_reference
    (graph_traversal.py:344-444, whose own impl has undefined vars).
    Returns the edge table with merged leaf destinations, deduped.

    The representative per parent-signature comes from a
    partial-aggregated groupBy(psig) min joined back on psig (r13 —
    previously a window min over psig: a window partition cannot be
    split, so a hot signature, e.g. a botnet-style fan-out of a million
    identical-sibling leaves, landed its whole group in ONE task; the
    groupBy census is map-side combined and the join-back is
    AQE-splittable/broadcastable). The per-leaf frame is
    localCheckpointed so the join's two sides read materialized blocks
    instead of re-evaluating the leaves->parents subtree.

    psig is the sorted parent ARRAY itself, not a ','-joined string:
    a delimiter join makes parent sets {"a,b"} and {"a","b"} collide
    and wrongly merge unrelated leaves (the generate_key_hash NULL-skip
    collision class, r10 review); Spark hash-partitions and compares
    array<string> natively, so the grouping needs no serialized key at
    all."""
    # the edge table is referenced four times (source probe, leaf
    # detection, parent signatures, final remap) with different
    # projections — no exchange reuse is possible, so without a barrier
    # the plan scans the input four times (measured: 4 parquet scans)
    e = _df(edges).localCheckpoint()
    srcs = e.select(qcol(src_col).alias("n")).distinct()
    # qcol, not e[dst_col]: DataFrame.__getitem__ PARSES the name, so a
    # lone backtick or a dot in dst_col raises INVALID_ATTRIBUTE_NAME_SYNTAX
    # / misresolves as a nested field (r15 parity-hunt find on the widened
    # hostile-name corpus); every reference below quotes instead
    leaves = (e.join(srcs, qcol(dst_col) == F.col("n"), "left_anti")
              .select(qcol(dst_col).alias("leaf")).distinct())
    parents = (e.join(leaves, qcol(dst_col) == F.col("leaf"))
               .groupBy("leaf")
               .agg(F.array_sort(
                   F.collect_set(qcol(src_col).cast("string"))).alias("psig"))
               .localCheckpoint())
    reps = parents.groupBy("psig").agg(F.min("leaf").alias("rep"))
    remap = parents.join(reps, on="psig").select("leaf", "rep")
    out = (e.join(remap, qcol(dst_col) == F.col("leaf"), "left")
           .withColumn(dst_col, F.coalesce(F.col("rep"), qcol(dst_col)))
           .drop("leaf", "rep")
           .select(*[qcol(c) for c in e.columns]).distinct())
    return OmigoDF(out)


def remove_cycles(edges, ts_col: str, src_col: str = "src",
                  dst_col: str = "dst") -> OmigoDF:
    """Drop back-edges that violate temporal ordering: an edge survives iff
    its timestamp is >= the earliest timestamp at which its source was
    itself reached (seeds — sources that are never destinations — always
    emit). Time-ordered DAG extraction (reference
    graph_traversal.py:288-342)."""
    e = _df(edges)
    first_seen = e.groupBy(qcol(dst_col).alias("__node__")).agg(
        F.min(qcol(ts_col)).alias("__first_ts__"))
    out = (e.join(first_seen, qcol(src_col) == F.col("__node__"), "left")
            .where(F.col("__first_ts__").isNull()
                   | (qcol(ts_col) >= F.col("__first_ts__")))
            .select(*[qcol(c) for c in e.columns]))
    return OmigoDF(out)


# ---------------------------------------------------------------------
# Reference-named API (omigo_core/graph_traversal.py) — thin wrappers over
# the operators above, keeping the original entry-point names.
# ---------------------------------------------------------------------
def get_bfs_levels(edf, vertex_ids, reverse_first: bool = False,
                   src_col: str = "src", dst_col: str = "dst",
                   max_iter: int = 30) -> OmigoDF:
    """BFS level assignment from seed vertices, expanding forward AND
    reverse (reference graph_traversal.py:7-78 walks one direction, then
    the other; `reverse_first` flips the order, which only affects ties —
    we keep the minimum level per node, matching its first-win rule)."""
    # EAGER checkpoint on the shared projection: both traversal threads
    # below read it, so its one materialization must finish before they
    # start (the analysis_job pattern) — and the cores read it as it is,
    # with no per-direction edge copy.
    e = _edge_barrier(edf, (src_col, "src"), (dst_col, "dst"))
    er = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    first, second = (er, e) if reverse_first else (e, er)
    # r14: the two directions' loops are independent given the
    # checkpointed edge set, and min-union makes the result order-
    # insensitive — overlap them (sf0.1 edge DAG A/B alternation,
    # 3-pass-min per session: 4.0/4.4/5.8 s threaded vs 5.4/6.3 s
    # sequential — −25 % best-of-passes)
    l1, l2 = _overlap(e.sparkSession,
                      lambda: _bfs(first, vertex_ids, max_iter, False),
                      lambda: _bfs(second, vertex_ids, max_iter, False))
    out = (l1.unionByName(l2).groupBy("node_id")
           .agg(F.min("level").alias("level")))
    return OmigoDF(out)


def _ancestor_summary(anc: DataFrame, prefix: str) -> OmigoDF:
    """(node_id, <prefix>:ancestors): each vertex's ancestors as the
    sorted uniq ','-merge of their string forms."""
    return OmigoDF(anc.groupBy("node_id")
                   .agg(F.concat_ws(",", F.array_sort(
                       F.collect_set(F.col("ancestor").cast("string"))))
                       .alias(f"{prefix}:ancestors")))


def get_forward_edges_only(edf, prefix: str = "fwd", src_col: str = "src",
                           dst_col: str = "dst", max_iter: int = 30) -> OmigoDF:
    """Per-vertex ancestor summary of the DAG: (node_id,
    <prefix>:ancestors) where ancestors is the sorted uniq ','-merge of
    the transitive ancestor closure (reference graph_traversal.py:80-171
    emits src_paths/all_paths/ancestors columns; the ancestor set is the
    load-bearing one — paths are its expansions)."""
    return _ancestor_summary(ancestors(edf, src_col, dst_col, max_iter).df,
                             prefix)


def get_time_based_forward_edges_only(edf, ts_col: str = "ts",
                                      prefix: str = "fwd",
                                      src_col: str = "src", dst_col: str = "dst",
                                      max_iter: int = 30) -> OmigoDF:
    """Time-ordered variant of get_forward_edges_only (reference
    graph_traversal.py:173-212): only ancestors reachable along
    non-decreasing-timestamp paths count."""
    return _ancestor_summary(
        time_ordered_ancestors(edf, ts_col, src_col, dst_col, max_iter).df,
        prefix)


def merge_similar_nodes_reference(edges, src_col: str = "src",
                                  dst_col: str = "dst") -> OmigoDF:
    """Reference-named alias of merge_similar_nodes (the reference's own
    body is non-executable — undefined `prop_col` etc.,
    graph_traversal.py:369 — so both names run the working operator)."""
    return merge_similar_nodes(edges, src_col, dst_col)


def split_graph_filter_func(src, tgt, ts, retain_vertex_ids,
                            retain_vertex_annotations,
                            retain_node_filter_func) -> bool:
    """Row-level edge predicate for splitting a graph around retained
    ("detection") vertices (reference graph_traversal.py:446-484): keep
    special nodes, keep edges not touching the retained set, keep edges
    between two retained vertices, and otherwise keep only edges whose
    timestamp falls on the correct side of the retained vertex's
    [ts_min, ts_max] annotation window. Plain Python — usable directly in
    OmigoDF.filter(['src','dst','ts'], ...)."""
    if retain_node_filter_func(src) or retain_node_filter_func(tgt):
        return True
    in_src = src in retain_vertex_ids
    in_tgt = tgt in retain_vertex_ids
    if not in_src and not in_tgt:
        return True
    if in_src and in_tgt:
        return True
    if in_tgt:
        ann = retain_vertex_annotations.get(tgt)
        if ann is not None and int(ts) > int(ann[1]):
            return False
        return True
    ann = retain_vertex_annotations.get(src)
    if ann is not None and int(ts) < int(ann[0]):
        return False
    return True


def apply_time_order_based_filter(vdf, edf, retain_vertex_ids,
                                  strict_ordering_flag: bool = False,
                                  src_col: str = "src", dst_col: str = "dst",
                                  ts_col: str = "ts"):
    """Prune edge pairs around retained vertices that violate temporal
    ordering (reference graph_traversal.py:486-547; its body references
    undefined symbols, so semantics are reconstructed from its decision
    template __apply_time_order_based_filter_template__): for consecutive
    edges l=(a->b), r=(b->c) where min_ts(l) > max_ts(r) for every
    occurrence (order infeasible), exclude r if l touches a retained
    vertex, l if r does, r under strict ordering, and the edge with the
    infeasible flag otherwise. Returns (vdf', edf')."""
    e = _df(edf)
    mm = (e.groupBy(qcol(src_col), qcol(dst_col))
          .agg(F.min(qcol(ts_col).cast("long")).alias("ts_min"),
               F.max(qcol(ts_col).cast("long")).alias("ts_max")))
    left = mm.select(qcol(src_col).alias("l_src"), qcol(dst_col).alias("l_dst"),
                     F.col("ts_min").alias("l_min"))
    right = mm.select(qcol(src_col).alias("r_src"), qcol(dst_col).alias("r_dst"),
                      F.col("ts_max").alias("r_max"))
    spark = e.sparkSession
    rv = spark.createDataFrame([(str(v),) for v in retain_vertex_ids] or
                               [("",)], ["node_id"]).where("node_id != ''")
    pairs = (left.join(right, left["l_dst"] == right["r_src"])
             .withColumn("feasible", (F.col("l_min") <= F.col("r_max")).cast("int")))
    bad = pairs.where("feasible = 0")
    ldet = (bad.join(rv.withColumnRenamed("node_id", "l_src"), "l_src", "left_semi")
            .unionByName(bad.join(rv.withColumnRenamed("node_id", "l_dst"),
                                  "l_dst", "left_semi").select(bad.columns))
            .select(bad.columns).distinct().withColumn("l_det", F.lit(1)))
    if strict_ordering_flag:
        excl = bad.select(F.col("r_src").alias(src_col),
                          F.col("r_dst").alias(dst_col)).distinct()
    else:
        tagged = bad.join(ldet.select("l_src", "l_dst", "r_src", "r_dst", "l_det"),
                          ["l_src", "l_dst", "r_src", "r_dst"], "left")
        excl_r = (tagged.where("l_det = 1")
                  .select(F.col("r_src").alias(src_col),
                          F.col("r_dst").alias(dst_col)))
        excl_l = (tagged.where("l_det IS NULL")
                  .select(F.col("l_src").alias(src_col),
                          F.col("l_dst").alias(dst_col)))
        excl = excl_r.unionByName(excl_l).distinct()
    e2 = e.join(excl, [src_col, dst_col], "left_anti")
    v = _df(vdf)
    keep_nodes = (e2.select(qcol(src_col).alias("node_id"))
                  .unionByName(e2.select(qcol(dst_col).alias("node_id"))).distinct())
    v2 = v.join(keep_nodes, "node_id", "left_semi")
    return OmigoDF(v2), OmigoDF(e2)


def analysis_job(edges, ts_col: str, keep_vertices, seed_vertices,
                 src_col: str = "src", dst_col: str = "dst",
                 prune_max_iter: int = 3, max_iter: int = 30,
                 encode_vertices: bool = False) -> OmigoDF:
    """The matel graph-analysis batch flow as one composition (reference
    projects/matel/graph-analysis GraphAnalysis.scala:750-876 RunQuery:
    load → clean → traverse → summarize), built from the audited
    operators:

      1. remove_dangling_edges(keep_vertices, prune_max_iter)
      2. remove_cycles(ts_col)
      3. distinct (src, dst) — checkpointed once so the two traversals
         below don't re-run the cleaning
      4. bfs_levels(seed_vertices) + ancestors(), joined to a per-node
         summary: (node_id, level, n_ancestors, ancestors) with the
         sorted ','-merged ancestor column get_forward_edges_only uses.

    NULL is one vertex, as in the traversals: its row carries its own
    level and ancestor count, and ``n_ancestors`` counts a NULL ancestor,
    which the ','-merged list cannot render (it skips it).

    Scale: each stage is the individually-audited operator; the
    composition itself adds one distinct and two node-sized joins.
    ``encode_vertices`` forwards to both traversals (see _vertex_dict —
    worth it on guid-keyed deep graphs, not on short synthetic ids)."""
    e0 = OmigoDF(_df(edges))
    pruned = remove_dangling_edges(e0, keep_vertices, src_col, dst_col,
                                   max_iter=prune_max_iter)
    dag = remove_cycles(pruned, ts_col, src_col, dst_col)
    # EAGER checkpoint on purpose: both traversal threads below read it,
    # so it must be materialized before they race (one job either way);
    # the cores read it as it is, with no per-traversal edge copy
    ed = (dag.df.select(qcol(src_col).alias("src"), qcol(dst_col).alias("dst"))
          .distinct().localCheckpoint())
    # The two traversals are independent (both read only the checkpointed
    # `ed`), and both plans are deterministic functions of it
    lv, anc = _overlap(
        ed.sparkSession,
        lambda: _bfs(ed, seed_vertices, max_iter, encode_vertices),
        lambda: _closure(ed.select(F.col("src").alias("anc"),
                                   F.col("dst").alias("node_id")),
                         max_iter, encode_vertices))
    # node_id travels as a one-field struct: a struct is never NULL and
    # structs with equal fields are equal, NULL fields included, so the
    # NULL vertex meets its own level and ancestor rows while both joins
    # stay plain equi-joins
    k = F.struct("node_id").alias("__k__")
    anc_agg = (anc.groupBy(k)
               .agg(F.count(F.lit(1)).cast("long").alias("n_ancestors"),
                    F.concat_ws(",", F.array_sort(F.collect_set("ancestor")))
                    .alias("ancestors")))
    # the distinct runs on the key, so its exchange also serves the joins
    nodes = (ed.select(F.col("src").alias("node_id"))
             .unionByName(ed.select(F.col("dst").alias("node_id")))
             .select(k).distinct())
    out = (nodes.join(lv.select(k, "level"), "__k__", "left")
           .join(anc_agg, "__k__", "left")
           .selectExpr("__k__.node_id AS node_id", "CAST(level AS INT) AS level",
                       "COALESCE(n_ancestors, 0L) AS n_ancestors",
                       "COALESCE(ancestors, '') AS ancestors"))
    return OmigoDF(out)


def parent_hierarchy(edges, levels: int = 6, child_col: str = "child",
                     parent_col: str = "parent") -> OmigoDF:
    """Flatten parent pointers into per-node ancestor columns
    (node_id, parent_1 .. parent_<levels>) — the reference trends job's
    createHierarchy step (TrendsAnalysis.scala:240-390), which builds
    bounded parent chains with RDD groupByKey joins; here it is
    ``levels`` chained equi-joins against one deduplicated parent map.

    A node with several recorded parents takes the MIN parent id
    (deterministic canonical chain — the reference's process trees have
    single parents, this guards malformed input). Chains shorter than
    ``levels`` pad with nulls; cycles are naturally truncated at
    ``levels``.

    Scale: the parent map is (node, parent) — vertex-sized, far smaller
    than the event table the reference re-keys per level; each level is
    one shuffle on the chain head, ``levels`` is a small constant, and
    AQE broadcasts the map when it fits."""
    e = _df(edges)
    # the parent map joins back once per level: checkpoint it so each
    # level reads the vertex-sized map instead of re-scanning (and
    # re-aggregating) the edge table `levels` times
    pmap = (e.select(qcol(child_col).alias("__c__"),
                     qcol(parent_col).alias("__p__"))
            .where(qcol(child_col).isNotNull())
            .groupBy("__c__").agg(F.min("__p__").alias("__p__"))
            ).localCheckpoint()
    out = pmap.select(F.col("__c__").alias("node_id"),
                      F.col("__p__").alias("parent_1"))
    for i in range(2, levels + 1):
        prev = f"parent_{i - 1}"
        step = pmap.select(F.col("__c__").alias(prev),
                           F.col("__p__").alias(f"parent_{i}"))
        out = out.join(step, prev, "left")
    return OmigoDF(out.select("node_id",
                              *[f"parent_{i}" for i in range(1, levels + 1)]))
