"""Randomized adversarial parity hunt (r13, widened r15): drive the
engine's restructured plans against independent reference plans over
hostile value soups (NULL / NaN / +-Inf / -0.0 / +-1e308 / NULL keys)
and hostile column names (dots, backticks, colons, commas):

- ops 0-3 (r13): the bucketed two-phase plans (sessionize /
  merge_intervals / asof x3 directions x tolerances / rolling) vs
  their plain single-window twins, each twice: every key hot
  (``hot_key_rows=1``) and a mixed census whose threshold is the
  trial's largest per-key row count, so the router splits the input
  and unions the hot (bucketed) and cold (plain) results whenever the
  keys' counts differ;
- ops 4-6 (r15, the r13-verdict de-skewed join-back shapes):
  aggregate(collapse=False)'s groupBy+join-back vs a window reference,
  inverted_index's doc_freq join-back + WindowGroupLimit postings vs a
  collect_list reference, merge_similar_nodes' groupBy(psig)+join-back
  vs a window-min reference;
- op 7, the cosine family: ``cosine_topk``, ``cosine_topk_ivf`` with
  every list probed (``nprobe = num_centroids``) and
  ``embedding_dup_pairs(method="exact")`` vs a cross join scored with
  the inline public ``cosine_expr``, the same screen (norm > 0 and
  finite) and a row_number window or the threshold. The vector soup
  holds NULL vectors, NULL / NaN / +-Inf / -0.0 / +-1e154 components
  and all-zero vectors under hostile id and vector column names; a
  corpus with no finite vector must raise IVF's documented
  ``ValueError``.

- op 8, the graph traversals: ``bfs_levels``, ``ancestors`` and
  ``time_ordered_ancestors`` over ``rand_edges()`` under hostile edge
  and timestamp names (``sr.c``, ``d`st``, ``t.s``) with a timestamp
  soup that includes NULL, vs a pure-Python driver-side reference in
  which NULL is one vertex that never expands (it may be an endpoint,
  never an intermediate). BFS seeds come as lists (``[]`` and
  ``[None]`` included) and as their one-column ``node_id`` DataFrames.
  ``encode_vertices=True`` runs on the trial's NULL-free edges must
  equal the plain runs, and NULL-bearing edges with encoding must raise
  the documented ``ValueError``.

Asserts bit-identical canonical outputs (rows are compared as a
multiset, so a repeated row diverges). Complements the fixed-seed
pytest properties with breadth. The rolling op sums ``v`` only when
every value fits the window sum's DECIMAL(28,8) (a NaN, +-Inf or
+-1e308 makes its overflow guard raise in both plans, the documented
contract) and otherwise compares the rolling count.

Usage: python tools/parity_hunt.py [n_trials] [seed]
"""
import os
import random
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import Window, functions as F
from omigo_data_analytics_spark import OmigoDF, get_spark
from omigo_data_analytics_spark.core import colutils
from omigo_data_analytics_spark.operators import dedup as DD
from omigo_data_analytics_spark.operators import graph as GR
from omigo_data_analytics_spark.operators import similarity as SIM
from omigo_data_analytics_spark.operators import text as TX
from omigo_data_analytics_spark.operators import timeseries as TS

N_OPS = 9

spark = get_spark("hunt", cpus=8)
N_TRIALS = int(sys.argv[1]) if len(sys.argv) > 1 else 24
random.seed(int(sys.argv[2]) if len(sys.argv) > 2 else 20260816)
VALS = [None, float("nan"), float("inf"), float("-inf"), -0.0, 0.0,
        1e308, -1e308] + [float(x) for x in range(-50, 400, 7)]

def rand_rows(nk=3, nmax=60):
    rows = []
    for ki in range(nk):
        k = random.choice([f"k{ki}", None])
        for _ in range(random.randint(0, nmax)):
            rows.append((k, random.choice(VALS), random.choice(VALS)))
    return rows

def canon(df):
    return sorted(tuple(str(x) for x in r) for r in map(tuple, df.collect()))

_NODES = [None, "a", "b", "c", "a,b", "d.1", "d`2", "", "x y", "-0.0"]


_COMPS = [None, float("nan"), float("inf"), float("-inf"), -0.0, 0.0,
          1e154, -1e154] + [float(x) for x in range(-3, 4)]


def rand_vecs(n, dim, corrupt_only=False):
    """(id, vector) rows: mostly small finite vectors, plus NULL vectors,
    all-zero vectors and vectors carrying hostile components."""
    rows = []
    for i in range(n):
        kind = random.random()
        if corrupt_only or kind < 0.25:
            v = None if random.random() < 0.3 else [
                random.choice(_COMPS) for _ in range(dim)]
            if v is not None and all(x is not None and x - x == 0 for x in v):
                v[random.randrange(dim)] = random.choice(_COMPS[:4])
        elif kind < 0.35:
            v = [random.choice([0.0, -0.0]) for _ in range(dim)]
        else:
            v = [float(random.randint(-3, 3)) for _ in range(dim)]
        rows.append((i, v))
    return rows


def _norm(c):
    # the screen's norm, spelled independently of similarity._norm_expr
    # (same strict left-to-right IEEE fold)
    return F.sqrt(F.aggregate(F.zip_with(c, c, lambda x, y: x * y),
                              F.lit(0.0), lambda a, b: a + b))


def _screened(df, id_name, v_name, id_out, v_out):
    n = _norm(_q(v_name))
    return (df.where((n > 0) & (n - n == 0))
            .select(_q(id_name).alias(id_out), _q(v_name).alias(v_out)))


def rand_edges(nmax=40):
    return [(random.choice(_NODES), random.choice(_NODES))
            for _ in range(random.randint(1, nmax))]


def _q(name):
    return F.col(colutils.quote(name))


def compare(trial, op, span, label, a, b):
    """1 when ``b`` diverges from the reference ``a``, else 0."""
    ca, cb = canon(a), canon(b)
    if ca != cb:
        only_a = [r for r in ca if r not in cb][:3]
        only_b = [r for r in cb if r not in ca][:3]
        print(f"trial {trial} op={op} span={span}{label} DIVERGED "
              f"({len(ca)} vs {len(cb)} rows)\n  a-only={only_a}\n  b-only={only_b}")
        return 1
    print(f"trial {trial} op={op} span={span}{label} ok ({len(ca)} rows)")
    return 0


def cosine_family(trial):
    """op 7: the cosine operators vs a cosine_expr cross-join reference;
    returns the number of divergences."""
    hid, hv = "i`d.x:1", "v.e`c,2"
    dim = random.choice([2, 3, 5])
    k = random.choice([1, 2, 4])
    thr = random.choice([0.0, 0.5, 0.9])
    nc = random.choice([1, 2, 3])
    schema = f"{colutils.quote(hid)} bigint, {colutils.quote(hv)} array<double>"
    rows = rand_vecs(random.randint(4, 24), dim)
    corpus = spark.createDataFrame(rows, schema)
    queries = corpus.where(_q(hid) < 4)
    c = _screened(corpus, hid, hv, "cid", "cv")
    q = _screened(queries, hid, hv, "qid", "qv")
    cos = F.round(F.expr(SIM.cosine_expr("cv", "qv")), 6)
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(),
                                          F.col("cid").asc())
    ref_topk = (c.crossJoin(q).select("qid", "cid", cos.alias("cos"))
                .withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= k)
                .select("qid", "cid", "rank", "cos"))
    a2 = c.select(F.col("cid").alias("ida"), F.col("cv").alias("va"))
    b2 = c.select(F.col("cid").alias("idb"), F.col("cv").alias("vb"))
    pcos = F.round(F.expr(SIM.cosine_expr("va", "vb")), 6)
    ref_pairs = (a2.join(b2, F.col("ida") < F.col("idb"))
                 .select("ida", "idb", pcos.alias("cos"))
                 .where(F.col("cos") >= thr))
    cdf, qdf = OmigoDF(corpus), OmigoDF(queries)
    label = f" dim={dim} k={k} nc={nc} thr={thr}"
    n = compare(trial, 7, "-", " topk" + label, ref_topk,
                SIM.cosine_topk(cdf, qdf, k, id_col=hid, vec_col=hv).df)
    try:
        ivf = SIM.cosine_topk_ivf(cdf, qdf, k, id_col=hid, vec_col=hv,
                                  num_centroids=nc, nprobe=nc).df
        n += compare(trial, 7, "-", " ivf" + label, ref_topk, ivf)
    except ValueError:
        if c.count():
            raise
        print(f"trial {trial} op=7 ivf: no finite vector, ValueError (ok)")
    n += compare(trial, 7, "-", " dup_pairs" + label, ref_pairs,
                 DD.embedding_dup_pairs(cdf, thr, id_col=hid, vec_col=hv,
                                        method="exact").df)
    # a corpus with no finite vector cannot seed IVF: the documented error
    bad = OmigoDF(spark.createDataFrame(rand_vecs(5, dim, corrupt_only=True),
                                        schema))
    try:
        SIM.cosine_topk_ivf(bad, bad, k, id_col=hid, vec_col=hv,
                            num_centroids=nc, nprobe=nc).df.collect()
        print(f"trial {trial} op=7 ivf on a corrupt-only corpus did not raise")
        n += 1
    except ValueError:
        print(f"trial {trial} op=7 ivf corrupt-only corpus: ValueError (ok)")
    return n


_TS = [None, 0, 1, 2, 3, 5, 8]


def ref_bfs(edges, seeds):
    """(node, level) rows: minimum BFS level from the seeds; NULL is
    reached like any vertex but never expands."""
    adj = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
    level = {v: 0 for v in seeds}
    frontier = {v for v in seeds if v is not None}
    depth = 0
    while frontier:
        depth += 1
        new = {d for u in frontier for d in adj.get(u, ())} - set(level)
        level.update((v, depth) for v in new)
        frontier = {v for v in new if v is not None}
    return sorted(level.items(), key=repr)


def ref_ancestors(edges):
    """(node, ancestor) rows: every vertex reachable from each edge source
    by a path whose intermediate vertices are not NULL."""
    adj = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
    out = []
    for a in adj:
        seen, stack = set(), list(adj[a])
        while stack:
            v = stack.pop()
            if v not in seen:
                seen.add(v)
                if v is not None:
                    stack.extend(adj.get(v, ()))
        out += [(v, a) for v in seen]
    return out


def ref_time_ancestors(rows):
    """(node, ancestor, arr_ts) rows: the minimum arrival over paths with
    non-decreasing timestamps; a pair whose every timestamp is NULL is
    reachable with a NULL arrival and extends nowhere."""
    tss = {}
    for s, d, t in rows:
        tss.setdefault((s, d), set())
        if t is not None:
            tss[(s, d)].add(t)
    best = {(d, s): min(ts, default=None) for (s, d), ts in tss.items()}
    changed = True
    while changed:
        changed = False
        for (n, a), arr in list(best.items()):
            if n is None or arr is None:
                continue
            for (s, d), ts in tss.items():
                t = min((x for x in ts if x >= arr), default=None) \
                    if s == n else None
                old = best.get((d, a))
                if t is not None and (old is None or t < old):
                    best[(d, a)] = t
                    changed = True
    return [(n, a, t) for (n, a), t in best.items()]


def graph_family(trial):
    """op 8: the graph traversals vs the driver-side references; returns
    the number of divergences."""
    hs, hd, ht = "sr.c", "d`st", "t.s"
    rows = [(s, d, random.choice(_TS)) for s, d in rand_edges(12)]
    schema = (f"{colutils.quote(hs)} string, {colutils.quote(hd)} string, "
              f"{colutils.quote(ht)} bigint")
    seeds = random.choice([[], [None], random.sample(_NODES, 2),
                           random.sample(_NODES[1:], 2)])
    label = f" edges={len(rows)} seeds={seeds}"

    def run(rs, seeds, enc=False):
        e = OmigoDF(spark.createDataFrame(rs, schema))
        kw = dict(src_col=hs, dst_col=hd, encode_vertices=enc)
        seed_df = spark.createDataFrame([(v,) for v in seeds],
                                        "node_id string")
        return [GR.bfs_levels(e, seeds, **kw).df,
                GR.bfs_levels(e, seed_df, **kw).df,
                GR.ancestors(e, **kw).df,
                GR.time_ordered_ancestors(e, ht, **kw).df]

    def ref(rs, seeds):
        pairs = [(s, d) for s, d, _ in rs]
        b = ref_bfs(pairs, seeds)
        return [b, b, ref_ancestors(pairs), ref_time_ancestors(rs)]

    names = ("bfs(list)", "bfs(frame)", "ancestors", "time_ancestors")
    n = 0
    for name, want, got in zip(names, ref(rows, seeds), run(rows, seeds)):
        n += compare(trial, 8, "-", f" {name}{label}",
                     spark.createDataFrame(want, got.schema), got)
    # encoding: NULL-free edges and seeds equal the plain runs
    nf = [r for r in rows if r[0] is not None and r[1] is not None]
    nf_seeds = [v for v in seeds if v is not None]
    if nf:
        for name, plain, enc in zip(names, run(nf, nf_seeds),
                                    run(nf, nf_seeds, enc=True)):
            n += compare(trial, 8, "-", f" {name} encoded{label}", plain,
                         enc)
    if len(nf) < len(rows):
        try:
            GR.ancestors(OmigoDF(spark.createDataFrame(rows, schema)),
                         src_col=hs, dst_col=hd, encode_vertices=True)
            print(f"trial {trial} op=8 encoded NULL ids did not raise")
            n += 1
        except ValueError as ex:
            if "NULL vertex ids" not in str(ex):
                raise
            print(f"trial {trial} op=8 encoded NULL ids: ValueError (ok)")
    return n


fails = 0
for trial in range(N_TRIALS):
    rows = rand_rows()
    if not rows:
        continue
    span = random.choice([3.0, 17.0, 100.0, 1e6])
    df = spark.createDataFrame(rows, "k string, t double, v double")
    odf = OmigoDF(df)
    op = trial % N_OPS
    # mixed-census threshold: the largest per-key row count (asof counts
    # each key's left and right rows together), so the keys holding it
    # are hot and the rest cold whenever the counts differ
    key_rows = Counter(r[0] for r in rows)
    mixed_thr = max(key_rows.values()) * (2 if op == 2 else 1)
    mixed_label = (" mixed" if len(set(key_rows.values())) > 1
                   else " mixed(all-hot)")
    try:
        if op == 0:
            gap = random.choice([5.0, 50.0])

            def carry(**kw):
                return TS.sessionize(odf, "k", "t", gap_sec=gap, **kw).df
        elif op == 1:
            iv = OmigoDF(df.select("k", F.col("t").alias("s"),
                                   random.choice([F.col("v"), F.col("t") + 5.0]).alias("e")))

            def carry(**kw):
                return TS.merge_intervals(iv, "k", "s", "e", **kw).df
        elif op == 2:
            direction = random.choice(["backward", "forward", "nearest"])
            tol = random.choice([None, 10.0, 200.0])
            left = OmigoDF(df.select("k", F.col("t").alias("lt"),
                                     F.col("v").alias("lv")))
            right = OmigoDF(df.select("k", F.col("t").alias("rt"),
                                      F.col("v").alias("rv")))

            def carry(**kw):
                return TS.asof_join(left, right, "k", "lt", "rt", suffix="q",
                                    direction=direction, tolerance_sec=tol,
                                    tiebreak_cols=["rv"], **kw).df
        elif op == 3:
            w = random.choice([2, 4])
            # a NaN, +-Inf or +-1e308 in v trips the window sum's
            # decimal-overflow guard in both plans (its documented
            # contract), so such trials compare the rolling count
            fn = ("sum" if all(r[2] is None or abs(r[2]) < 1e20 for r in rows)
                  else "count")

            def carry(**kw):
                return TS.rolling_aggregate(odf, "k", "t", ["v"], [fn],
                                            window_rows=w,
                                            tiebreak_cols=["v"], **kw).df
        if op <= 3:
            a = carry()
            for label, thr in (("", 1), (mixed_label, mixed_thr)):
                b = carry(time_buckets_sec=span, hot_key_rows=thr)
                try:
                    fails += compare(trial, op, span, label, a, b)
                except Exception as e:
                    # the rolling span guard rides in the plan: it
                    # fires when canon() executes the bucketed plan
                    if op == 3 and "time_buckets_sec too small" in str(e):
                        print(f"trial {trial}{label}: rolling guard "
                              "raised (ok)")
                        continue
                    raise
            continue
        if op == 4:
            # aggregate(collapse=False): de-skewed groupBy+join-back vs
            # a window reference, hostile names, NULL keys. min/max only
            # (order-insensitive — float sum would false-diverge), and
            # -0.0 canonicalized in the INPUT because Spark min/max keep
            # the first-seen of an IEEE-equal pair in BOTH plans (the
            # documented engine behavior, not a join-back property).
            h = df.select(F.col("k").alias("k:x.y"),
                          F.when(F.col("t") == 0.0, 0.0)
                          .otherwise(F.col("t")).alias("v`w"))
            a = OmigoDF(h).aggregate(["k:x.y"], ["v`w", "v`w"],
                                     ["min", "max"], collapse=False).df
            wref = Window.partitionBy(_q("k:x.y"))
            b = (h.withColumn("v`w:min", F.min(_q("v`w")).over(wref))
                  .withColumn("v`w:max", F.max(_q("v`w")).over(wref))
                  .select(*[_q(c) for c in a.columns]))
        elif op == 5:
            # inverted_index: doc_freq join-back + WindowGroupLimit
            # postings vs a collect_list reference, hostile id-col name
            # and comma/dot/backtick doc ids
            mp = random.choice([1, 3, 100])
            docs = spark.createDataFrame(
                [(random.choice([n for n in _NODES if n is not None]),
                  " ".join(random.choices(
                      ["the", "a", "b,c", "d.e", "", "THE", "x"],
                      k=random.randint(0, 6))))
                 for _ in range(random.randint(1, 30))],
                "`doc.id``x` string, text string")
            a = TX.inverted_index(OmigoDF(docs), id_col="doc.id`x",
                                  max_postings=mp).df
            ex = (docs.select(F.explode(F.array_distinct(
                      F.split(F.lower(F.col("text")), " "))).alias("term"),
                      _q("doc.id`x"))
                  .where(F.col("term") != ""))
            b = (ex.groupBy("term")
                 .agg(F.count(F.lit(1)).alias("doc_freq"),
                      F.concat_ws(",", F.slice(
                          F.array_sort(F.collect_list(
                              _q("doc.id`x").cast("string"))),
                          1, mp)).alias("postings")))
        elif op == 6:
            # merge_similar_nodes: groupBy(psig)+join-back representative
            # vs a window-min reference, hostile edge-col names and
            # comma-collision node ids
            edges = spark.createDataFrame(rand_edges(),
                                          "`sr.c` string, `d``st` string")
            a = GR.merge_similar_nodes(OmigoDF(edges), src_col="sr.c",
                                       dst_col="d`st").df
            srcs = edges.select(_q("sr.c").alias("__n__")).distinct()
            leaves = (edges.join(srcs, _q("d`st")
                                 == F.col("__n__"), "left_anti")
                      .select(_q("d`st").alias("__leaf__")).distinct())
            parents = (edges.join(leaves, _q("d`st")
                                  == F.col("__leaf__"))
                       .groupBy("__leaf__")
                       .agg(F.array_sort(F.collect_set(
                           _q("sr.c").cast("string"))).alias("__psig__")))
            wp = Window.partitionBy("__psig__")
            remap = (parents
                     .withColumn("__rep__", F.min("__leaf__").over(wp))
                     .select("__leaf__", "__rep__"))
            b = (edges.join(remap, _q("d`st")
                            == F.col("__leaf__"), "left")
                 .withColumn("d`st", F.coalesce(F.col("__rep__"),
                                                _q("d`st")))
                 .drop("__leaf__", "__rep__")
                 .select(*[_q(c) for c in edges.columns]).distinct())
        elif op == 7:
            fails += cosine_family(trial)
            continue
        elif op == 8:
            fails += graph_family(trial)
            continue
        fails += compare(trial, op, span, "", a, b)
    except Exception as ex:
        if op == 3 and "decimal overflow" in str(ex):
            # documented contract on +-1e308 window sums, shared by
            # both plans (the docstring's expected-raise class); since
            # the span guard went in-plan more trials reach it
            print(f"trial {trial}: rolling overflow guard raised (ok)")
            continue
        fails += 1
        print(f"trial {trial} op={op} ERROR: {str(ex)[:160]}")
print("HUNT DONE, fails =", fails)
