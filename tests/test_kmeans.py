"""Deterministic spherical k-means + SemDeDup (similarity.kmeans_*,
dedup.semdedup).

The load-bearing property is BIT-REPRODUCIBILITY of the trained model:
the centroid update sums BIGINT micro-units (order-independent), so
training must give identical centroids at any partition count — that is
what lets the driver oracle re-derive both Lloyd iterations in SQL."""

import math

import pytest

from omigo_data_analytics_spark.core.dataframe import OmigoDF
from omigo_data_analytics_spark.operators import dedup as DD
from omigo_data_analytics_spark.operators import similarity as SIM


def test_kmeans_centroids_partition_invariant(embeddings):
    base = SIM.kmeans_centroids(embeddings, k=4, iters=2)
    p3 = SIM.kmeans_centroids(OmigoDF(embeddings.df.repartition(3)), k=4, iters=2)
    p13 = SIM.kmeans_centroids(OmigoDF(embeddings.df.repartition(13)), k=4, iters=2)
    # bit-exact equality, not approx: the whole point of the quantized
    # update is that shuffles cannot perturb the model
    assert base == p3 == p13
    assert len(base) == 4
    assert all(len(vec) == 64 for _, vec in base)


def test_kmeans_centroids_move_from_seeds(embeddings):
    seeds = SIM.ivf_centroids(embeddings, 4)
    trained = SIM.kmeans_centroids(embeddings, k=4, iters=2)
    assert [cid for cid, _ in trained] == [cid for cid, _ in seeds]
    moved = sum(1 for (_, s), (_, t) in zip(seeds, trained) if s != t)
    assert moved >= 1  # Lloyd actually updated something


def test_kmeans_empty_cluster_keeps_previous_centroid(spark):
    # 3 distinct points, k=3, but two seeds are so close that one
    # cluster captures both members — the starved seed must survive
    # with its previous centroid instead of vanishing
    rows = [(1, [1.0, 0.0]), (2, [0.9999, 0.0001]), (3, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = SIM.kmeans_centroids(OmigoDF(df), k=3, iters=2)
    assert len(cents) == 3
    assert {cid for cid, _ in cents} == {1, 2, 3}


def test_ivf_centroids_skip_zero_vectors(spark):
    # a zero seed has no cosine with anything, so the id tie-break would
    # hand it every row (all four rows in cluster 1, cluster_cos NULL);
    # seeds pass the cosine sides' one screen in both engines
    rows = [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0]),
            (4, [0.9, 0.1])]
    df = OmigoDF(spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"))
    cents = SIM.ivf_centroids(df, 2)
    assert [cid for cid, _ in cents] == [2, 3]
    got = {r["vec_id"]: (r["cluster_id"], r["cluster_cos"])
           for r in SIM.kmeans_assign(df, cents).df.collect()}
    assert (got[2], got[3], got[4]) == ((2, 1.0), (3, 1.0), (2, 0.993884))

    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings AS SELECT * FROM (VALUES "
                + ", ".join(f"({i}, {v})" for i, v in rows)
                + ") t(vec_id, embedding)")
    cte, fin = SIM.kmeans_cents_cte_duck(k=2, iters=0)
    assert [r[0] for r in con.execute(
        f"WITH {cte} SELECT c_id FROM {fin} ORDER BY c_id").fetchall()] == [2, 3]


def test_kmeans_assign_is_map_side_and_python_free(embeddings):
    cents = SIM.kmeans_centroids(embeddings, k=4, iters=1)
    out = SIM.kmeans_assign(embeddings, cents)
    plan = out.df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    # assignment must not shuffle: centroid literals ride the plan
    assert "Exchange hashpartitioning" not in plan
    rows = out.df.collect()
    cent_ids = {cid for cid, _ in cents}
    assert all(r["cluster_id"] in cent_ids for r in rows)
    assert all(-1.0 <= r["cluster_cos"] <= 1.0 for r in rows)


def test_kmeans_assign_matches_python_argmax(embeddings):
    cents = SIM.kmeans_centroids(embeddings, k=4, iters=1)
    got = {r["vec_id"]: (r["cluster_id"], r["cluster_cos"])
           for r in SIM.kmeans_assign(embeddings, cents).df.collect()}
    for r in embeddings.df.collect():
        v = [float(x) for x in r["embedding"]]
        nv = math.sqrt(sum(x * x for x in v))
        best = None
        for cid, c in cents:
            nc = math.sqrt(sum(x * x for x in c))
            cos = round(sum(a * b for a, b in zip(v, c)) / (nv * nc), 6)
            # cos desc, id asc — the engine's tiebreak
            if best is None or (cos, -cid) > (best[1], -best[0]):
                best = (cid, cos)
        assert got[r["vec_id"]][0] == best[0], r["vec_id"]
        assert got[r["vec_id"]][1] == pytest.approx(best[1], abs=1e-6)


def test_semdedup_matches_brute_force_greedy(embeddings):
    thr = 0.4
    out = DD.semdedup(embeddings, threshold=thr, num_clusters=4, iters=2)
    survivors = {r["vec_id"] for r in out.df.collect()}

    cents = SIM.kmeans_centroids(embeddings, k=4, iters=2)
    asg = {r["vec_id"]: r["cluster_id"]
           for r in SIM.kmeans_assign(embeddings, cents).df.collect()}
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]]
            for r in embeddings.df.collect()}

    def cos(a, b):
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(sum(x * y for x, y in zip(a, b)) / (na * nb), 6)

    expect = set()
    for i, v in vecs.items():
        dup = any(j < i and asg[j] == asg[i] and cos(vecs[j], v) >= thr
                  for j in vecs)
        if not dup:
            expect.add(i)
    assert survivors == expect
    # survivors carry the cluster assignment
    cols = set(out.df.columns)
    assert {"cluster_id", "cluster_cos"} <= cols


def test_semdedup_pairs_are_cluster_bounded(embeddings):
    # a cross-cluster near-dup pair must NOT cause a drop: the pair
    # search is bounded to clusters by design (the SemDeDup trade)
    out = DD.semdedup(embeddings, threshold=-1.0, num_clusters=500, iters=0)
    # with every row its own cluster (k = n, iters=0 keeps seeds) and
    # threshold -1 (everything is a "dup"), nothing shares a cluster,
    # so nothing can be dropped
    assert out.df.count() == embeddings.df.count()


def test_hash_embeddings_shape_norm_and_plan(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma alpha"), (2, "delta"), (3, "   "),
         (4, "line one\nline two\ttabbed")],
        "doc_id long, text string")
    out = SIM.hash_embeddings(OmigoDF(df), dim=16)
    rows = {r["doc_id"]: list(r["embedding"]) for r in out.df.collect()}
    assert all(len(v) == 16 for v in rows.values())
    # L2 norm 1 for non-empty docs; all-whitespace doc -> zero vector
    for did, v in rows.items():
        n = math.sqrt(sum(x * x for x in v))
        if did == 3:
            assert v == [0.0] * 16
        else:
            assert n == pytest.approx(1.0, abs=1e-9)
    # newline/tab-separated tokens are real tokens (the \s+ tokenizer):
    # doc 4 has 5 tokens, so its unnormalized signed counts sum |.| >= 1
    assert any(x != 0 for x in rows[4])
    plan = out.df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan  # map-side only
    assert "EvalPython" not in plan


def test_hash_embeddings_null_text_is_zero_vector_both_engines(spark):
    """Regression (r8 review): split(NULL) is NULL in Spark and would
    propagate to a dim-NULL vector while the DuckDB oracle produced the
    zero vector — both sides now coalesce to the empty document."""
    import duckdb
    df = spark.createDataFrame([(1, None), (2, "alpha")],
                               "doc_id long, text string")
    rows = {r["doc_id"]: list(r["embedding"])
            for r in SIM.hash_embeddings(OmigoDF(df), dim=8).df.collect()}
    assert rows[1] == [0.0] * 8
    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT, text VARCHAR)")
    con.execute("INSERT INTO t VALUES (1, NULL), (2, 'alpha')")
    hs = SIM.hash_embed_hs_sql_duck(dim=8)
    vec = SIM.hash_embed_vec_sql_duck("hs", dim=8)
    got = dict(con.execute(
        f"SELECT doc_id, {vec} FROM (SELECT doc_id, {hs} AS hs FROM t)"
    ).fetchall())
    assert list(got[1]) == [0.0] * 8
    assert [round(x, 9) for x in got[2]] == \
        [round(x, 9) for x in rows[2]]


def test_hash_embeddings_deterministic_and_token_order_free(spark):
    a = spark.createDataFrame([(1, "x y z")], "doc_id long, text string")
    b = spark.createDataFrame([(1, "z y x")], "doc_id long, text string")
    va = SIM.hash_embeddings(OmigoDF(a), dim=8).df.collect()[0]["embedding"]
    vb = SIM.hash_embeddings(OmigoDF(b), dim=8).df.collect()[0]["embedding"]
    # bag-of-words: permuting tokens must not change the vector
    assert list(va) == list(vb)


def test_hash_embeddings_feed_kmeans_and_semdedup(documents):
    from pyspark.sql import functions as SF
    out = SIM.hash_embeddings(documents, dim=16)
    emb = OmigoDF(out.df.select(
        "doc_id", SF.expr("CAST(embedding AS ARRAY<FLOAT>)").alias("embedding")))
    cents = SIM.kmeans_centroids(emb, k=4, iters=1, id_col="doc_id")
    assert len(cents) == 4
    sd = DD.semdedup(emb, threshold=0.999, num_clusters=4, iters=1,
                     id_col="doc_id")
    # near-identical-vector threshold keeps nearly everything
    assert sd.df.count() >= documents.df.count() * 0.5


def test_semdedup_pretrained_centroids_skip_training(embeddings):
    cents = SIM.kmeans_centroids(embeddings, k=4, iters=2)
    a = DD.semdedup(embeddings, threshold=0.4, centroids=cents)
    b = DD.semdedup(embeddings, threshold=0.4, num_clusters=4, iters=2)
    assert sorted(r["vec_id"] for r in a.df.collect()) == \
        sorted(r["vec_id"] for r in b.df.collect())


# ------------------------------------------- auto k, empty and corrupt inputs
# (moved from the round-11 review-fix file)

def test_semdedup_auto_k_valid_and_bounded(spark, embeddings):
    """num_clusters=None derives k from a corpus count (clamped n/1000);
    any k is a valid SemDeDup, so the auto default must still produce a
    subset of the input with survivors unique by id."""
    from omigo_data_analytics_spark.operators import dedup as DD
    e = OmigoDF(embeddings.df.limit(500))
    out = DD.semdedup(e, threshold=0.4).df   # default num_clusters=None
    n_in = e.df.count()
    n_out = out.count()
    assert 0 < n_out <= n_in
    assert out.select("vec_id").distinct().count() == n_out
    # survivors are a subset of the input ids
    extra = out.select("vec_id").join(e.df.select("vec_id"),
                                      "vec_id", "left_anti").count()
    assert extra == 0


def test_semdedup_auto_k_clamp():
    from omigo_data_analytics_spark.operators.dedup import _auto_num_clusters
    assert _auto_num_clusters(0) == 8
    assert _auto_num_clusters(500) == 8          # floor clamp
    assert _auto_num_clusters(80_000) == 80      # n/1000
    assert _auto_num_clusters(10_000_000) == 4096  # ceiling clamp


def test_semdedup_pinned_k_unchanged(spark, embeddings):
    """Explicit num_clusters still pins k exactly (the registry/oracle
    contract): pinned-k result is reproducible."""
    from omigo_data_analytics_spark.operators import dedup as DD
    e = OmigoDF(embeddings.df.limit(300))
    a = DD.semdedup(e, threshold=0.4, num_clusters=8, iters=2).df
    b = DD.semdedup(e, threshold=0.4, num_clusters=8, iters=2).df
    assert sorted(r["vec_id"] for r in a.select("vec_id").collect()) == \
           sorted(r["vec_id"] for r in b.select("vec_id").collect())


def test_decontaminate_semantic_auto_k(spark, documents):
    """num_clusters='auto' derives k ~ sqrt(|eval|) per the docstring;
    the screen still returns a subset of train and never drops rows the
    dense screen keeps... (auto is a recall<=dense screen by design)."""
    from omigo_data_analytics_spark.operators import curation as CU
    docs = OmigoDF(documents.df.limit(400))
    ev = OmigoDF(documents.df.orderBy("doc_id").limit(25))
    out = CU.decontaminate_semantic(docs, ev, "doc_id",
                                    threshold=0.6, dim=16,
                                    num_clusters="auto").df
    n_train = docs.df.count()
    assert 0 < out.count() <= n_train
    # clustered screen can only MISS contamination vs dense: every row
    # dense keeps, auto keeps
    dense = CU.decontaminate_semantic(docs, ev, "doc_id",
                                      threshold=0.6, dim=16).df
    missing = dense.select("doc_id").join(out.select("doc_id"),
                                          "doc_id", "left_anti").count()
    assert missing == 0


def test_decontaminate_auto_k_value():
    from omigo_data_analytics_spark.operators.curation import _auto_eval_k
    assert _auto_eval_k(0) == 2
    assert _auto_eval_k(4) == 2
    assert _auto_eval_k(100) == 10
    assert _auto_eval_k(10_000) == 100
    assert _auto_eval_k(100_000_000) == 4096


def test_train_ivf_centroids_auto_k(spark, embeddings):
    """num_centroids=None derives k from a corpus count (sqrt rule,
    clamped); explicit k still pins exactly."""
    from omigo_data_analytics_spark.operators import similarity as SM
    e = OmigoDF(embeddings.df.limit(400))
    cents = SM.train_ivf_centroids(e, num_centroids=None)
    assert 2 <= len(cents) <= 4096
    pinned = SM.train_ivf_centroids(e, num_centroids=5)
    assert len(pinned) == 5


def test_semdedup_auto_equals_pinned_when_k_matches(spark, embeddings):
    """For corpora under the floor clamp (n < 8000 -> auto k=8), the
    None default must produce BIT-IDENTICAL survivors to an explicit
    k=8 — auto-k changes parameter derivation, never semantics."""
    from omigo_data_analytics_spark.operators import dedup as DD
    e = OmigoDF(embeddings.df.limit(400))
    auto = DD.semdedup(e, threshold=0.4).df
    pinned = DD.semdedup(e, threshold=0.4, num_clusters=8).df
    ids = lambda df: sorted(r["vec_id"] for r in df.select("vec_id").collect())
    assert ids(auto) == ids(pinned)


def test_decontaminate_auto_equals_pinned_when_k_matches(spark, documents):
    """Same equivalence for the clustered decontamination: eval of 25
    docs -> auto k = int(sqrt(25)) = 5 must equal explicit k=5."""
    from omigo_data_analytics_spark.operators import curation as CU
    docs = OmigoDF(documents.df.limit(300))
    ev = OmigoDF(documents.df.orderBy("doc_id").limit(25))
    auto = CU.decontaminate_semantic(docs, ev, "doc_id", threshold=0.6,
                                     dim=16, num_clusters="auto").df
    pinned = CU.decontaminate_semantic(docs, ev, "doc_id", threshold=0.6,
                                       dim=16, num_clusters=5).df
    ids = lambda df: sorted(r["doc_id"] for r in df.select("doc_id").collect())
    assert ids(auto) == ids(pinned)


def test_ivf_centroids_empty_corpus_clear_error(spark):
    """Empty corpus -> plain ValueError, not the VOID-array
    INVALID_EXTRACT_BASE_FIELD_TYPE AnalysisException four operators
    (kmeans/semdedup/IVF/clustered-decon) used to die with."""
    from omigo_data_analytics_spark.operators import similarity as SM
    e = OmigoDF(spark.createDataFrame(
        [], "vec_id long, embedding array<float>"))
    with pytest.raises(ValueError, match="no rows"):
        SM.ivf_centroids(e, 4)
    with pytest.raises(ValueError, match="no rows"):
        SM.kmeans_centroids(e, 4)
    with pytest.raises(ValueError, match="empty"):
        SM.kmeans_assign(OmigoDF(spark.createDataFrame(
            [(1, [0.1, 0.2])], "vec_id long, embedding array<double>")), [])


def test_ivf_seeds_skip_null_vectors(spark):
    from omigo_data_analytics_spark.operators import similarity as SM
    rows = [(1, None), (2, [1.0, 0.0]), (3, None), (4, [0.0, 1.0])]
    e = OmigoDF(spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"))
    cents = SM.ivf_centroids(e, 3)
    assert [c for c, _ in cents] == [2, 4]   # NULLs skipped, order kept


def _mk_corrupt_embeddings(spark):
    rows = [(1, [1.0, 0.0]), (2, [float("nan"), 1.0]),
            (3, [0.9, 0.1]), (4, [float("inf"), 0.0]),
            (5, [0.8, 0.2]), (6, None)]
    return OmigoDF(spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"))


def test_centroid_training_screens_nonfinite(spark):
    """NaN seeds used to render as the bare token `nan` in the centroid
    literal (unparseable SQL); NaN members used to blow up the BIGINT
    micro-unit quantization under ANSI. Both screened now; training and
    seeding use finite vectors only."""
    from omigo_data_analytics_spark.operators import similarity as SM
    e = _mk_corrupt_embeddings(spark)
    cents = SM.ivf_centroids(e, 4)
    assert [c for c, _ in cents] == [1, 3, 5]
    trained = SM.kmeans_centroids(e, k=2, iters=2)
    assert all(all(x == x and abs(x) != float("inf") for x in v)
               for _, v in trained)
    # assignment still covers EVERY row, corrupt ones included
    assert SM.kmeans_assign(e, trained).df.count() == 6


def test_semdedup_corrupt_vectors_never_pair(spark):
    """NaN cosine compares >= threshold TRUE in both engines — without
    the finite-norm screen one corrupt embedding marks its whole
    cluster duplicate. Corrupt rows survive (never dropped), and no
    clean row is dropped on their account."""
    from omigo_data_analytics_spark.operators import dedup as DD
    e = _mk_corrupt_embeddings(spark)
    out = DD.semdedup(e, threshold=0.99, num_clusters=2).df
    ids = {r["vec_id"] for r in out.collect()}
    assert {2, 4, 6} <= ids            # corrupt/NULL rows all survive
    # the only genuine near-dup pair is (3,5): cos = 0.991 >= 0.99 —
    # the greedy keep-lowest-id drops 5, keeps 3; 1 is dissimilar.
    # Crucially, NOT every clean row vanished (pre-fix, the NaN row
    # "matched" everything in its cluster).
    assert 1 in ids and 3 in ids and 5 not in ids
