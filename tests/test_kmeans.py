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
