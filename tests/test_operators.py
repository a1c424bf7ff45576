"""Training-data operator tests: text metrics, dedup family, similarity
search, explode_json."""

import warnings

import pytest
from pyspark.sql import functions as F

from omigo_data_analytics_spark import OmigoDF
from omigo_data_analytics_spark.operators import dedup as DD
from omigo_data_analytics_spark.operators import similarity as SIM
from omigo_data_analytics_spark.operators import text as TX


def test_text_metrics(documents):
    m = TX.text_metrics(documents)
    row = m.df.select("text", *TX.METRICS).first()
    toks = [t for t in row["text"].split(" ") if t]
    assert row["token_count"] == len(toks)
    assert row["uniq_token_count"] == len(set(toks))
    assert 0 < row["type_token_ratio"] <= 1
    assert 0 <= row["stopword_ratio"] <= 1
    assert 0 < row["quality_score"] <= 1
    assert row["lang_guess"] in list(TX.LANG_MARKERS) + ["und"]


# NULL, empty, whitespace-only, 'la' (es, fr) and 'de' (es, zh) shared by
# two sets, ties between languages, stopwords, and no marker at all
_HOSTILE_TEXTS = [None, "", "   ", "la", "de", "la de la", "el le",
                  "der le et", "shi de bu der", "the and of a to in",
                  "The AND la", "x  y\tz", "de la le el der die"]


def test_text_metrics_fold_equals_per_set_filters(spark):
    """The one fold over the tokens gives the counts that a
    ``size(filter(...))`` per marker set gives, and so every metric; its
    optimized plan walks the tokens with one ``aggregate`` and no
    ``size(filter(``."""
    df = spark.createDataFrame(list(enumerate(_HOSTILE_TEXTS)),
                               "doc_id int, text string")
    m = TX.text_metrics(OmigoDF(df)).df
    plan = m._jdf.queryExecution().optimizedPlan().toString()
    assert "size(filter(" not in plan
    assert plan.count("aggregate(") == 1

    exprs = TX._metric_exprs("spark")
    per_set = ("named_struct('len', aggregate(t0, 0L, (a, x) -> a + length(x)), "
               + ", ".join(f"'{k}', size(filter(t0, x -> x IN {TX._in_list(w)}))"
                           for k, w in TX._MARKER_SETS.items()) + ")")
    body = "named_struct(" + ", ".join(f"'{k}', {e}" for k, e in exprs.items()) + ")"
    ref = TX.let_spark(TX._TOKENS_SPARK.format(col="text"), "t0",
                       TX.let_spark(per_set, "c0", body))
    want = df.select("doc_id", F.expr(f"inline(array({ref}))"))
    got = m.select("doc_id", *exprs)
    assert sorted(got.collect()) == sorted(want.collect())
    langs = dict(got.select("doc_id", "lang_guess").collect())
    assert [langs[i] for i in range(len(_HOSTILE_TEXTS))] == [
        "und", "und", "und", "es", "es", "es", "es", "fr", "zh", "en", "es",
        "und", "es"]


def test_fingerprint_identifies_exact_dups(spark):
    df = spark.createDataFrame(
        [(1, "a b  c"), (2, "A B C"), (3, "x y")], ["doc_id", "text"])
    fp = TX.fingerprint(OmigoDF(df))
    vals = {r["doc_id"]: r["fingerprint"] for r in fp.df.collect()}
    assert vals[1] == vals[2]  # case/whitespace-normalized
    assert vals[1] != vals[3]


def test_dedup_exact(spark):
    df = spark.createDataFrame(
        [(1, "same"), (2, "same"), (3, "other")], ["doc_id", "text"])
    out = DD.dedup_exact(OmigoDF(df), ["text"])
    rows = {r["doc_id"]: r["dup_count"] for r in out.df.collect()}
    assert rows == {1: 2, 3: 1}


def test_minhash_similar_docs_share_minhashes(spark):
    a = "the quick brown fox jumps over the lazy dog again and again today"
    b = a + " tomorrow"  # near-dup: most shingles shared
    c = "completely different words appear in this unrelated document text here"
    df = spark.createDataFrame([(1, a), (2, b), (3, c)], ["doc_id", "text"])
    sig = DD.minhash_signatures(OmigoDF(df))
    rows = {r["doc_id"]: [r[f"mh_{j}"] for j in range(DD.NUM_HASHES)]
            for r in sig.df.collect()}
    agree_ab = sum(x == y for x, y in zip(rows[1], rows[2]))
    agree_ac = sum(x == y for x, y in zip(rows[1], rows[3]))
    assert agree_ab > agree_ac
    assert agree_ab >= DD.NUM_HASHES // 2


def test_lsh_candidates_and_dedup_near(spark):
    a = "the quick brown fox jumps over the lazy dog again and again today"
    b = a + " tomorrow"
    c = "completely different words appear in this unrelated document text here"
    df = spark.createDataFrame([(1, a), (2, b), (3, c)], ["doc_id", "text"])
    cands = DD.lsh_candidate_pairs(OmigoDF(df))
    pairs = {(r["id_a"], r["id_b"]) for r in cands.df.collect()}
    assert (1, 2) in pairs and (1, 3) not in pairs
    kept = DD.dedup_near(OmigoDF(df), threshold=0.5)
    ids = sorted(r["doc_id"] for r in kept.df.collect())
    assert ids == [1, 3]  # higher id of the near-dup pair dropped


def test_ngram_jaccard_pairs(spark):
    a = "w1 w2 w3 w4 w5 w6"
    b = "w1 w2 w3 w4 w5 zz"
    c = "q1 q2 q3 q4 q5 q6"
    df = spark.createDataFrame([(1, a), (2, b), (3, c)], ["doc_id", "text"])
    out = DD.ngram_jaccard_pairs(OmigoDF(df), min_shared=1)
    rows = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.df.collect()}
    assert (1, 2) in rows and (1, 3) not in rows
    # a has 4 shingles, b has 4, shared 3 -> jaccard 3/5
    assert abs(rows[(1, 2)] - 0.6) < 1e-9


def test_ngram_jaccard_hot_shingle_df_cap(spark):
    # 40 docs all sharing one boilerplate shingle ('x1 x2 x3' appears in
    # every doc): uncapped, that shingle alone emits 40*39/2 = 780 pairs.
    # With the DF cap below its frequency, the hot shingle is dropped from
    # candidate generation and only the genuinely-similar pair survives.
    boiler = "x1 x2 x3"
    docs = [(i, f"{boiler} u{i}a u{i}b u{i}c") for i in range(40)]
    docs.append((100, "y1 y2 y3 y4 y5"))
    docs.append((101, "y1 y2 y3 y4 zz"))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    capped = DD.ngram_jaccard_pairs(OmigoDF(df), min_shared=1, max_shingle_df=10)
    pairs = {(r["id_a"], r["id_b"]) for r in capped.df.collect()}
    assert pairs == {(100, 101)}
    uncapped = DD.ngram_jaccard_pairs(OmigoDF(df), min_shared=1, max_shingle_df=None)
    assert uncapped.df.count() == 780 + 1



def _pairs(odf):
    return sorted(map(tuple, odf.df.collect()))


def _optimized(odf):
    return odf.df._jdf.queryExecution().optimizedPlan().toString()


def test_ngram_jaccard_census_decides_anti_join(spark):
    """The construct-time DF census decides the plan: with no shingle
    over the cap there is no anti-join (results equal the uncapped run);
    with one over it the anti-join stays (results equal the lazy
    warn_candidate_pairs=None plan, which always anti-joins)."""
    docs = [(i, f"x1 x2 x3 u{i}a u{i}b") for i in range(12)]
    docs += [(100, "y1 y2 y3 y4 y5"), (101, "y1 y2 y3 y4 zz"), (102, None)]
    d = OmigoDF(spark.createDataFrame(docs, "doc_id int, text string"))
    roomy = DD.ngram_jaccard_pairs(d, max_shingle_df=12)
    assert "LeftAnti" not in _optimized(roomy)
    assert _pairs(roomy) == _pairs(DD.ngram_jaccard_pairs(d, max_shingle_df=None))
    tight = DD.ngram_jaccard_pairs(d, max_shingle_df=11)
    assert "LeftAnti" in _optimized(tight)
    lazy = DD.ngram_jaccard_pairs(d, max_shingle_df=11, warn_candidate_pairs=None)
    assert "LeftAnti" in _optimized(lazy)
    assert _pairs(tight) == _pairs(lazy)
    assert {(a, b) for a, b, *_ in _pairs(tight)} == {(100, 101)}


def test_ngram_jaccard_census_threshold_boundary(spark):
    """12 identical docs share 2 shingles of df 12: the estimate is
    2 * 12*11/2 = 132. At exactly the threshold nothing warns; one below
    it the warning names the same estimate as before."""
    import warnings

    d = OmigoDF(spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(12)],
        "doc_id int, text string"))
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        DD.ngram_jaccard_pairs(d, warn_candidate_pairs=132)
        assert not [w for w in rec if "candidate pairs" in str(w.message)]
        DD.ngram_jaccard_pairs(d, warn_candidate_pairs=131)
        msgs = [str(w.message) for w in rec if "candidate pairs" in str(w.message)]
    assert len(msgs) == 1
    assert msgs[0].startswith("ngram_jaccard_pairs: ~132 candidate pairs (> 131)")


def test_ngram_jaccard_no_census_job_when_warning_off(spark):
    """warn_candidate_pairs=None keeps the DF cap a lazy anti-join:
    construction submits no Spark job."""
    sc = spark.sparkContext
    d = OmigoDF(spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(12)],
        "doc_id int, text string"))
    sc.setJobGroup("ngram_build", "plan construction only")
    try:
        out = DD.ngram_jaccard_pairs(d, warn_candidate_pairs=None)
    finally:
        n_jobs = len(sc.statusTracker().getJobIdsForGroup("ngram_build"))
        sc.setJobGroup(None, None)
    assert n_jobs == 0, f"construction launched {n_jobs} jobs"
    assert out.df.count() == 66


_NEAR = "the quick brown fox jumps over the lazy dog again and again today"
_HOSTILE_DOCS = [(1, _NEAR), (2, _NEAR + " tomorrow"), (3, _NEAR),
                 (4, "completely different words appear in this text")]
_FAMILY = {
    "minhash_signatures": lambda d, i: DD.minhash_signatures(d),
    "lsh_candidate_pairs": lambda d, i: DD.lsh_candidate_pairs(d, id_col=i),
    "ngram_jaccard_pairs": lambda d, i: DD.ngram_jaccard_pairs(d, id_col=i),
    "duplicate_span_stats": lambda d, i: DD.duplicate_span_stats(
        d, id_col=i, check_unique=True),
    "remove_duplicate_spans": lambda d, i: DD.remove_duplicate_spans(
        d, id_col=i, check_unique=True),
    "dedup_near": lambda d, i: DD.dedup_near(d, id_col=i,
                                             collapse_exact=False),
    "cluster_near_dups": lambda d, i: DD.cluster_near_dups(
        d, id_col=i, collapse_exact=True),
}


@pytest.mark.parametrize("name", ["doc.id", "doc`id"])
def test_ngram_jaccard_hostile_id_col(spark, name):
    """A dot or backtick in id_col is a plain column name, not a struct
    access or a syntax error, in every operator of the text near-dup
    family: each returns the rows of the same call on a doc_id frame."""
    plain = spark.createDataFrame(_HOSTILE_DOCS, "doc_id int, text string")
    hostile = OmigoDF(plain.withColumnRenamed("doc_id", name))
    for op, call in _FAMILY.items():
        want = _pairs(call(OmigoDF(plain), "doc_id"))
        assert want, op
        assert _pairs(call(hostile, name)) == want, op


def test_span_check_unique_null_id_is_not_distinct(spark):
    """A NULL id is not a distinct id (count_distinct's rule): one NULL
    and one real id read 2 rows and 1 distinct id, so both span guards
    fire; two real ids pass silently."""
    text = "a b c d e f g h i j"
    odf = _mk(spark, [(None, text), (1, text)], "doc_id long, text string")
    with pytest.raises(ValueError, match=r"\(2 rows, 1 distinct ids\)"):
        DD.remove_duplicate_spans(odf, check_unique=True)
    with pytest.warns(UserWarning, match=r"\(2 rows, 1 distinct ids\)"):
        DD.duplicate_span_stats(odf, check_unique=True)
    ok = _mk(spark, [(2, text), (1, text)], "doc_id long, text string")
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        DD.duplicate_span_stats(ok, check_unique=True)
        DD.remove_duplicate_spans(ok, check_unique=True)


def test_simhash_near_dup_low_hamming(spark):
    a = "the quick brown fox jumps over the lazy dog again and again today"
    b = a + " tomorrow"
    c = "completely different words appear in this unrelated document text here"
    df = spark.createDataFrame([(1, a), (2, b), (3, c)], ["doc_id", "text"])
    sh = {r["doc_id"]: r["simhash"] for r in DD.simhash(OmigoDF(df)).df.collect()}
    ham_ab = bin(sh[1] ^ sh[2]).count("1")
    ham_ac = bin(sh[1] ^ sh[3]).count("1")
    assert ham_ab < ham_ac


def test_cosine_topk_exact(embeddings):
    q = OmigoDF(embeddings.df.where("vec_id < 2"))
    c = OmigoDF(embeddings.df.where("vec_id >= 2"))
    out = SIM.cosine_topk(c, q, k=3)
    rows = out.df.collect()
    assert len(rows) == 6
    for r in rows:
        assert -1.0 <= r["cosine"] <= 1.0
    # rank 1 has max cosine within each query
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["cosine"]))
    for _, rs in by_q.items():
        rs.sort()
        assert all(rs[i][1] >= rs[i + 1][1] for i in range(len(rs) - 1))


def test_cosine_topk_lsh_recall(embeddings):
    q = OmigoDF(embeddings.df.where("vec_id < 5"))
    c = OmigoDF(embeddings.df.where("vec_id >= 5"))
    exact = {(r["query_id"], r["vec_id"])
             for r in SIM.cosine_topk(c, q, k=3).df.collect()}
    approx = {(r["query_id"], r["vec_id"])
              for r in SIM.cosine_topk_lsh(c, q, k=3).df.collect()}
    # multiprobe LSH should recover a decent share of exact neighbors
    assert len(exact & approx) >= len(exact) // 2


def test_explode_json(spark):
    df = spark.createDataFrame(
        [(1, '{"a": 1, "b": {"c": "x"}, "tags": [1, 2]}'),
         (2, '{"a": 5, "b": {"c": "y"}, "tags": []}')],
        ["id", "js"])
    out = OmigoDF(df).explode_json("js", "j")
    assert set(out.columns) == {"id", "j:a", "j:b:c", "j:tags"}
    rows = {r["id"]: r for r in out.df.collect()}
    assert rows[1]["j:a"] == "1" and rows[1]["j:b:c"] == "x" and rows[1]["j:tags"] == "1,2"
    assert rows[2]["j:tags"] == ""


def test_explode_json_array_of_structs(spark):
    df = spark.createDataFrame(
        [(1, '{"items": [{"k": "a", "v": 1}, {"k": "b", "v": 2}]}')],
        ["id", "js"])
    out = OmigoDF(df).explode_json("js", "j")
    assert out.num_rows() == 2
    ks = sorted(r["j:items:k"] for r in out.df.collect())
    assert ks == ["a", "b"]


def test_explode_json_cogroup_zips_parallel_lists(spark):
    js = '{"xs": [{"v": 1}, {"v": 2}, {"v": 3}], "ys": [{"w": "a"}, {"w": "b"}]}'
    df = spark.createDataFrame([(1, js)], ["id", "js"])
    # cogroup (reference default): positional zip, shorter list pads with ''
    out = OmigoDF(df).explode_json("js", "j", merge_list_method="cogroup",
                                   with_index=True)
    rows = sorted(((r["j:xs:v"], r["j:ys:w"], r["j:__explode_json_index__"])
                   for r in out.df.collect()))
    assert rows == [("1", "a", "0"), ("2", "b", "1"), ("3", "", "2")]
    # join: the combinatorial cartesian of the two lists
    outj = OmigoDF(df).explode_json("js", "j", merge_list_method="join")
    assert outj.num_rows() == 6


def test_explode_json_with_index_join_and_empty(spark):
    # join mode + with_index + >1 array: per-array index columns (a single
    # shared column would be overwritten by each successive explode)
    js = '{"xs": [{"v": 1}, {"v": 2}], "ys": [{"w": "a"}, {"w": "b"}, {"w": "c"}]}'
    df = spark.createDataFrame([(1, js)], ["id", "js"])
    outj = OmigoDF(df).explode_json("js", "j", merge_list_method="join",
                                    with_index=True)
    assert {"j:xs:__explode_json_index__", "j:ys:__explode_json_index__"} \
        <= set(outj.columns)
    rows = sorted((r["j:xs:v"], r["j:xs:__explode_json_index__"],
                   r["j:ys:w"], r["j:ys:__explode_json_index__"])
                  for r in outj.df.collect())
    assert len(rows) == 6 and rows[0] == ("1", "0", "a", "0")
    assert rows[-1] == ("2", "1", "c", "2")
    # single array keeps the reference's bare index name
    one = spark.createDataFrame([(1, '{"xs": [{"v": 7}]}')], ["id", "js"])
    out1 = OmigoDF(one).explode_json("js", "j", merge_list_method="join",
                                     with_index=True)
    assert out1.df.collect()[0]["j:__explode_json_index__"] == "0"
    # cogroup with all-empty lists: the padding row's index is '' like values
    js2 = '{"xs": [], "ys": []}'
    mixed = spark.createDataFrame([(1, js), (2, js2)], ["id", "js"])
    outc = OmigoDF(mixed).explode_json("js", "j", merge_list_method="cogroup",
                                       with_index=True)
    empt = [r for r in outc.df.collect() if r["id"] == 2]
    assert len(empt) == 1 and empt[0]["j:__explode_json_index__"] == ""


def test_explode_json_nested_cols_blob(spark):
    js = '{"a": 1, "meta": {"k1": "v1", "k2": "v2"}}'
    df = spark.createDataFrame([(1, js)], ["id", "js"])
    out = OmigoDF(df).explode_json("js", "j", nested_cols=["meta"])
    assert set(out.columns) == {"id", "j:a", "j:meta:json_encoded"}
    import urllib.parse
    blob = out.df.collect()[0]["j:meta:json_encoded"]
    import json as _json
    assert _json.loads(urllib.parse.unquote(blob)) == {"k1": "v1", "k2": "v2"}


def test_explode_json_transpose_col_groups(spark):
    js = '{"a": 1, "meta": {"k1": "v1", "k2": "v2"}}'
    df = spark.createDataFrame([(1, js)], ["id", "js"])
    out = OmigoDF(df).explode_json("js", "j", transpose_col_groups=["meta"])
    assert {"j:__key__", "j:__value__"} <= set(out.columns)
    kv = sorted((r["j:__key__"], r["j:__value__"]) for r in out.df.collect())
    assert kv == [("k1", "v1"), ("k2", "v2")]
    assert all(r["j:a"] == "1" for r in out.df.collect())


def test_explode_json_source_row_index(spark):
    df = spark.createDataFrame(
        [(1, '{"a": 1}'), (2, '{"a": 2}')], ["id", "js"])
    out = OmigoDF(df).explode_json("js", "j", add_json_index=True)
    rows = {r["id"]: r["j:__json_index__"] for r in out.df.collect()}
    assert sorted(rows.values()) == [1, 2]


def test_ivf_kmeans_trained_centroids(embeddings):
    cents = SIM.train_ivf_centroids(embeddings, num_centroids=8, iters=2)
    assert len(cents) == 8
    dim = SIM.detect_dim(embeddings.df, "embedding")
    assert all(len(v) == dim for _, v in cents)
    q = OmigoDF(embeddings.df.where("vec_id < 5"))
    c = OmigoDF(embeddings.df.where("vec_id >= 5"))
    exact = {(r["query_id"], r["vec_id"])
             for r in SIM.cosine_topk(c, q, k=3).df.collect()}
    trained = {(r["query_id"], r["vec_id"])
               for r in SIM.cosine_topk_ivf(c, q, k=3, nprobe=4,
                                            centroids=cents).df.collect()}
    # trained quantizer must keep useful recall
    assert len(exact & trained) >= len(exact) // 2


def test_cosine_topk_ivf_recall_and_shape(embeddings):
    q = OmigoDF(embeddings.df.where("vec_id < 5"))
    c = OmigoDF(embeddings.df.where("vec_id >= 5"))
    exact = {(r["query_id"], r["vec_id"])
             for r in SIM.cosine_topk(c, q, k=3).df.collect()}
    rows = SIM.cosine_topk_ivf(c, q, k=3, nprobe=8).df.collect()
    approx = {(r["query_id"], r["vec_id"]) for r in rows}
    # every query answered with k ranked candidates
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == [1, 2, 3] for v in by_q.values())
    # probing half the lists should recover a decent share of exact neighbors
    assert len(exact & approx) >= len(exact) // 2


def test_ivf_centroids_deterministic(embeddings):
    c = OmigoDF(embeddings.df.where("vec_id >= 5"))
    cents = SIM.ivf_centroids(c, num_centroids=4)
    assert [cid for cid, _ in cents] == [5, 6, 7, 8]
    assert all(len(v) == 64 for _, v in cents)


def test_embedding_dup_pairs_exact_vs_lsh(embeddings):
    # exact pairs at a moderate threshold (this corpus has no >=0.9 dups)
    pairs = DD.embedding_dup_pairs(embeddings, threshold=0.4).df.collect()
    assert all(r["id_a"] < r["id_b"] and r["cosine"] >= 0.4 for r in pairs)
    exact = {(r["id_a"], r["id_b"]) for r in pairs}
    assert exact  # threshold picked so sf0.001 has pairs
    # lsh candidates are a subset with identical cosines where found
    lsh = {(r["id_a"], r["id_b"])
           for r in DD.embedding_dup_pairs(embeddings, threshold=0.4,
                                           method="lsh").df.collect()}
    assert lsh <= exact


def test_dedup_embedding_drops_higher_ids(embeddings):
    before = embeddings.num_rows()
    pairs = DD.embedding_dup_pairs(embeddings, threshold=0.4).df.collect()
    doomed = {r["id_b"] for r in pairs}
    kept = {r["vec_id"]
            for r in DD.dedup_embedding(embeddings, threshold=0.4).df.collect()}
    assert kept == {r["vec_id"] for r in embeddings.df.collect()} - doomed
    assert len(kept) == before - len(doomed)


def test_embedding_dedup_zero_norm_no_ansi_crash(spark):
    """An all-zeros embedding must not crash the cosine screen (ANSI
    DIVIDE_BY_ZERO) — and must never be dropped as a 'dup'."""
    from omigo_data_analytics_spark.operators import dedup as DD

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 0.0])],
        "vec_id long, embedding array<double>")
    pairs = DD.embedding_dup_pairs(OmigoDF(df), threshold=0.9,
                                   method="exact").df.collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}
    kept = DD.dedup_embedding(OmigoDF(df), threshold=0.9, method="exact")
    assert sorted(r["vec_id"] for r in kept.df.collect()) == [1, 3]


def test_semdedup_zero_norm_kept(spark):
    from omigo_data_analytics_spark.operators import dedup as DD

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 0.0]),
         (4, [0.0, 1.0])],
        "vec_id long, embedding array<double>")
    out = DD.semdedup(OmigoDF(df), num_clusters=2, threshold=0.99)
    ids = sorted(r["vec_id"] for r in out.df.collect())
    assert 3 in ids          # zero vector survives
    assert 2 not in ids      # true dup dropped


def test_chunk_documents(spark):
    import pytest as _pt
    from omigo_data_analytics_spark.core.dataframe import OmigoDF
    from omigo_data_analytics_spark.operators.text import chunk_documents

    text = " ".join(f"w{i}" for i in range(10))       # 10 tokens
    df = spark.createDataFrame([(1, text), (2, "a b"), (3, "")],
                               ["doc_id", "text"])
    out = chunk_documents(OmigoDF(df), "text", max_tokens=4, overlap=1).df
    rows = {(r["doc_id"], r["chunk_idx"]): (r["chunk"], r["chunk_n_tokens"])
            for r in out.collect()}
    # doc 1: starts every 3 tokens -> 0,3,6,9 -> 4 chunks
    assert rows[(1, 0)] == ("w0 w1 w2 w3", 4)
    assert rows[(1, 1)] == ("w3 w4 w5 w6", 4)       # 1-token overlap
    assert rows[(1, 2)] == ("w6 w7 w8 w9", 4)
    assert rows[(1, 3)] == ("w9", 1)                # short tail chunk
    # doc 2 fits in one chunk; doc 3 empty -> one empty chunk with ZERO
    # tokens (the filtered tokenizer no longer counts the phantom '' token)
    assert rows[(2, 0)] == ("a b", 2)
    assert rows[(3, 0)] == ("", 0)
    assert len(rows) == 6
    # every token of doc 1 appears in at least one chunk
    covered = set()
    for (d, _), (c, _) in rows.items():
        if d == 1:
            covered.update(c.split())
    assert covered == {f"w{i}" for i in range(10)}
    with _pt.raises(ValueError):
        chunk_documents(OmigoDF(df), "text", max_tokens=4, overlap=4)


def test_token_counts(spark):
    from omigo_data_analytics_spark.core.dataframe import OmigoDF
    from omigo_data_analytics_spark.operators.text import token_counts

    df = spark.createDataFrame(
        [(1, "the cat sat on the mat"),
         (2, "The dog"),
         (3, "")], ["doc_id", "text"])
    rows = {r["token"]: (r["count"], r["doc_freq"])
            for r in token_counts(OmigoDF(df), "text").df.collect()}
    assert rows["the"] == (3, 2)      # lowercased; twice in doc 1, once in doc 2
    assert rows["cat"] == (1, 1)
    assert "" not in rows
    # min_count prunes
    pruned = {r["token"] for r in
              token_counts(OmigoDF(df), "text", min_count=2).df.collect()}
    assert pruned == {"the"}
    # case-sensitive spelling
    cs = {r["token"]: r["count"] for r in
          token_counts(OmigoDF(df), "text", lowercase=False).df.collect()}
    assert cs["The"] == 1 and cs["the"] == 2


def test_ivf_persisted_index_prunes_partitions(spark, embeddings, tmp_path):
    from omigo_data_analytics_spark import OmigoDF
    from omigo_data_analytics_spark.operators import similarity as SIM
    from pyspark.sql import functions as F

    path = str(tmp_path / "ivf_index")
    cents = SIM.build_ivf_index(embeddings, path, num_centroids=8, iters=2)
    assert len(cents) == 8
    q = OmigoDF(embeddings.df.where("vec_id < 3"))
    got = SIM.cosine_topk_ivf_indexed(spark, path, q, k=5, nprobe=3).df
    # identical results to the in-memory IVF path with the same centroids
    want = SIM.cosine_topk_ivf(embeddings, q, k=5, nprobe=3,
                               centroids=cents).df
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # the probed-list filter must prune partitions at the scan
    corpus = spark.read.parquet(f"{path}/assignments")
    plan = (corpus.where(F.col("__list__").isin([cents[0][0]]))
            ._jdf.queryExecution().executedPlan().toString())
    assert "PartitionFilters: [" in plan and "__list__" in plan


def test_pack_sequences_contiguous_and_bounded(spark, documents):
    """Deterministic training-bin packing: bin ids contiguous from 0,
    volumes conserved, every non-last bin's assigned volume within one
    document of the budget, and the plan has NO global (unpartitioned)
    window over the data — the per-row cumsum windows are partitioned
    by hash bucket."""
    import collections
    import re

    from omigo_data_analytics_spark.operators import text as TX

    budget = 20000
    out = TX.pack_sequences(documents, "n_chars", budget=budget,
                            key_cols=["doc_id"])
    rows = {r["doc_id"]: (r["bin_id"], r["n_chars"])
            for r in out.df.select("doc_id", "bin_id", "n_chars").collect()}
    assert len(rows) == documents.num_rows()
    vol = collections.defaultdict(int)
    for b, n in rows.values():
        vol[b] += n
    mx = max(vol)
    assert set(vol) == set(range(mx + 1))
    maxdoc = max(n for _, n in rows.values())
    assert all(abs(v - budget) <= maxdoc
               for b, v in vol.items() if b != mx)
    # determinism
    again = {r["doc_id"]: r["bin_id"] for r in
             TX.pack_sequences(documents, "n_chars", budget=budget,
                               key_cols=["doc_id"])
             .df.select("doc_id", "bin_id").collect()}
    assert again == {k: b for k, (b, _) in rows.items()}
    # scale guard: every window over the document rows is partitioned;
    # the only orderBy-without-partitionBy window is the 256-row bucket
    # offset table (its child is the per-bucket aggregate, not the docs)
    plan = out.df._jdf.queryExecution().executedPlan().toString()
    n_windows = len(re.findall(r"\bWindow \[", plan))
    n_partitioned = len(re.findall(
        r"Window \[[^\]]*\], \[__bkt__", plan))
    assert n_windows - n_partitioned <= 1


def test_pack_sequences_validates_budget(spark, documents):
    import pytest as _pt

    from omigo_data_analytics_spark.operators import text as TX
    with _pt.raises(ValueError, match="budget"):
        TX.pack_sequences(documents, "n_chars", budget=0, key_cols=["doc_id"])


def test_pack_sequences_check_unique_guard(spark, documents):
    """Opt-in duplicate-key detection: silent on a unique key, UserWarning
    (with counts) when key_cols doesn't uniquely identify rows — the
    cumsum order of duplicate-key rows is partition-order-dependent."""
    import warnings

    import pytest as _pt

    with warnings.catch_warnings():
        warnings.simplefilter("error")
        TX.pack_sequences(documents, "n_chars", budget=20000,
                          key_cols=["doc_id"], check_unique=True)
    dup = OmigoDF(documents.df.limit(40)
                  .unionByName(documents.df.limit(40)))
    with _pt.warns(UserWarning, match="uniquely"):
        TX.pack_sequences(dup, "n_chars", budget=20000,
                          key_cols=["doc_id"], check_unique=True)


def test_pack_sequences_check_unique_null_reads_as_empty(spark):
    """The guard keys a NULL part as '': two rows whose keys differ only
    as NULL vs '' are one key, so it warns. A dotted key column packs."""
    import pytest as _pt

    df = OmigoDF(spark.createDataFrame([(None, 3), ("", 4)], "`k.x` string, n int"))
    with _pt.warns(UserWarning, match=r"\(2 rows, 1 distinct keys\)"):
        out = TX.pack_sequences(df, "n", budget=5, key_cols=["k.x"],
                                check_unique=True)
    assert sorted(r["bin_id"] for r in out.df.collect()) == [0, 0]


def test_span_dedup_key_bits(spark, documents):
    """120-bit removal keys (the mutation-safe default) agree exactly with
    the 60-bit path at collision-free test scale, and bad widths raise."""
    import pytest as _pt

    a = {(r["doc_id"], r["text"], r["removed_tokens"])
         for r in DD.remove_duplicate_spans(documents, n=8).df.collect()}
    b = {(r["doc_id"], r["text"], r["removed_tokens"])
         for r in DD.remove_duplicate_spans(documents, n=8,
                                            key_bits=60).df.collect()}
    assert a == b
    with _pt.raises(ValueError, match="60 or 120"):
        DD.wide_hash("spark", "x", bits=90)


def test_span_grams_expr_validates_key_bits():
    import pytest as _pt

    with _pt.raises(ValueError, match="60 or 120"):
        DD.span_grams_expr("spark", "text", 8, key_bits=90)


def test_redact_pii_leaves_dates_and_ranges(spark):
    """The phone pattern demands 10-15 digits: ISO dates and numeric
    ranges (8 digits) must survive; real phone shapes still redact."""
    df = OmigoDF(spark.createDataFrame(
        [(1, "released 2026-08-14 batch"),
         (2, "order 1000 - 2000 units"),
         (3, "call +1 415-555-0199 now"),
         (4, "call 4155550199 now")], ["doc_id", "text"]))
    got = {r["doc_id"]: r["text"] for r in TX.redact_pii(df).df.collect()}
    assert got[1] == "released 2026-08-14 batch"
    assert got[2] == "order 1000 - 2000 units"
    assert "<PHONE>" in got[3] and "<PHONE>" in got[4]


def test_lang_guess_und_reachable(spark):
    """Zero-signal documents (no marker words) must label 'und', not
    fall through to the first language in tie order."""
    df = OmigoDF(spark.createDataFrame(
        [(1, "xyzzy plugh zork"),      # no markers in any language
         (2, "the and is of house")],  # english markers
        ["doc_id", "text"]))
    got = {r["doc_id"]: r["lang_guess"]
           for r in TX.text_metrics(df).df.select("doc_id", "lang_guess")
           .collect()}
    assert got[1] == "und" and got[2] == "en"


def test_chunk_documents_collapses_whitespace_runs(spark):
    """Tokenization matches the token-count metric: runs of spaces must
    not produce phantom empty tokens that shift chunk boundaries."""
    from omigo_data_analytics_spark.operators.text import chunk_documents

    df = OmigoDF(spark.createDataFrame(
        [(1, "a  b   c d")], ["doc_id", "text"]))
    rows = chunk_documents(df, "text", max_tokens=3, overlap=0).df.collect()
    got = {(r["chunk_idx"]): (r["chunk"], r["chunk_n_tokens"]) for r in rows}
    assert got[0] == ("a b c", 3) and got[1] == ("d", 1)


def test_duplicate_span_stats_check_unique_warns(spark, documents):
    import warnings

    import pytest as _pt

    with warnings.catch_warnings():
        warnings.simplefilter("error")
        DD.duplicate_span_stats(documents, n=8, check_unique=True)
    dup = OmigoDF(documents.df.limit(20)
                  .unionByName(documents.df.limit(20)))
    with _pt.warns(UserWarning, match="uniquely"):
        DD.duplicate_span_stats(dup, n=8, check_unique=True)


def test_similarity_builders_launch_no_driver_jobs(spark, embeddings):
    """Building the (lazy) top-k plan must not run Spark jobs — the old
    detect_dim probe executed the corpus plan once per API call for a
    value the dot/norm expressions never used."""
    sc = spark.sparkContext
    q = OmigoDF(embeddings.df.limit(3))
    sc.setJobGroup("simbuild", "plan construction only")
    try:
        SIM.cosine_topk(embeddings, q, k=2)
        SIM.cosine_topk_lsh(embeddings, q, k=2)
    finally:
        n_jobs = len(sc.statusTracker().getJobIdsForGroup("simbuild"))
        sc.setJobGroup(None, None)
    assert n_jobs == 0, f"plan construction launched {n_jobs} jobs"


def test_ensure_min_parallelism_no_eager_job_on_derived(spark, documents):
    """Regression (r8): probing df.rdd.getNumPartitions() on a DERIVED
    plan finalizes AQE query stages, eagerly running every upstream
    shuffle before the operator's own action — and the repartition it
    guarded discarded AQE's coalesced partitioning. The probe must now
    run only on exchange-free plans; derived plans pass through as-is."""
    sc = spark.sparkContext
    derived = documents.df.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    # sanity: the plan really does carry an exchange
    assert "Exchange" in derived._jdf.queryExecution().executedPlan().toString()
    sc.setJobGroup("emp_derived", "plan construction only")
    try:
        out = TX.ensure_min_parallelism(derived)
    finally:
        n_jobs = len(sc.statusTracker().getJobIdsForGroup("emp_derived"))
        sc.setJobGroup(None, None)
    assert n_jobs == 0, f"derived-plan probe ran {n_jobs} eager job(s)"
    assert out is derived  # untouched: AQE keeps its runtime coalesce


def test_ensure_min_parallelism_still_widens_bare_scan(spark, tmp_path):
    """The guard's original purpose survives: a single compacted file
    scans as ONE split (maxPartitionBytes cannot split a row group), and
    the map fan-out must still be widened there."""
    p = str(tmp_path / "one_file.parquet")
    spark.range(1000).coalesce(1).write.parquet(p)
    scan = spark.read.parquet(p)
    assert "Exchange" not in scan._jdf.queryExecution().executedPlan().toString()
    out = TX.ensure_min_parallelism(scan, min_parts=8)
    assert out.rdd.getNumPartitions() >= 8


def test_ensure_min_parallelism_widens_through_broadcast_join(spark, tmp_path):
    """Regression (r8 review): a BroadcastExchange never repartitions the
    probe side — a one-split corpus scan broadcast-joined to a small dim
    is still single-task. The 'derived' gate must match SHUFFLE
    exchanges only, or the guard silently dies on every
    broadcast-enriched input."""
    p = str(tmp_path / "one_file_bj.parquet")
    spark.range(1000).selectExpr("id", "CAST(id % 3 AS STRING) AS k") \
        .coalesce(1).write.parquet(p)
    scan = spark.read.parquet(p)
    dim = spark.createDataFrame([("0", "a"), ("1", "b")], ["k", "v"])
    j = scan.join(F.broadcast(dim), "k")
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan  # sanity: only a broadcast exchange
    out = TX.ensure_min_parallelism(j, min_parts=8)
    assert out.rdd.getNumPartitions() >= 8


def test_shuffle_exchange_regex_matches_this_spark_version(spark, documents):
    """Version pin (r8 advice): the derived-plan gate reads
    executedPlan().toString(), whose formatting can drift across Spark
    versions. Assert the PRODUCTION regex recognizes every shuffle
    partitioning the running Spark actually prints — if an upgrade
    changes the plan text, this fails loudly instead of the gate
    silently treating every plan as exchange-free."""
    import re as _re

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString()

    d = documents.df
    shuffled = {
        "hashpartitioning": d.groupBy("lang").agg(F.count(F.lit(1)).alias("n")),
        "rangepartitioning": d.orderBy("doc_id"),
        "RoundRobinPartitioning": d.repartition(4),
        "SinglePartition": d.agg(F.count(F.lit(1)).alias("n")),
    }
    for kind, df in shuffled.items():
        p = plan_of(df)
        assert kind in p, f"{kind} not in this Spark's plan text:\n{p}"
        assert _re.search(TX._SHUFFLE_EXCHANGE_RE, p), \
            f"production regex missed {kind}:\n{p}"
    # and a broadcast-only plan must NOT match (the r8-review corner)
    dim = d.sparkSession.createDataFrame([("en", 1)], ["lang", "x"])
    bj = d.join(F.broadcast(dim), "lang")
    pb = plan_of(bj)
    assert "BroadcastExchange" in pb
    assert not _re.search(TX._SHUFFLE_EXCHANGE_RE, pb)


def test_ensure_min_parallelism_introspection_failure_passthrough(spark, tmp_path):
    """r8 advice: when plan introspection throws, the OLD fallback ran
    the eager probe — silently reintroducing the AQE stage-finalizing
    regression exactly when the gate was blind. The safe default is to
    return the plan untouched (the widen is an optimization; skipping it
    is always correct)."""
    p = str(tmp_path / "one_file_fb.parquet")
    spark.range(100).coalesce(1).write.parquet(p)
    scan = spark.read.parquet(p)

    class Broken:
        isStreaming = False

        def __init__(self, inner):
            self._inner = inner

        @property
        def sparkSession(self):
            return self._inner.sparkSession

        @property
        def _jdf(self):
            raise RuntimeError("introspection unavailable")

        @property
        def rdd(self):
            raise AssertionError(
                "eager probe must not run when introspection failed")

        def repartition(self, n):
            raise AssertionError("must not repartition blind")

    b = Broken(scan)
    assert TX.ensure_min_parallelism(b, min_parts=8) is b


def test_token_estimates_known_values(spark):
    from omigo_data_analytics_spark.operators.text import token_estimates

    d = OmigoDF(spark.createDataFrame(
        [(1, "foo.bar(x)"),          # foo . bar ( x )  -> 6 pieces
         (2, "hello world"),          # hello, " world"  -> 2 pieces
         (3, "internationalization"), # 1 piece, 20 chars -> ceil(20/4)=5
         (4, "isn't it"),             # isn 't " it"     -> 3 pieces
         (5, ""), (6, None)],
        "doc_id long, text string"))
    rows = {r["doc_id"]: r for r in token_estimates(d).df.collect()}
    assert rows[1]["pretoken_count"] == 6
    assert rows[2]["pretoken_count"] == 2
    assert rows[3]["pretoken_count"] == 1
    assert rows[3]["token_estimate"] == 5
    assert rows[4]["pretoken_count"] == 3
    assert rows[5]["pretoken_count"] == 0 and rows[5]["token_estimate"] == 0
    assert rows[6]["pretoken_count"] is None and rows[6]["token_estimate"] is None
    # punctuation-dense text: the BPE-ish count exceeds whitespace count
    # (text_metrics' ratio columns ANSI-divide by token_count, so feed it
    # only the non-degenerate row)
    from omigo_data_analytics_spark.operators.text import text_metrics
    ws = {r["doc_id"]: r["token_count"] for r in text_metrics(
        OmigoDF(d.df.where("doc_id = 1"))).df.collect()}
    assert rows[1]["pretoken_count"] > ws[1]


def test_token_estimates_matches_duckdb(documents):
    import duckdb
    import pandas as pd
    from omigo_data_analytics_spark.operators.text import (
        token_estimate_exprs, token_estimates)

    sp = (token_estimates(documents).df
          .select("doc_id", "pretoken_count", "token_estimate")
          .toPandas().sort_values("doc_id").reset_index(drop=True))
    ex = token_estimate_exprs("duckdb")
    du = duckdb.sql(
        f"SELECT doc_id, {ex['pretoken_count']} AS pretoken_count, "
        f"{ex['token_estimate']} AS token_estimate "
        f"FROM '/root/testdata/sf0.001/documents.parquet' "
        f"ORDER BY doc_id").df().reset_index(drop=True)
    pd.testing.assert_frame_equal(sp, du, check_dtype=False)


def test_token_estimates_is_map_side(documents):
    from omigo_data_analytics_spark.operators.text import token_estimates

    p = (token_estimates(documents).df
         ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange hashpartitioning" not in p


def test_cosine_topk_family_screens_corrupt_vectors(spark, tmp_path):
    """NaN/Inf and zero-norm vectors never rank, on either side: a NaN
    cosine sorts above every double in Spark, so unscreened corrupt
    corpus rows took ranks 1-2 for every query."""
    nan, inf = float("nan"), float("inf")
    corpus = OmigoDF(spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [nan, 1.0]), (3, [0.9, 0.1]),
         (4, [inf, 0.0]), (5, [0.0, 0.0])],
        "vec_id long, embedding array<double>"))
    queries = OmigoDF(spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.0, 1.0])],
        "vec_id long, embedding array<double>"))
    want = [(10, 1, 1, 1.0), (10, 3, 2, 0.993884),
            (11, 1, 2, 0.0), (11, 3, 1, 0.110432)]
    path = str(tmp_path / "ivf_index")
    SIM.build_ivf_index(corpus, path, num_centroids=2, iters=1)
    for out in (SIM.cosine_topk(corpus, queries, k=2),
                SIM.cosine_topk_ivf(corpus, queries, k=2, num_centroids=2,
                                    nprobe=2),
                SIM.cosine_topk_ivf_indexed(spark, path, queries, k=2,
                                            nprobe=2)):
        assert sorted(map(tuple, out.df.collect())) == want


# --------------------------------------------------------------------------
# r15 similarity expression hygiene: centroid-norm literals + per-row norm
# binding must be BIT-IDENTICAL to the all-inline r14 cosine form,
# including on hostile vectors (NaN / ±Inf / -0.0 / zero-norm / NULL).

def _r14_inline_cands_expr(vec_col, centroids):
    """The pre-r15 _ivf_cands_expr, kept verbatim as the parity reference:
    every centroid's cosine recomputed BOTH norms inline per row."""
    dot = ("aggregate(zip_with(CAST({a} AS ARRAY<DOUBLE>), "
           "CAST({b} AS ARRAY<DOUBLE>), (x, y) -> x * y), "
           "CAST(0 AS DOUBLE), (acc, v) -> acc + v)")
    elems = []
    for cid, vec in centroids:
        arr = ("CAST(array(" + ", ".join(repr(float(x)) for x in vec)
               + ") AS ARRAY<DOUBLE>)")
        elems.append(f"named_struct('id', CAST({int(cid)} AS BIGINT), 'v', {arr})")
    cents = "array(" + ", ".join(elems) + ")"
    d = dot.format(a=f"`{vec_col}`", b="c.v")
    na = f"sqrt({dot.format(a=f'`{vec_col}`', b=f'`{vec_col}`')})"
    nb = f"sqrt({dot.format(a='c.v', b='c.v')})"
    cos = f"({d}) / nullif(({na}) * ({nb}), CAST(0 AS DOUBLE))"
    return (f"transform({cents}, c -> named_struct("
            f"'id', c.id, 'cos', round({cos}, 6)))")


_HOSTILE_VECS = [
    (1, [0.3, -0.7, 1.2]),
    (2, [0.0, 0.0, 0.0]),                       # zero norm -> NULL cosine
    (3, [-0.0, 0.0, -0.0]),                     # signed zeros
    (4, [float("nan"), 1.0, 2.0]),              # NaN poisons dot and norm
    (5, [float("inf"), 1.0, 2.0]),
    (6, [-1e308, 1e308, 1.0]),                  # overflow-prone products
    (7, None),                                  # NULL vector
    (8, [1e-308, -1e-308, 5e-324]),             # subnormals
    (9, [0.1, 0.2, 0.30000000000000004]),
]


def test_ivf_cands_expr_bit_identical_to_r14_inline(spark):
    from omigo_data_analytics_spark.operators.similarity import (
        _ivf_cands_expr)
    cents = [(10, [0.5, -0.25, 0.125]), (11, [1.0, 1.0, 1.0]),
             (12, [-0.0, 0.0, 0.0]), (13, [1e154, -1e154, 1.0])]
    df = spark.createDataFrame(_HOSTILE_VECS, "vec_id INT, v ARRAY<DOUBLE>")
    new = df.select("vec_id", F.expr(_ivf_cands_expr("v", cents)).alias("a"))
    old = df.select("vec_id",
                    F.expr(_r14_inline_cands_expr("v", cents)).alias("a"))
    # exact value comparison incl. NaN/NULL: to JSON then compare strings
    n = new.select("vec_id", F.to_json(F.col("a")).alias("j")).collect()
    o = old.select("vec_id", F.to_json(F.col("a")).alias("j")).collect()
    assert sorted((r["vec_id"], r["j"]) for r in n) == \
           sorted((r["vec_id"], r["j"]) for r in o)


def test_cos_with_norms_bit_identical_to_inline_cosine(spark):
    from omigo_data_analytics_spark.operators.similarity import (
        _cos_with_norms, _norm_expr, cosine_expr)
    df = spark.createDataFrame(
        [(a, b) for _, a in _HOSTILE_VECS for _, b in _HOSTILE_VECS],
        "va ARRAY<DOUBLE>, vb ARRAY<DOUBLE>")
    hoisted = (df.withColumn("__na__", F.expr(_norm_expr("`va`")))
                 .withColumn("__nb__", F.expr(_norm_expr("`vb`")))
                 .select(F.round(F.expr(_cos_with_norms(
                     "va", "vb", "__na__", "__nb__")), 6).alias("c")))
    inline = df.select(F.round(F.expr(cosine_expr("va", "vb")), 6).alias("c"))
    h = [r["c"] for r in hoisted.collect()]
    i = [r["c"] for r in inline.collect()]
    assert len(h) == len(i)
    for x, y in zip(h, i):
        if x is None or y is None:
            assert x is None and y is None
        elif x != x:  # NaN
            assert y != y
        else:
            assert x == y, (x, y)


def test_fold_dot_py_matches_sql_fold(spark):
    from omigo_data_analytics_spark.operators.similarity import (
        _dot_expr, _fold_dot_py)
    vecs = [v for _, v in _HOSTILE_VECS if v is not None]
    df = spark.createDataFrame([(a, b) for a in vecs for b in vecs],
                               "va ARRAY<DOUBLE>, vb ARRAY<DOUBLE>")
    rows = df.select("va", "vb",
                     F.expr(_dot_expr("va", "vb")).alias("d")).collect()
    import math
    for r in rows:
        py = _fold_dot_py(r["va"], r["vb"])
        sq = r["d"]
        if math.isnan(py):
            assert sq != sq
        else:
            assert py == sq, (r["va"], r["vb"], py, sq)


def test_cosine_family_hostile_vec_and_id_names(spark):
    """r15: the norm hoists must never put a raw user column name into a
    parsed expression — drive backtick+dot+colon names through every
    cosine-family entry point and pin value-equality to the clean run."""
    from omigo_data_analytics_spark.operators import dedup as DD
    from omigo_data_analytics_spark.operators import similarity as SIM
    rows = [(i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(8)])
            for i in range(40)]
    clean = OmigoDF(spark.createDataFrame(rows, "vid BIGINT, v ARRAY<DOUBLE>"))
    hid, hv = "id.we`ird:x", "vec.o`dd:y"
    host = OmigoDF(clean.df.withColumnRenamed("vid", hid)
                           .withColumnRenamed("v", hv))
    qc = OmigoDF(clean.df.where("vid < 3"))
    qh = OmigoDF(host.df.where("`id.we``ird:x` < 3"))
    c = sorted((r["query_id"], r["vid"], r["rank"], r["cosine"]) for r in
               SIM.cosine_topk(clean, qc, k=3, id_col="vid",
                               vec_col="v").df.collect())
    h = sorted((r["query_id"], r[hid], r["rank"], r["cosine"]) for r in
               SIM.cosine_topk(host, qh, k=3, id_col=hid,
                               vec_col=hv).df.collect())
    assert c == h and len(c) == 9
    cents_c = SIM.ivf_centroids(clean, 4, id_col="vid", vec_col="v")
    cents_h = SIM.ivf_centroids(host, 4, id_col=hid, vec_col=hv)
    assert cents_c == cents_h
    asg_c = sorted((r["vid"], r["cluster_id"]) for r in
                   SIM.kmeans_assign(clean, cents_c, vec_col="v")
                   .df.collect())
    asg_h = sorted((r[hid], r["cluster_id"]) for r in
                   SIM.kmeans_assign(host, cents_h, vec_col=hv)
                   .df.collect())
    assert asg_c == asg_h
    de_c = sorted(r["vid"] for r in DD.dedup_embedding(
        clean, 0.9, id_col="vid", vec_col="v", method="exact").df.collect())
    de_h = sorted(r[hid] for r in DD.dedup_embedding(
        host, 0.9, id_col=hid, vec_col=hv, method="exact").df.collect())
    assert de_c == de_h


def _mk(spark, rows, schema):
    return OmigoDF(spark.createDataFrame(rows, schema))


def test_lsh_buckets_empty_vectors_dropped(spark):
    """An empty array embedding must be screened like NULL — the r11
    mask let it through (isfinite of an empty array is vacuously True)
    and np.stack then raised ValueError on the mixed dims, killing
    every row in the batch."""
    e = _mk(spark, [(1, [1.0] * 8), (2, []), (3, [0.9] * 8)],
            "vec_id long, embedding array<double>")
    q = _mk(spark, [(10, [1.0] * 8), (11, [])],
            "vec_id long, embedding array<double>")
    out = SIM.cosine_topk_lsh(e, q, k=2).df.collect()
    assert {r["query_id"] for r in out} == {10}     # empty query: none
    assert {r["vec_id"] for r in out} <= {1, 3}     # empty corpus row out
    # all-empty batch corner: no rows, no crash
    allempty = _mk(spark, [(9, [])], "vec_id long, embedding array<double>")
    assert SIM.cosine_topk_lsh(allempty, q, k=2).df.count() == 0


# --------------------------------------------------------------------------
# text near-dup family: span-uniqueness guard, short-doc shingles, LSH
# banding and caps, the ngram pair census, and the collapse_exact path.

def test_remove_duplicate_spans_check_unique_raises(spark):
    from omigo_data_analytics_spark.operators import dedup as DD

    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (1, "k l m n o p q r s t")],
        "doc_id long, text string")
    import pytest as _pt
    with _pt.raises(ValueError, match="uniquely identify"):
        DD.remove_duplicate_spans(OmigoDF(df), check_unique=True)


def test_short_doc_shingles_whitespace_normalized(spark):
    """Token-identical short docs (< n tokens) must now match: the old
    fallback shingled the RAW text, so 'alpha beta' vs 'alpha  beta'
    never deduped. Engine and DuckDB oracles stay in lockstep."""
    import duckdb

    from omigo_data_analytics_spark.operators import dedup as DD

    df = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha  beta"), (3, "unrelated thing")],
        "doc_id long, text string")
    kept = DD.dedup_near(OmigoDF(df), threshold=0.99)
    assert sorted(r["doc_id"] for r in kept.df.collect()) == [1, 3]
    # dialect parity on the shingle expression itself, incl. edge shapes
    rows = [(1, "alpha beta"), (2, "alpha  beta"), (3, "   "), (4, ""),
            (5, None), (6, "one two three four")]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    got_s = {r["doc_id"]: r["sh"] for r in
             sdf.selectExpr("doc_id",
                            f"{DD.shingles_expr('spark')} AS sh").collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    got_d = {r[0]: r[1] for r in con.execute(
        f"SELECT doc_id, {DD.shingles_expr('duckdb')} FROM t").fetchall()}
    for k in got_s:
        if k == 5:
            # NULL text: duck's list_distinct strips NULLs ([] vs
            # spark's [NULL]) — benign, both minhash to NULL (pinned
            # below); every non-NULL doc must agree exactly
            continue
        # set compare: duck's list_distinct reorders; minhash is
        # order-independent so only the SET must agree
        assert set(got_s[k]) == set(got_d[k]), (k, got_s[k], got_d[k])
    assert got_s[1] == got_s[2] == ["alpha beta"]
    assert got_s[3] == got_s[4] == [""]
    assert got_s[5] == [None] and got_d[5] == []
    mh_s = DD.minhash_exprs("spark", DD.shingles_expr("spark"))[0]
    mh_d = DD.minhash_exprs("duckdb", DD.shingles_expr("duckdb"))[0]
    s5 = sdf.where("doc_id = 5").selectExpr(f"{mh_s} AS m").collect()[0]["m"]
    d5 = con.execute(f"SELECT {mh_d} FROM t WHERE doc_id = 5").fetchone()[0]
    assert s5 is None and d5 is None


def test_lsh_null_text_no_candidate_explosion(spark):
    """NULL-text docs must produce NO candidate pairs (they can never
    verify) instead of all landing in one quadratic '' bucket."""
    from omigo_data_analytics_spark.operators import dedup as DD

    rows = [(i, None) for i in range(50)] + [
        (100, "the quick brown fox jumps"), (101, "the quick brown fox jumps")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cands = DD.lsh_candidate_pairs(OmigoDF(df)).df.collect()
    assert {(r["id_a"], r["id_b"]) for r in cands} == {(100, 101)}
    # NULL docs survive dedup untouched
    kept = DD.dedup_near(OmigoDF(df), threshold=0.9)
    assert kept.df.count() == 51


def test_lsh_param_validation(spark):
    from omigo_data_analytics_spark.operators import dedup as DD

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    import pytest as _pt
    with _pt.raises(ValueError, match="not divisible"):
        DD.lsh_candidate_pairs(OmigoDF(df), k=8, rows_per_band=3)
    with _pt.raises(ValueError, match="seed pairs"):
        DD.minhash_exprs("spark", "sh", k=16)


def test_lsh_max_band_df_cap(spark):
    """Opt-in bucket cap drops over-cap buckets; default None keeps the
    full candidate set."""
    from omigo_data_analytics_spark.operators import dedup as DD

    rows = [(i, "identical boilerplate text here") for i in range(10)] + [
        (100, "the quick brown fox jumps"), (101, "the quick brown fox jumps")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    full = DD.lsh_candidate_pairs(OmigoDF(df)).df.count()
    assert full == 45 + 1  # 10 choose 2 boilerplate + the fox pair
    capped = DD.lsh_candidate_pairs(OmigoDF(df), max_band_df=5).df.collect()
    assert {(r["id_a"], r["id_b"]) for r in capped} == {(100, 101)}


def test_ngram_jaccard_candidate_pair_warning(spark):
    """Opt-in census warns when the post-cap candidate-pair estimate
    exceeds the threshold (self-similar corpora go quadratic even under
    the DF cap — measured at the 40x scale-up); default None adds no
    warning and no extra job."""
    import warnings

    from omigo_data_analytics_spark.operators import dedup as DD

    d = OmigoDF(spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(12)],
        "doc_id long, text string"))
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out1 = DD.ngram_jaccard_pairs(d, warn_candidate_pairs=10).df.count()
        assert any("candidate pairs" in str(x.message) for x in w)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out2 = DD.ngram_jaccard_pairs(d).df.count()
        assert not any("candidate pairs" in str(x.message) for x in w)
    assert out1 == out2  # the census never changes results


def test_ngram_jaccard_census_warns_by_default(spark):
    """Default warn_candidate_pairs is now ON (~10M): a dense corpus
    (every doc shares every shingle) must warn when the estimate
    crosses the caller-set threshold; explicit None opts out."""
    from omigo_data_analytics_spark.operators import dedup as DD
    rows = [(i, "alpha beta gamma delta epsilon zeta eta theta")
            for i in range(40)]
    docs = OmigoDF(spark.createDataFrame(rows, "doc_id int, text string"))
    # ~40 docs x identical shingles -> est pairs ~ s * 40*39/2 >> 100
    with pytest.warns(UserWarning, match="candidate pairs"):
        DD.ngram_jaccard_pairs(docs, warn_candidate_pairs=100).df.count()
    # opt-out: no census job, no warning
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        DD.ngram_jaccard_pairs(docs, warn_candidate_pairs=None).df.count()


def test_ngram_jaccard_default_threshold_silent_on_small(spark, documents):
    """The 10M default must NOT warn on an ordinary small corpus."""
    from omigo_data_analytics_spark.operators import dedup as DD
    docs = OmigoDF(documents.df.limit(200))
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        DD.ngram_jaccard_pairs(docs).df.count()


def test_collapse_exact_equivalence_and_null_survival(spark):
    """dedup_near/cluster_near_dups can collapse byte-identical docs to
    a representative before LSH (r11 duplicate-heavy probe: 5,000
    identical docs = 12.5M candidate pairs = 40-70s; collapsed:
    seconds). All three collapse_exact modes must agree bit-for-bit
    ('auto' picks by a sampled duplicate census — this corpus is 75%
    duplicated, so it collapses), and NULL-text docs (outside the
    mapping) must survive untouched."""
    from omigo_data_analytics_spark.operators import dedup as DD
    rows = ([(i, "same same text for everyone here ok") for i in range(40)]
            + [(100 + i, f"distinct doc {i} tokens {i * 3}") for i in range(10)]
            + [(900, None), (901, None), (902, "")])
    d = OmigoDF(spark.createDataFrame(rows, "doc_id long, text string"))
    outs = [sorted(r[0] for r in DD.dedup_near(d, collapse_exact=m)
                   .df.select("doc_id").collect())
            for m in ("auto", True, False)]
    assert outs[0] == outs[1] == outs[2]
    assert 900 in outs[0] and 901 in outs[0]   # NULL texts always survive
    cls = [sorted(tuple(r) for r in
                  DD.cluster_near_dups(d, collapse_exact=m)
                  .df.select("doc_id", "cluster_id").collect())
           for m in ("auto", True, False)]
    assert cls[0] == cls[1] == cls[2]
    # the identical block collapsed to one cluster rooted at its min id
    labels = dict(cls[0])
    assert all(labels[i] == 0 for i in range(40))


def test_collapse_exact_unknown_value_raises(spark):
    d = _mk(spark, [(1, "aa"), (2, "aa")], "doc_id long, text string")
    for bad in ("always", "yes", 1.5, None):
        with pytest.raises(ValueError, match="collapse_exact"):
            DD.dedup_near(d, collapse_exact=bad).df.count()


def test_collapse_exact_true_overridden_warns(spark):
    d = _mk(spark, [(1, "aa"), (2, "aa"), (3, "bb")],
            "doc_id long, text string")
    with pytest.warns(UserWarning, match="threshold > 1.0"):
        out = DD.dedup_near(d, threshold=1.5, collapse_exact=True)
    # nothing verifies above 1.0: every row survives
    assert out.df.count() == 3
    # and the guard stays silent when the caller didn't force True
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert DD.dedup_near(d, threshold=1.5,
                             collapse_exact="auto").df.count() == 3


def test_dedup_near_collapse_still_bit_identical(spark):
    """Equivalence property survives the fingerprint change: all three
    collapse modes agree on a mixed exact/near/unique corpus."""
    rows = [(i, "the quick brown fox jumps over the lazy dog") for i in range(6)] \
        + [(10, "the quick brown fox jumps over the lazy cat"),
           (11, "completely different text about spark engines"),
           (12, None)]
    d = _mk(spark, rows, "doc_id long, text string")
    outs = [sorted(r["doc_id"] for r in
                   DD.dedup_near(d, collapse_exact=m).df.collect())
            for m in (True, False, "auto")]
    assert outs[0] == outs[1] == outs[2]
    assert 12 in outs[0]                      # NULL text always survives


# -------------------------------------- NULL and non-finite vectors (cosine)
# (moved from the round-11 review-fix file)

def _mk_corrupt_embeddings(spark):
    rows = [(1, [1.0, 0.0]), (2, [float("nan"), 1.0]),
            (3, [0.9, 0.1]), (4, [float("inf"), 0.0]),
            (5, [0.8, 0.2]), (6, None)]
    return OmigoDF(spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"))


def test_lsh_buckets_null_vectors_dropped(spark):
    """NULL embeddings can't bucket: the vectorized bucket UDF used to
    die on np.stack of a None-bearing Arrow batch; now those rows get
    NULL bucket arrays and fall out of candidate generation."""
    from omigo_data_analytics_spark.operators import similarity as SM
    rows = [(1, [1.0] * 8), (2, None), (3, [0.9] * 8), (4, None)]
    e = OmigoDF(spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"))
    q = OmigoDF(spark.createDataFrame(
        [(10, [1.0] * 8), (11, None)], "vec_id long, embedding array<double>"))
    out = SM.cosine_topk_lsh(e, q, k=2).df.collect()
    qids = {r["query_id"] for r in out}
    cands = {r["vec_id"] for r in out}
    assert 11 not in qids           # NULL query: no candidates
    assert cands <= {1, 3}          # NULL corpus rows never bucket
    # all-NULL batch corner
    allnull = OmigoDF(spark.createDataFrame(
        [(9, None)], "vec_id long, embedding array<double>"))
    assert SM.cosine_topk_lsh(allnull, q, k=2).df.count() == 0


def test_embedding_dup_pairs_screen_nonfinite(spark):
    from omigo_data_analytics_spark.operators import dedup as DD
    e = _mk_corrupt_embeddings(spark)
    pairs = DD.embedding_dup_pairs(e, threshold=0.4, method="exact").df
    bad = pairs.where("id_a IN (2,4,6) OR id_b IN (2,4,6)").count()
    assert bad == 0
    assert pairs.count() > 0           # clean near-dups still found


def test_lsh_buckets_nonfinite_excluded(spark):
    """numpy NaN>=0 is False but SQL NaN-is-greatest is True — a NaN
    component would bucket DIFFERENTLY in engine and oracle. Non-finite
    vectors now get NULL buckets like NULL vectors."""
    from omigo_data_analytics_spark.operators import similarity as SM
    e = _mk_corrupt_embeddings(spark)
    q = OmigoDF(spark.createDataFrame(
        [(10, [1.0, 0.0])], "vec_id long, embedding array<double>"))
    out = SM.cosine_topk_lsh(e, q, k=5).df
    assert {r["vec_id"] for r in out.collect()} <= {1, 3, 5}


def test_unicode_case_fold_cross_engine_boundary(spark):
    """r11 unicode probe: a 60-doc multilingual hostile corpus (CJK,
    Cyrillic, Arabic, Hebrew, emoji, astral plane, combining marks,
    fullwidth, ligatures, Turkish) ran through all 22 text-family
    registry oracles: 18/22 hash-exact. The 4 misses all reduce to ONE
    token ('İstanbul') hitting Unicode SpecialCasing, where the JVM and
    utf8proc legitimately differ. This test pins the divergence class
    so a future change that WIDENS it (or an engine upgrade that closes
    it) is noticed."""
    from pyspark.sql import functions as F
    import duckdb
    s = "İ ß ﬁ Привет 日本語 ĞI"
    r = spark.range(1).select(F.lower(F.lit(s)).alias("lo")).collect()[0]["lo"]
    d = duckdb.sql("SELECT lower('İ ß ﬁ Привет 日本語 ĞI') ").fetchone()[0]
    # agreement everywhere except the SpecialCasing dot: stripping the
    # combining dot (U+0307) reconciles the two engines exactly
    assert r.replace("̇", "") == d.replace("̇", "")
    # the only divergent codepoint in the probe corpus is U+0130's map
    assert r.startswith("i̇"), "JVM SpecialCasing changed — re-probe"
    assert d.startswith("i "), "duckdb casing changed — re-probe"
