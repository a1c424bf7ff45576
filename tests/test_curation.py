"""Round-5 curation operators: repetition metrics (Gopher-style rules),
benchmark decontamination, deterministic source mixing."""

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from omigo_data_analytics_spark import OmigoDF
from omigo_data_analytics_spark.operators import curation as CU

SF = "/root/testdata/sf0.001"


def _docs(spark):
    from omigo_data_analytics_spark.sources.io import load_testdata

    return load_testdata(spark, SF, "documents")


def test_repetition_known_values(spark):
    # "a b a b a b": bigrams = [a b, b a, a b, b a, a b] -> 5 total,
    # 2 distinct, dup_frac 3/5, top (a b) 3/5
    d = OmigoDF(spark.createDataFrame(
        [(1, "a b a b a b"), (2, "u v w x y z"), (3, "solo")],
        "doc_id long, text string"))
    rows = {r["doc_id"]: r for r in CU.repetition_metrics(d).df.collect()}
    assert rows[1]["ngram_count"] == 5
    assert rows[1]["dup_ngram_frac"] == 0.6
    assert rows[1]["top_ngram_frac"] == 0.6
    assert rows[2]["dup_ngram_frac"] == 0.0
    assert rows[2]["top_ngram_frac"] == 0.2
    # short doc falls back to its token list (1 token, no repetition)
    assert rows[3]["ngram_count"] == 1
    assert rows[3]["dup_ngram_frac"] == 0.0


def test_repetition_matches_duckdb(spark):
    sp = (CU.repetition_metrics(_docs(spark)).df
          .select("doc_id", "ngram_count", "dup_ngram_frac", "top_ngram_frac")
          .toPandas().sort_values("doc_id").reset_index(drop=True))
    ex = CU.repetition_exprs("duckdb")
    con = duckdb.connect()
    du = con.execute(
        "SELECT doc_id, " + ", ".join(f"{e} AS {k}" for k, e in ex.items())
        + f" FROM '{SF}/documents.parquet' ORDER BY doc_id").df()
    pd.testing.assert_frame_equal(sp, du, check_dtype=False)


def test_repetition_is_map_side(spark):
    df = CU.repetition_metrics(_docs(spark)).df
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in p  # no shuffle, scan + project


def test_filter_repetitive(spark):
    d = OmigoDF(spark.createDataFrame(
        [(1, "spam spam spam spam spam spam"),
         (2, "a perfectly normal varied sentence about spark plans")],
        "doc_id long, text string"))
    out = CU.filter_repetitive(d).df
    assert [r["doc_id"] for r in out.collect()] == [2]
    assert out.columns == ["doc_id", "text"]  # metric cols dropped


def test_decontaminate_drops_ngram_overlap(spark):
    tr = OmigoDF(spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "completely unrelated training text about join plans"),
         (3, "short doc")],
        "doc_id long, text string"))
    ev = OmigoDF(spark.createDataFrame(
        [(100, "benchmark says the quick brown fox jumps here")],
        "doc_id long, text string"))
    # doc 1 shares the 5-gram "the quick brown fox jumps" -> dropped
    out = CU.decontaminate(tr, ev, "doc_id", n=5).df
    assert sorted(r["doc_id"] for r in out.collect()) == [2, 3]
    assert out.columns == tr.df.columns


def test_decontaminate_no_overlap_keeps_all(spark):
    tr = _docs(spark)
    ev = OmigoDF(spark.createDataFrame(
        [(0, "zz yy xx ww vv uu tt ss")], "doc_id long, text string"))
    assert CU.decontaminate(tr, ev, "doc_id").df.count() == tr.df.count()


def test_decontaminate_broadcasts_eval_side(spark):
    tr, ev = _docs(spark), OmigoDF(_docs(spark).df.filter("doc_id % 20 = 0"))
    out = CU.decontaminate(tr, ev, "doc_id")
    p = out.df._jdf.queryExecution().executedPlan().toString()
    # eval shingle set rides a broadcast join; corpus never shuffles whole
    assert "BroadcastHashJoin" in p


def test_decontaminate_semantic_drops_paraphrase_keeps_distinct(spark):
    tr = OmigoDF(spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "spark shuffles partitions across the cluster executors"),
         (3, "")],  # zero-vector doc: must survive (0-norm guarded)
        "doc_id long, text string"))
    ev = OmigoDF(spark.createDataFrame(
        # scrambled rewording of doc 1 — no shared 5-gram survives the
        # reordering, but the bag-of-words cosine stays high
        [(100, "dog lazy the over jumps fox brown quick the")],
        "doc_id long, text string"))
    out = CU.decontaminate_semantic(tr, ev, "doc_id", threshold=0.7).df
    ids = sorted(r["doc_id"] for r in out.collect())
    assert 1 not in ids          # paraphrase caught
    assert ids == [2, 3]         # unrelated + empty kept
    assert out.columns == tr.df.columns
    # the n-gram pass would MISS this paraphrase (no shared 5-gram)
    ng = CU.decontaminate(tr, ev, "doc_id", n=5).df
    assert sorted(r["doc_id"] for r in ng.collect()) == [1, 2, 3]


def test_decontaminate_semantic_broadcasts_eval_side(spark):
    tr, ev = _docs(spark), OmigoDF(_docs(spark).df.filter("doc_id % 7 = 0"))
    out = CU.decontaminate_semantic(tr, ev, "doc_id", threshold=0.99)
    p = out.df._jdf.queryExecution().executedPlan().toString()
    # cosine screen is a broadcast nested-loop (the anti-join's static
    # plan may show SMJ — AQE converts it at runtime once it sees the
    # small contaminated-id set, same convention as decontaminate)
    assert "BroadcastNestedLoopJoin" in p
    assert "EvalPython" not in p


def test_decontaminate_semantic_clustered_single_cluster_matches_dense(spark):
    """num_clusters=1 puts every document in one cluster, so the
    cluster-joined screen sees exactly the dense screen's pair set —
    the outputs must be identical (threshold semantics are exact within
    a cluster)."""
    tr, ev = _docs(spark), OmigoDF(_docs(spark).df.filter("doc_id % 7 = 0"))
    dense = sorted(r["doc_id"] for r in CU.decontaminate_semantic(
        tr, ev, "doc_id", threshold=0.6).df.select("doc_id").collect())
    clus = sorted(r["doc_id"] for r in CU.decontaminate_semantic(
        tr, ev, "doc_id", threshold=0.6, num_clusters=1).df
        .select("doc_id").collect())
    assert clus == dense


def test_decontaminate_semantic_clustered_is_superset_of_dense(spark):
    """With k>1 the clustered screen can only MISS cross-cluster pairs,
    never invent contamination: its survivor set is a superset of the
    dense screen's, and the obvious same-cluster paraphrase is still
    caught."""
    tr = OmigoDF(spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "spark shuffles partitions across the cluster executors"),
         (3, "")],
        "doc_id long, text string"))
    ev = OmigoDF(spark.createDataFrame(
        [(100, "dog lazy the over jumps fox brown quick the"),
         (101, "unrelated benchmark text about graph traversal order")],
        "doc_id long, text string"))
    dense = {r["doc_id"] for r in CU.decontaminate_semantic(
        tr, ev, "doc_id", threshold=0.7).df.select("doc_id").collect()}
    clus = {r["doc_id"] for r in CU.decontaminate_semantic(
        tr, ev, "doc_id", threshold=0.7, num_clusters=2).df
        .select("doc_id").collect()}
    assert dense <= clus
    assert 1 not in clus  # the paraphrase sits in its twin's cluster
    assert 3 in clus      # zero-vector doc still survives


def test_decontaminate_semantic_clustered_corpus_never_shuffles(spark):
    """The scale contract of the opt-in path: corpus assignment is
    map-side (centroid literals ride the plan), the screen joins the
    BROADCAST eval side on the cluster key — no nested-loop over the
    full eval set, no corpus-sized exchange, no Python."""
    tr, ev = _docs(spark), OmigoDF(_docs(spark).df.filter("doc_id % 7 = 0"))
    out = CU.decontaminate_semantic(tr, ev, "doc_id", threshold=0.99,
                                    num_clusters=4)
    p = out.df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p       # cluster-keyed screen
    assert "BroadcastNestedLoopJoin" not in p
    assert "EvalPython" not in p


def test_decontaminate_semantic_nprobe_keeps_plan_shape(spark):
    """Multi-probe keeps the clustered path's scale contract: the probe
    explode is map-side on the checkpointed corpus embeds and the
    screen stays a BROADCAST hash join on the cluster key — nprobe
    must never reintroduce the dense nested-loop or Python."""
    tr, ev = _docs(spark), OmigoDF(_docs(spark).df.filter("doc_id % 7 = 0"))
    out = CU.decontaminate_semantic(tr, ev, "doc_id", threshold=0.99,
                                    num_clusters=4, nprobe=2)
    p = out.df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "EvalPython" not in p


def test_leakage_safe_split_no_cluster_straddles_boundary(spark):
    """The whole point: every member of a near-dup cluster gets the
    SAME split label, and the labels are deterministic."""
    docs = _docs(spark)
    out = CU.leakage_safe_split(docs).df
    # one distinct split per cluster
    bad = (out.groupBy("cluster_id")
           .agg(F.countDistinct("split").alias("k"))
           .where("k > 1").count())
    assert bad == 0
    # deterministic across runs
    a = sorted((r["doc_id"], r["split"]) for r in out.collect())
    b = sorted((r["doc_id"], r["split"]) for r in
               CU.leakage_safe_split(docs).df.collect())
    assert a == b
    # near-dup pairs share a split (spot-check via the pair list)
    from omigo_data_analytics_spark.operators import dedup as DDx
    spl = {r["doc_id"]: r["split"] for r in out.collect()}
    cands = DDx.lsh_candidate_pairs(docs).df.collect()
    cl = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    for r in cands:
        if cl[r["id_a"]] == cl[r["id_b"]]:
            assert spl[r["id_a"]] == spl[r["id_b"]]


def test_mix_sources_deterministic_and_exact_oracle(spark):
    docs = _docs(spark)
    shares = {"src0": 0.5, "src1": 0.3, "src2": 0.2}
    a = CU.mix_sources(docs, "source", shares, ["doc_id"], seed=7)
    b = CU.mix_sources(docs, "source", shares, ["doc_id"], seed=7)
    ids = sorted(r["doc_id"] for r in a.df.select("doc_id").collect())
    assert ids == sorted(r["doc_id"] for r in b.df.select("doc_id").collect())
    assert a.df.columns == docs.df.columns
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
    sql = CU.mix_sources_sql_duck("documents", "source", shares, ["doc_id"],
                                  seed=7, select="d.doc_id")
    du = sorted(r[0] for r in con.execute(sql).fetchall())
    assert ids == du


def test_mix_sources_respects_shares(spark):
    docs = _docs(spark)
    shares = {"src0": 0.5, "src1": 0.3, "src2": 0.2}
    got = {r["source"]: r["n"] for r in
           (CU.mix_sources(docs, "source", shares, ["doc_id"], seed=1).df
            .groupBy("source").agg(F.count("*").alias("n")).collect())}
    total = sum(got.values())
    # hash-coin sampling: expect shares within a loose tolerance at n~500
    for s, w in shares.items():
        assert abs(got.get(s, 0) / total - w) < 0.15, (s, got)


def test_mix_sources_drops_unlisted_source(spark):
    docs = _docs(spark)
    out = CU.mix_sources(docs, "source", {"src0": 1.0}, ["doc_id"])
    srcs = {r["source"] for r in out.df.select("source").distinct().collect()}
    assert srcs == {"src0"}


def test_mix_sources_validates_shares(spark):
    docs = _docs(spark)
    with pytest.raises(ValueError, match="sum"):
        CU.mix_sources(docs, "source", {"src0": 0.4}, ["doc_id"])
    with pytest.raises(ValueError, match="positive"):
        CU.mix_sources(docs, "source", {"src0": 1.5, "src1": -0.5}, ["doc_id"])


def test_mix_sources_rejects_non_string_source_col(spark):
    """An integer source column would join the string-typed rate table
    through Spark's implicit cast but silently drop every row in the
    DuckDB oracle — it must raise, not mis-join."""
    df = OmigoDF(spark.createDataFrame(
        [(i, i % 2) for i in range(20)], "doc_id long, src int"))
    with pytest.raises(ValueError, match="not\\s+string"):
        CU.mix_sources(df, "src", {"0": 0.5, "1": 0.5}, ["doc_id"])
    # non-string shares keys are the same trap from the other side
    docs = _docs(spark)
    with pytest.raises(ValueError, match="shares keys"):
        CU.mix_sources(docs, "source", {0: 0.5, "src1": 0.5}, ["doc_id"])
    # the documented remedy works: cast to string first
    cast_ok = CU.mix_sources(
        OmigoDF(df.df.withColumn("src", F.col("src").cast("string"))),
        "src", {"0": 0.5, "1": 0.5}, ["doc_id"])
    assert cast_ok.df.count() > 0


def test_curation_ops_on_empty_input(spark):
    empty = OmigoDF(spark.createDataFrame([], "doc_id long, text string, source string"))
    assert CU.repetition_metrics(empty).df.count() == 0
    assert CU.filter_repetitive(empty).df.count() == 0
    ev = OmigoDF(spark.createDataFrame([(1, "a b c d e f")],
                                       "doc_id long, text string"))
    assert CU.decontaminate(empty, ev, "doc_id").df.count() == 0
    # empty eval set: nothing is contaminated
    tr = OmigoDF(spark.createDataFrame([(1, "a b c d e f")],
                                       "doc_id long, text string"))
    e2 = OmigoDF(spark.createDataFrame([], "doc_id long, text string"))
    assert CU.decontaminate(tr, e2, "doc_id").df.count() == 1
    # all-empty-text rows: metrics stay defined (0-token docs -> nulls ok)
    blank = OmigoDF(spark.createDataFrame([(1, ""), (2, "   ")],
                                          "doc_id long, text string"))
    assert CU.repetition_metrics(blank).df.count() == 2


def test_repetition_empty_doc_null_metrics_not_ansi_crash(spark):
    """An empty/whitespace-only doc has ZERO grams; the ratio division
    must yield NULL (the DuckDB behavior), not throw ANSI
    DIVIDE_BY_ZERO — a .count() never evaluates the metric columns
    (column pruning), which is how the crash hid from the empty-input
    test above (r10 review, same class as the text.py metrics fix)."""
    d = OmigoDF(spark.createDataFrame(
        [(1, "a b a b"), (2, ""), (3, "   "), (4, None), (5, "x")],
        "doc_id long, text string"))
    rows = {r["doc_id"]: r for r in CU.repetition_metrics(d).df.collect()}
    assert rows[1]["ngram_count"] == 3
    for i in (2, 3):
        assert rows[i]["ngram_count"] == 0
        assert rows[i]["dup_ngram_frac"] is None
        assert rows[i]["top_ngram_frac"] is None
    assert rows[4]["ngram_count"] is None  # NULL text stays NULL
    # DuckDB oracle agrees cell-for-cell on the same rows
    ex = CU.repetition_exprs("duckdb")
    con = duckdb.connect()
    du = con.execute(
        "SELECT doc_id, " + ", ".join(f"{e} AS {k}" for k, e in ex.items())
        + " FROM (VALUES (1, 'a b a b'), (2, ''), (3, '   '), "
          "(4, NULL), (5, 'x')) t(doc_id, text) ORDER BY doc_id").df()
    for _, r in du.iterrows():
        sp = rows[r["doc_id"]]
        for c in ("dup_ngram_frac", "top_ngram_frac"):
            dv, sv = r[c], sp[c]
            assert (pd.isna(dv) and sv is None) or dv == sv
    # NULL metrics never pass the repetition filter: blanks are dropped
    kept = CU.filter_repetitive(d, max_dup_frac=0.9, max_top_frac=1.0).df
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 5]


def test_mix_sources_partition_invariant(spark):
    """The mixture is a pure function of (key, seed, per-source counts) —
    shuffle layout must not change it."""
    docs = _docs(spark)
    shares = {"src0": 0.5, "src1": 0.3, "src2": 0.2}
    a = CU.mix_sources(docs, "source", shares, ["doc_id"], seed=5)
    b = CU.mix_sources(
        OmigoDF(docs.df.repartition(17, "lang")), "source", shares,
        ["doc_id"], seed=5)
    ids_a = sorted(r["doc_id"] for r in a.df.select("doc_id").collect())
    ids_b = sorted(r["doc_id"] for r in b.df.select("doc_id").collect())
    assert ids_a == ids_b


def test_mix_sources_rates_ride_broadcast(spark):
    """The corpus joins the (tiny) per-source rate table via broadcast —
    the full table never shuffles for the mixture decision."""
    docs = _docs(spark)
    out = CU.mix_sources(docs, "source",
                         {"src0": 0.5, "src1": 0.3, "src2": 0.2},
                         ["doc_id"], seed=2)
    p = out.df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p
    # no hash-repartition of the corpus itself: the only exchanges are
    # for the ~|sources|-row count aggregation
    assert "Exchange rangepartitioning" not in p


# ------------------------------------------------------------- lm_score
def _lm_docs(spark, texts):
    return OmigoDF(spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"))


def test_lm_score_matches_bruteforce(spark):
    import math
    from collections import Counter
    train_texts = ["the cat sat on the mat", "the dog sat on the rug",
                   "a cat and a dog"]
    score_texts = ["the cat sat", "zebra quantum flux", "single"]
    k = CU.LM_SMOOTH_K
    # brute-force reference
    bg, ctx, vocab = Counter(), Counter(), set()
    for t in train_texts:
        ws = t.split()
        vocab.update(ws)
        for i in range(len(ws) - 1):
            bg[(ws[i], ws[i + 1])] += 1
            ctx[ws[i]] += 1
    V = len(vocab)
    exp = {}
    for d, t in enumerate(score_texts):
        ws = t.split()
        # mirror the engine's commutative micro-nat aggregation: each
        # pair's log-prob rounds to integer micro-nats before the sum
        lpu = [round(math.log((bg[(a, b)] + k) / (ctx[a] + k * V)) * 1e6)
               for a, b in zip(ws, ws[1:])]
        exp[d] = (len(lpu),
                  round(sum(lpu) / len(lpu) / 1e6, 6) if lpu else None)
    out = CU.lm_score(_lm_docs(spark, train_texts), _lm_docs(spark, score_texts)).df
    got = {r["doc_id"]: (r["n_bigrams"], r["avg_logprob"]) for r in out.collect()}
    assert got == exp
    # seen bigrams score higher than unseen gibberish
    assert got[0][1] > got[1][1]
    # <2 tokens: NULL score, 0 bigrams
    assert got[2] == (0, None)
    # perplexity derived from the rounded average
    pp = {r["doc_id"]: r["perplexity"] for r in out.collect()}
    assert pp[0] == round(math.exp(-got[0][1]), 4)
    assert pp[2] is None


def test_lm_score_empty_train_raises(spark):
    # V rides in-plan since r14 (no eager vocab job at construction), so
    # the V=0 guard raises at EXECUTION — the dsir/mix_sources pattern
    out = CU.lm_score(_lm_docs(spark, []), _lm_docs(spark, ["a b c"]))
    with pytest.raises(Exception, match="V=0"):
        out.df.collect()


def test_mix_sources_resolved_source_col(spark):
    """source_col goes through column resolution like every other column
    arg — a regex-pattern name must hit the intended ValueError on a
    non-string match (not KeyError from a raw schema[] lookup) and run
    identically to the literal name on a string match."""
    df = OmigoDF(spark.createDataFrame(
        [(i, i % 2) for i in range(20)], "doc_id long, src int"))
    with pytest.raises(ValueError, match="not\\s+string"):
        CU.mix_sources(df, "sr.*", {"0": 0.5, "1": 0.5}, ["doc_id"])
    docs = _docs(spark)
    shares = {"src0": 0.5, "src1": 0.3, "src2": 0.2}
    a = CU.mix_sources(docs, "sourc.*", shares, ["doc_id"], seed=7)
    b = CU.mix_sources(docs, "source", shares, ["doc_id"], seed=7)
    assert (sorted(r["doc_id"] for r in a.df.select("doc_id").collect())
            == sorted(r["doc_id"] for r in b.df.select("doc_id").collect()))
    assert a.df.columns == docs.df.columns


def test_mix_sources_weighted_token_budget(spark):
    """weight_col switches the mixture unit to the column's sum: realized
    TOKEN shares approach the targets, the limiting source keeps ~all its
    tokens, and the DuckDB oracle reproduces the kept set exactly."""
    docs = _docs(spark)
    shares = {"src0": 0.5, "src1": 0.3, "src2": 0.2}
    out = CU.mix_sources(docs, "source", shares, ["doc_id"], seed=11,
                         weight_col="n_chars")
    kept = {r["source"]: r["w"] for r in
            (out.df.groupBy("source")
             .agg(F.sum("n_chars").alias("w")).collect())}
    total = sum(kept.values())
    for s, w in shares.items():
        assert abs(kept.get(s, 0) / total - w) < 0.15, (s, kept)
    # exact oracle replay
    import duckdb
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
    sql = CU.mix_sources_sql_duck("documents", "source", shares, ["doc_id"],
                                  seed=11, select="d.doc_id",
                                  weight_col="n_chars")
    du = sorted(r[0] for r in con.execute(sql).fetchall())
    got = sorted(r["doc_id"] for r in out.df.select("doc_id").collect())
    assert got == du


def test_mix_sources_weighted_fractional_and_degenerate(spark):
    """Fractional weights floor per row on BOTH engines (Spark's
    double->long cast truncates where DuckDB's rounds — explicit floor
    is the shared semantic); a shares-listed source with zero total
    weight raises instead of silently emptying the mixture."""
    import duckdb

    rows = [(i, ["a", "b"][i % 2], 2.7 if i % 2 else 3.2)
            for i in range(40)]
    df = OmigoDF(spark.createDataFrame(
        rows, "doc_id long, src string, wgt double"))
    shares = {"a": 0.5, "b": 0.5}
    got = sorted(r["doc_id"] for r in CU.mix_sources(
        df, "src", shares, ["doc_id"], seed=3, weight_col="wgt")
        .df.select("doc_id").collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE mtab (doc_id BIGINT, src VARCHAR, wgt DOUBLE)")
    con.executemany("INSERT INTO mtab VALUES (?, ?, ?)", rows)
    sql = CU.mix_sources_sql_duck("mtab", "src", shares, ["doc_id"], seed=3,
                                  select="d.doc_id", weight_col="wgt")
    assert got == sorted(r[0] for r in con.execute(sql).fetchall())
    # degenerate: source 'z' listed but all-zero weight -> loud error
    zrows = rows + [(100 + i, "z", 0.0) for i in range(3)]
    zdf = OmigoDF(spark.createDataFrame(
        zrows, "doc_id long, src string, wgt double"))
    with pytest.raises(Exception, match="no positive weight"):
        CU.mix_sources(zdf, "src", {"a": 0.4, "b": 0.4, "z": 0.2},
                       ["doc_id"], weight_col="wgt").df.count()


def test_mix_sources_zero_row_source_raises(spark):
    """Regression (r8): a shares-listed source with NO rows at all never
    appeared in the per-source counts, so the inner rate join silently
    dropped it — and its absence inflated T = min(n_s/share_s) over the
    remaining sources (a 50/50 mix with one empty source kept 100% of
    the other). The shares-side left join now routes the missing source
    through the degenerate-source guard: loud error, not a wrong mix."""
    df = OmigoDF(spark.createDataFrame(
        [(i, "a") for i in range(40)], "doc_id long, src string"))
    with pytest.raises(Exception, match="no positive weight"):
        CU.mix_sources(df, "src", {"a": 0.5, "ghost": 0.5},
                       ["doc_id"]).df.count()
    # same through the weighted path
    wdf = OmigoDF(spark.createDataFrame(
        [(i, "a", 2.0) for i in range(40)], "doc_id long, src string, w double"))
    with pytest.raises(Exception, match="no positive weight"):
        CU.mix_sources(wdf, "src", {"a": 0.5, "ghost": 0.5},
                       ["doc_id"], weight_col="w").df.count()
    # the DuckDB oracle must fail the same way, not silently return the
    # inflated mixture the fix was written to kill (r8 review)
    import duckdb
    con = duckdb.connect()
    con.execute("CREATE TABLE tt AS SELECT range AS doc_id, 'a' AS src "
                "FROM range(40)")
    osql = CU.mix_sources_sql_duck("tt", "src", {"a": 0.5, "ghost": 0.5},
                                   ["doc_id"])
    with pytest.raises(Exception, match="no positive weight"):
        con.execute(osql).fetchall()
    # and still runs clean when every listed source has rows
    ok = CU.mix_sources_sql_duck("tt", "src", {"a": 1.0}, ["doc_id"])
    assert len(con.execute(ok).fetchall()) > 0


def test_mix_sources_ambiguous_pattern_rejected(spark):
    df = OmigoDF(spark.createDataFrame(
        [(1, "a", "x", 5)], "doc_id long, src string, srcx string, w int"))
    with pytest.raises(ValueError, match="exactly one"):
        CU.mix_sources(df, "src.*", {"a": 1.0}, ["doc_id"])


# ------------------------------------------------------------ DSIR
def _dsir_corpora(spark):
    """Target = english-ish prose; pool = a mix of target-like docs and
    gibberish. DSIR must rank the target-like pool docs above the
    gibberish."""
    target = OmigoDF(spark.createDataFrame(
        [(100 + i, "the quick brown fox jumps over the lazy dog again")
         for i in range(5)], "doc_id long, text string"))
    pool = OmigoDF(spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "a quick brown fox and the lazy dog"),
         (3, "zxq vrblat knruu wpof zzkq mrtx"),
         (4, "qqq www eee rrr ttt yyy uuu"),
         (5, "")],
        "doc_id long, text string"))
    return target, pool


def test_dsir_weights_rank_target_like_docs_higher(spark):
    t, p = _dsir_corpora(spark)
    rows = {r["doc_id"]: r for r in CU.dsir_weights(t, p).df.collect()}
    # target-like docs beat gibberish
    assert rows[1]["logweight"] > rows[3]["logweight"]
    assert rows[2]["logweight"] > rows[4]["logweight"]
    # tokenless doc: no features, NULL weight
    assert rows[5]["n_feats"] == 0 and rows[5]["logweight"] is None


def test_dsir_weights_matches_duckdb(spark):
    import duckdb

    sp = (CU.dsir_weights(
        OmigoDF(_docs(spark).df.filter("doc_id % 7 = 0")),
        OmigoDF(_docs(spark).df.filter("doc_id % 7 <> 0"))).df
        .toPandas().sort_values("doc_id").reset_index(drop=True))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * "
                f"FROM '{SF}/documents.parquet'")
    du = con.execute(CU.dsir_weights_sql_duck(
        "(SELECT * FROM documents WHERE doc_id % 7 = 0)",
        "(SELECT * FROM documents WHERE doc_id % 7 <> 0)")
        + " ORDER BY doc_id").df().reset_index(drop=True)
    pd.testing.assert_frame_equal(sp, du, check_dtype=False)
    # bit-exact, not approx: the weights must survive the driver's
    # value-hash gate (the bare `0.5` DECIMAL literal cost exactly this
    # once — Spark decimal division truncated ~1e-5 per feature)
    assert (sp["logweight"].fillna(0.0) == du["logweight"].fillna(0.0)).all()


def test_dsir_weights_bit_identical_across_partitionings(spark):
    """The BIGINT micro-nat sum commutes, so logweight is bit-identical
    at ANY partition count — not merely equal-after-rounding. (A double
    SUM is order-dependent; at corpus scale some doc's sum lands on a
    6dp boundary and flips across partitionings.)"""
    t, _ = _dsir_corpora(spark)
    pool = _docs(spark)
    a = {r["doc_id"]: r["logweight"]
         for r in CU.dsir_weights(t, pool).df.collect()}
    b = {r["doc_id"]: r["logweight"] for r in CU.dsir_weights(
        t, OmigoDF(pool.df.repartition(13))).df.collect()}
    assert a == b  # exact ==, not approx


def test_dsir_select_deterministic_and_partition_invariant(spark):
    t, _ = _dsir_corpora(spark)
    pool = _docs(spark)
    a = CU.dsir_select(t, pool, 20).df.collect()
    b = CU.dsir_select(
        t, OmigoDF(pool.df.repartition(7)), 20).df.collect()
    assert sorted(r["doc_id"] for r in a) == sorted(r["doc_id"] for r in b)
    assert len(a) == 20
    # selection is biased toward high-logweight docs: the selected set's
    # mean logweight beats the pool average
    w = CU.dsir_weights(t, pool).df.toPandas()
    sel = {r["doc_id"] for r in a}
    assert (w[w.doc_id.isin(sel)]["logweight"].mean()
            > w["logweight"].mean())


def test_dsir_weights_empty_corpus_raises(spark):
    """Tokenless target/source raises IN-PLAN at execution (no driver
    job in the build path), and the DuckDB oracle error()s identically
    — the mix_sources raise-parity discipline."""
    empty = OmigoDF(spark.createDataFrame(
        [(1, "")], "doc_id long, text string"))
    t, p = _dsir_corpora(spark)
    # the guard rides the logweight expression: materializing the
    # weights raises; a plan that never reads logweight (e.g. a bare
    # count) prunes it and legitimately never needs the models
    with pytest.raises(Exception, match="no tokens"):
        CU.dsir_weights(empty, p).df.collect()
    with pytest.raises(Exception, match="no tokens"):
        CU.dsir_weights(t, p, source=empty).df.collect()
    # an EMPTY score pool: either AQE's empty-relation propagation
    # prunes the model branch first (zero rows) or the no-tokens guard
    # on the (also empty) default source evaluates first (raise) — the
    # race is scheduler-dependent (r12: flaked under full-suite load),
    # and BOTH outcomes mean "no weights exist"; only a silent wrong
    # weight would be a bug
    try:
        rows = CU.dsir_weights(
            t, OmigoDF(p.df.where("doc_id < 0"))).df.collect()
        assert rows == []
    except Exception as e:
        assert "no tokens" in str(e)
    import duckdb
    con = duckdb.connect()
    con.execute("CREATE TABLE ed (doc_id BIGINT, text VARCHAR)")
    con.execute("INSERT INTO ed VALUES (1, '')")
    con.execute("CREATE TABLE pd AS SELECT range AS doc_id, "
                "'the quick brown fox' AS text FROM range(5)")
    with pytest.raises(Exception, match="no tokens"):
        con.execute(CU.dsir_weights_sql_duck("ed", "pd")).fetchall()


# ------------------------------------------------------ naive Bayes filter
def test_nb_classify_learns_separable_vocab(spark):
    train = OmigoDF(spark.createDataFrame(
        [(i, "good clean prose text", "keep") for i in range(5)] +
        [(i + 10, "zxq spam garbage noise", "drop") for i in range(5)],
        "doc_id long, text string, quality string"))
    score = OmigoDF(spark.createDataFrame(
        [(100, "clean prose"), (101, "spam noise zxq"),
         (102, "")],
        "doc_id long, text string"))
    rows = {r["doc_id"]: r for r in
            CU.nb_classify(train, score, "quality").df.collect()}
    assert rows[100]["label"] == "keep"
    assert rows[101]["label"] == "drop"
    # tokenless doc: nothing to condition on
    assert rows[102]["label"] is None and rows[102]["log_joint"] is None


def test_nb_classify_matches_duckdb_bit_exact(spark):
    import duckdb

    docs = _docs(spark)
    sp = (CU.nb_classify(OmigoDF(docs.df.filter("doc_id % 4 = 0")),
                         OmigoDF(docs.df.filter("doc_id % 4 <> 0")),
                         "source").df
          .toPandas().sort_values("doc_id").reset_index(drop=True))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * "
                f"FROM '{SF}/documents.parquet'")
    du = con.execute(CU.nb_classify_sql_duck(
        "(SELECT * FROM documents WHERE doc_id % 4 = 0)",
        "(SELECT * FROM documents WHERE doc_id % 4 <> 0)", "source")
        + " ORDER BY doc_id").df().reset_index(drop=True)
    pd.testing.assert_frame_equal(sp, du, check_dtype=False)
    assert (sp["log_joint"].fillna(0.0) == du["log_joint"].fillna(0.0)).all()


def test_nb_classify_bit_identical_across_partitionings(spark):
    """Micro-nat BIGINT sums: the label AND score are exact-equal at any
    partition count (argmax over order-dependent float sums could flip
    the label itself, not just a decimal)."""
    docs = _docs(spark)
    tr = OmigoDF(docs.df.filter("doc_id % 4 = 0"))
    sc = OmigoDF(docs.df.filter("doc_id % 4 <> 0"))
    a = {r["doc_id"]: (r["label"], r["log_joint"])
         for r in CU.nb_classify(tr, sc, "lang").df.collect()}
    b = {r["doc_id"]: (r["label"], r["log_joint"])
         for r in CU.nb_classify(
             OmigoDF(tr.df.repartition(11)),
             OmigoDF(sc.df.repartition(7)), "lang").df.collect()}
    assert a == b


def test_nb_classify_top_m_huge_cap_equals_full_model(spark):
    """top_m larger than any class's feature count prunes nothing: the
    output must be identical to the unpruned model, bit-for-bit."""
    docs = _docs(spark)
    tr = OmigoDF(docs.df.filter("doc_id % 4 = 0"))
    sc = OmigoDF(docs.df.filter("doc_id % 4 <> 0"))
    full = {r["doc_id"]: (r["label"], r["log_joint"])
            for r in CU.nb_classify(tr, sc, "lang").df.collect()}
    capped = {r["doc_id"]: (r["label"], r["log_joint"])
              for r in CU.nb_classify(tr, sc, "lang",
                                      top_m=10**6).df.collect()}
    assert full == capped


def test_nb_classify_top_m_dropped_feature_scores_as_unseen(spark):
    """The fold-into-floor semantics: with top_m=1 each class keeps only
    its most frequent feature, so a document carrying only a DROPPED
    feature must score exactly the all-unseen baseline
    n_feats*floor + prior."""
    # class A: 'aa' seen 3x, 'bb' 1x -> top_m=1 keeps 'aa' only
    train = OmigoDF(spark.createDataFrame(
        [(1, "aa aa aa bb", "A"), (2, "cc cc cc", "B")],
        "doc_id long, text string, lab string"))
    score = OmigoDF(spark.createDataFrame(
        [(10, "bb"), (11, "zz")],  # bb = dropped for A; zz = never seen
        "doc_id long, text string"))
    out = {r["doc_id"]: r for r in
           CU.nb_classify(train, score, "lab", top_m=1).df.collect()}
    # both docs carry one feature unseen by the pruned model
    # (bucketed bag emits the same feature count for single tokens), so
    # their per-class scores — and hence labels and log_joints — agree
    assert out[10]["label"] == out[11]["label"]
    assert out[10]["log_joint"] == out[11]["log_joint"]


def test_nb_classify_top_m_matches_duckdb_bit_exact(spark):
    import duckdb

    docs = _docs(spark)
    sp = (CU.nb_classify(OmigoDF(docs.df.filter("doc_id % 4 = 0")),
                         OmigoDF(docs.df.filter("doc_id % 4 <> 0")),
                         "lang", top_m=64).df
          .toPandas().sort_values("doc_id").reset_index(drop=True))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * "
                f"FROM '{SF}/documents.parquet'")
    du = con.execute(CU.nb_classify_sql_duck(
        "(SELECT * FROM documents WHERE doc_id % 4 = 0)",
        "(SELECT * FROM documents WHERE doc_id % 4 <> 0)", "lang",
        top_m=64) + " ORDER BY doc_id").df().reset_index(drop=True)
    pd.testing.assert_frame_equal(sp, du, check_dtype=False)
    # and the pruning is ACTIVE at this cap (labels differ somewhere
    # vs the full model, or at least some score moved)
    full = (CU.nb_classify(OmigoDF(docs.df.filter("doc_id % 4 = 0")),
                           OmigoDF(docs.df.filter("doc_id % 4 <> 0")),
                           "lang").df.toPandas()
            .sort_values("doc_id").reset_index(drop=True))
    assert not sp["log_joint"].equals(full["log_joint"])


def test_nb_classify_tokenless_class_stays_in_model(spark):
    """A class whose training docs all tokenize to empty must stay in
    the label universe with T_c = 0 (review finding: the tc INNER join
    silently dropped it) — under smoothing it gives every unseen
    feature the HIGHEST likelihood ln(k/(kB)), so it legitimately wins
    OOV-heavy documents. And an empty train set raises in-plan."""
    train = OmigoDF(spark.createDataFrame(
        [(1, "common words here", "seen"), (2, "common words again", "seen"),
         (3, "", "blank"), (4, "   ", "blank")],
        "doc_id long, text string, quality string"))
    score = OmigoDF(spark.createDataFrame(
        [(100, "common words"), (101, "zzq totally unseen vrbl")],
        "doc_id long, text string"))
    rows = {r["doc_id"]: r["label"] for r in
            CU.nb_classify(train, score, "quality").df.collect()}
    assert rows[100] == "seen"    # matched features beat the floor
    assert rows[101] == "blank"   # OOV doc goes to the tokenless class
    # the oracle mirrors it
    import duckdb
    con = duckdb.connect()
    con.execute("CREATE TABLE tr (doc_id BIGINT, text VARCHAR, quality VARCHAR)")
    con.executemany("INSERT INTO tr VALUES (?, ?, ?)",
                    [(1, "common words here", "seen"),
                     (2, "common words again", "seen"),
                     (3, "", "blank"), (4, "   ", "blank")])
    con.execute("CREATE TABLE sc (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO sc VALUES (?, ?)",
                    [(100, "common words"), (101, "zzq totally unseen vrbl")])
    du = {r[0]: r[1] for r in con.execute(
        CU.nb_classify_sql_duck("tr", "sc", "quality")).fetchall()}
    assert du == rows
    # empty train raises, both engines
    empty = OmigoDF(train.df.where("doc_id < 0"))
    with pytest.raises(Exception, match="no documents"):
        CU.nb_classify(empty, score, "quality").df.collect()
    con.execute("CREATE TABLE tr0 AS SELECT * FROM tr WHERE doc_id < 0")
    with pytest.raises(Exception, match="no documents"):
        con.execute(CU.nb_classify_sql_duck("tr0", "sc", "quality")).fetchall()


def test_nb_classify_null_label_raises_both_engines(spark):
    train = OmigoDF(spark.createDataFrame(
        [(1, "some words", "a"), (2, "other words", None)],
        "doc_id long, text string, quality string"))
    score = OmigoDF(spark.createDataFrame(
        [(9, "words")], "doc_id long, text string"))
    with pytest.raises(Exception, match="NULL label"):
        CU.nb_classify(train, score, "quality").df.collect()
    import duckdb
    con = duckdb.connect()
    con.execute("CREATE TABLE trn (doc_id BIGINT, text VARCHAR, quality VARCHAR)")
    con.executemany("INSERT INTO trn VALUES (?, ?, ?)",
                    [(1, "some words", "a"), (2, "other words", None)])
    con.execute("CREATE TABLE scn AS SELECT 9 AS doc_id, 'words' AS text")
    with pytest.raises(Exception, match="NULL label"):
        con.execute(CU.nb_classify_sql_duck("trn", "scn", "quality")).fetchall()


# ---------------------------------------------- count-model scorers
# A 60-row corpus on a 12-word vocabulary: 2-10 tokens and one of three
# labels per document. lm_score, DSIR and nb_classify share one skeleton
# in curation.py; these pin what every caller of it must keep.
_CM_WORDS = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta",
             "theta", "iota", "kappa", "lam", "mu"]
_CM_ROWS = [(i, " ".join(_CM_WORDS[(i * j * 7 + j) % 12]
                         for j in range(2 + i % 9)),
             ["en", "fr", "de"][i % 3]) for i in range(60)]

_CM_CALLS = {
    "lm_score": lambda d, i, lab: CU.lm_score(d, d, id_col=i),
    "dsir_weights": lambda d, i, lab: CU.dsir_weights(d, d, id_col=i),
    "dsir_weights_source": lambda d, i, lab: CU.dsir_weights(
        d, d, id_col=i, source=d),
    "dsir_select": lambda d, i, lab: CU.dsir_select(d, d, 5, id_col=i),
    "nb_classify": lambda d, i, lab: CU.nb_classify(d, d, lab, id_col=i),
    "nb_classify_top_m": lambda d, i, lab: CU.nb_classify(
        d, d, lab, id_col=i, top_m=4),
}


def _cm_frame(spark):
    return spark.createDataFrame(_CM_ROWS,
                                 "doc_id long, text string, lang string")


@pytest.mark.parametrize("name", ["doc.id", "doc`id"])
def test_count_model_scorers_hostile_names(spark, name):
    """A dot or backtick in id_col, and a dot in label_col, are plain
    column names in every count-model scorer: each returns the rows of
    the same call on a doc_id / lang frame."""
    plain = _cm_frame(spark)
    hostile = OmigoDF(plain.withColumnRenamed("doc_id", name)
                      .withColumnRenamed("lang", "la.ng"))
    for op, call in _CM_CALLS.items():
        want = sorted(map(tuple, call(OmigoDF(plain), "doc_id",
                                      "lang").df.collect()), key=repr)
        assert want, op
        got = sorted(map(tuple, call(hostile, name, "la.ng").df.collect()),
                     key=repr)
        assert got == want, op


# The family's deterministic cost layer: Spark jobs submitted while each
# call is constructed, and by one collect() of its result, on the corpus
# above. The counts are the same at local[2], local[4] and local[8]. A
# change that adds or removes a checkpoint or a job must say so and
# update the table.
_CM_JOBS = {
    "lm_score": (0, 12),
    "dsir_weights": (0, 15),
    "dsir_weights_source": (0, 11),
    "dsir_select": (0, 13),
    "nb_classify": (0, 18),
    "nb_classify_top_m": (0, 17),
}


@pytest.mark.parametrize("call", sorted(_CM_JOBS))
def test_count_model_job_count_pins(spark, jobs_in_group, call):
    d = OmigoDF(_cm_frame(spark))
    out, construct = jobs_in_group(
        lambda: _CM_CALLS[call](d, "doc_id", "lang"))
    _, collect = jobs_in_group(out.df.collect)
    assert (construct, collect) == _CM_JOBS[call]


def test_decontaminate_semantic_clustered_pretrained_centroids(spark):
    """The centroids passthrough (semdedup convention): a pre-trained
    quantizer must reproduce the in-query-trained result exactly and
    skip the training jobs."""
    from omigo_data_analytics_spark.operators.similarity import (
        hash_embeddings, kmeans_centroids, _norm_expr)

    tr, ev = _docs(spark), OmigoDF(_docs(spark).df.filter("doc_id % 7 = 0"))
    trained = CU.decontaminate_semantic(tr, ev, "doc_id", threshold=0.6,
                                        num_clusters=3)
    # train the same quantizer externally (same embed + norm filter)
    emb = (hash_embeddings(ev, col="text", dim=64, out_col="__ee__",
                           normalize=False)
           .df.selectExpr("doc_id AS __eid__", "__ee__",
                          f"{_norm_expr('__ee__')} AS __en__")
           .where("__en__ > 0"))
    cents = kmeans_centroids(OmigoDF(emb), k=3, iters=2,
                             id_col="__eid__", vec_col="__ee__")

    # "skips training" asserted via a spy on kmeans_centroids at its
    # defining module (the operator imports it at call time) — the r9
    # advice replacement for the old Spark job-count inequality, which
    # was hostage to AQE job accounting across Spark versions.
    import omigo_data_analytics_spark.operators.similarity as SIM_mod
    calls = []
    real = SIM_mod.kmeans_centroids

    def spy(*a, **k):
        calls.append(1)
        return real(*a, **k)

    SIM_mod.kmeans_centroids = spy
    try:
        pre = CU.decontaminate_semantic(tr, ev, "doc_id", threshold=0.6,
                                        num_clusters=3, centroids=cents)
        pre_ids = sorted(r["doc_id"]
                         for r in pre.df.select("doc_id").collect())
        assert not calls, "pretrained centroids must not retrain"
        CU.decontaminate_semantic(tr, ev, "doc_id", threshold=0.6,
                                  num_clusters=3).df.count()
        assert calls, "spy must observe the in-query training control"
    finally:
        SIM_mod.kmeans_centroids = real
    assert pre_ids == sorted(r["doc_id"]
                             for r in trained.df.select("doc_id").collect())


def test_decontaminate_semantic_nprobe(spark):
    """nprobe (r9 advice recall knob, clustered path): nprobe=1 must be
    the single-assignment clustered screen bit-for-bit; survivors
    shrink monotonically with nprobe (multi-probe can only catch MORE
    contaminated pairs); and nprobe=num_clusters probes every cluster,
    degenerating to the dense screen exactly."""
    tr = _docs(spark)
    ev = OmigoDF(_docs(spark).df.filter("doc_id % 7 = 0"))

    def ids(odf):
        return sorted(r["doc_id"] for r in odf.df.select("doc_id").collect())

    base = ids(CU.decontaminate_semantic(tr, ev, "doc_id", threshold=0.6,
                                         num_clusters=3))
    p1 = ids(CU.decontaminate_semantic(tr, ev, "doc_id", threshold=0.6,
                                       num_clusters=3, nprobe=1))
    assert p1 == base  # default param is the identical code path
    p2 = ids(CU.decontaminate_semantic(tr, ev, "doc_id", threshold=0.6,
                                       num_clusters=3, nprobe=2))
    assert set(p2) <= set(p1)  # more probes -> never fewer catches
    dense = ids(CU.decontaminate_semantic(tr, ev, "doc_id", threshold=0.6))
    pall = ids(CU.decontaminate_semantic(tr, ev, "doc_id", threshold=0.6,
                                         num_clusters=3, nprobe=3))
    assert pall == dense  # probe-everything == the dense screen
