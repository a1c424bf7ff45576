"""Round-4 training-pipeline operators: connected-components near-dup
clustering, tf-idf top terms, inverted index, deterministic hash split."""

import math

from pyspark.sql import functions as F

from omigo_data_analytics_spark import OmigoDF
from omigo_data_analytics_spark.operators import dedup as DD
from omigo_data_analytics_spark.operators import text as TX


def test_connected_components_basic(spark):
    # components: {1,2,3,4} (chain), {10,11}, singleton edges absent
    pairs = OmigoDF(spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"))
    out = DD.connected_components(pairs).df
    got = {r["id"]: r["cluster_id"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_long_chain(spark):
    n = 40  # diameter >> typical; exercises multi-round convergence
    pairs = OmigoDF(spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"))
    out = DD.connected_components(pairs, max_iter=100).df
    labs = {r["cluster_id"] for r in out.collect()}
    assert labs == {0}
    assert out.count() == n + 1


def test_connected_components_nonconvergence_is_loud(spark):
    import pytest
    # a 10-chain cannot converge in 2 rounds: default raises, warn
    # mode returns partial labels with a RuntimeWarning
    pairs = OmigoDF(spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "id_a long, id_b long"))
    with pytest.raises(RuntimeError, match="did not converge"):
        DD.connected_components(pairs, max_iter=2)
    with pytest.warns(RuntimeWarning, match="did not converge"):
        out = DD.connected_components(pairs, max_iter=2,
                                      on_nonconverged="warn").df
        assert out.count() == 11  # partial labels, but every node present


def test_cluster_near_dups_transitive(spark):
    # a~b and b~c by shared text; greedy pair-drop would keep c, the
    # transitive closure must label all three with min id
    docs = OmigoDF(spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon zeta"),
         (3, "alpha beta gamma delta epsilon eta"),
         (9, "completely different words entirely here now")],
        "doc_id long, text string"))
    out = DD.cluster_near_dups(docs, threshold=0.3).df
    got = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    assert got[1] == 1 and got[2] == 1 and got[9] == 9
    # doc 3 joins iff LSH banding surfaces it; both labels are legal
    assert got[3] in (1, 3)


def test_tfidf_top_terms(spark):
    docs = OmigoDF(spark.createDataFrame(
        [(1, "apple apple banana"), (2, "banana cherry"), (3, "cherry date")],
        "doc_id long, text string"))
    out = TX.tfidf_top_terms(docs, k=2).df
    rows = {(r["doc_id"], r["rank"]): (r["term"], r["tf"], r["df"])
            for r in out.collect()}
    # doc 1: apple tf=2 df=1 -> tfidf = 2*ln(3) ~ 2.197 beats banana
    assert rows[(1, 1)] == ("apple", 2, 1)
    assert rows[(1, 2)] == ("banana", 1, 2)
    one = [r for r in out.collect() if r["doc_id"] == 1 and r["term"] == "apple"][0]
    assert math.isclose(one["tfidf"], round(2 * math.log(3.0), 6), abs_tol=1e-6)


def test_inverted_index(spark):
    docs = OmigoDF(spark.createDataFrame(
        [(5, "x y"), (3, "y z"), (4, "y")], "doc_id long, text string"))
    out = TX.inverted_index(docs).df
    got = {r["term"]: (r["doc_freq"], r["postings"]) for r in out.collect()}
    assert got["y"] == (3, "3,4,5")  # sorted ascending
    assert got["x"] == (1, "5")
    assert got["z"] == (1, "3")


def test_inverted_index_hostile_id_col(spark):
    # r13 advice: F.struct("__rk__", id_col) parsed the raw name and the
    # postings transform interpolated it unquoted — dotted id columns
    # failed while every other entry point was quoted
    docs = OmigoDF(spark.createDataFrame(
        [(5, "x y"), (3, "y z")], ["doc.id", "text"]))
    out = TX.inverted_index(docs, id_col="doc.id").df
    got = {r["term"]: (r["doc_freq"], r["postings"]) for r in out.collect()}
    assert got["y"] == (2, "3,5")
    assert got["x"] == (1, "5")


def test_inverted_index_caps_postings(spark):
    docs = OmigoDF(spark.createDataFrame(
        [(i, "tok") for i in range(20)], "doc_id long, text string"))
    out = TX.inverted_index(docs, max_postings=5).df.collect()[0]
    assert out["doc_freq"] == 20              # full count survives the cap
    assert out["postings"] == "0,1,2,3,4"     # postings truncated


def test_hash_split_deterministic_and_proportional(documents):
    out = documents.hash_split(["doc_id"]).df
    frac = (out.groupBy("split").count().collect())
    got = {r["split"]: r["count"] for r in frac}
    n = sum(got.values())
    assert set(got) <= {"train", "val", "test"}
    assert got["train"] / n > 0.7  # 80% nominal, tolerance for 500 rows
    # determinism: same rows -> same assignment
    again = documents.hash_split(["doc_id"]).df
    a = {r["doc_id"]: r["split"] for r in out.collect()}
    b = {r["doc_id"]: r["split"] for r in again.collect()}
    assert a == b


def test_hash_split_no_shuffle(documents):
    plan = (documents.hash_split(["doc_id"]).df
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan  # pure map-side labeling


def test_hash_split_custom_fractions(documents):
    out = documents.hash_split(["doc_id"], {"a": 0.5, "b": 0.5}, seed=7).df
    got = {r["split"] for r in out.select("split").distinct().collect()}
    assert got == {"a", "b"}


def test_connected_components_star_matches_propagation(spark):
    import random
    rng = random.Random(4)
    # random sparse graph: several components of mixed shape
    edges = [(rng.randrange(120), rng.randrange(120)) for _ in range(80)]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = OmigoDF(spark.createDataFrame(edges, "id_a long, id_b long"))
    prop = {r["id"]: r["cluster_id"]
            for r in DD.connected_components(pairs, max_iter=200).df.collect()}
    star = {r["id"]: r["cluster_id"]
            for r in DD.connected_components_star(pairs).df.collect()}
    assert star == prop


def test_connected_components_star_long_chain(spark):
    # diameter-200 chain: propagation needs ~200 rounds, star needs O(log)
    n = 200
    pairs = OmigoDF(spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"))
    out = DD.connected_components_star(pairs, max_iter=15).df
    got = {r["id"]: r["cluster_id"] for r in out.collect()}
    assert set(got.values()) == {0}
    assert len(got) == n + 1


def test_normalize_zscore_and_minmax(spark):
    d = OmigoDF(spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 5.0)],
        "g string, x double"))
    z = d.normalize(["x"], method="zscore", group_cols=["g"]).df
    got = {(r["g"], r["x"]): r["x:norm"] for r in z.collect()}
    assert got[("a", 2.0)] == 0.0
    assert got[("a", 3.0)] == 1.0      # (3-2)/1 with sample stddev
    assert got[("b", 5.0)] == 0.0      # singleton group -> 0
    mm = d.normalize(["x"], method="minmax", group_cols=["g"]).df
    got = {(r["g"], r["x"]): r["x:norm"] for r in mm.collect()}
    assert got[("a", 1.0)] == 0.0 and got[("a", 3.0)] == 1.0
    assert got[("b", 5.0)] == 0.5      # constant group -> midpoint


def test_normalize_zscore_overflow_raises(spark):
    import pytest
    # overflow anywhere in the decimal moments (per-row try_cast at
    # 1e21, or the x^2 try_multiply at 9e17) is a uniform NULL under
    # any ANSI mode; the guard must raise, never emit a z-score that
    # averaged only the surviving rows (the DuckDB oracle raises too)
    for bad in (1e21, 9e17):
        d = OmigoDF(spark.createDataFrame(
            [(1, bad), (2, -9e17), (3, 3e17)], "id long, x double"))
        with pytest.raises(Exception, match="decimal sum overflow"):
            d.normalize(["x"], method="zscore").df.collect()


def test_normalize_no_row_shuffle(spark, lineitem):
    plan = (lineitem.normalize(["l_quantity"], group_cols=["l_returnflag"])
            .df._jdf.queryExecution().executedPlan().toString())
    # stats come back via broadcast; the fact rows never hash-repartition
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_redact_pii(spark):
    d = OmigoDF(spark.createDataFrame(
        [(1, "mail bob@corp.io from 192.168.1.1 or call 555-123-4567"),
         (2, "ssn 123-45-6789 stays secret"),
         (3, "nothing sensitive here")],
        "doc_id long, text string"))
    out = {r["doc_id"]: r["text"] for r in TX.redact_pii(d).df.collect()}
    assert "<EMAIL>" in out[1] and "<IPV4>" in out[1] and "<PHONE>" in out[1]
    assert "bob@" not in out[1] and "192.168" not in out[1]
    assert out[2] == "ssn <SSN> stays secret"
    assert out[3] == "nothing sensitive here"


def test_sample_weighted_deterministic_and_monotone(documents):
    d = documents
    w1 = d.df.withColumn("w", F.lit(1.0))
    w0 = d.df.withColumn("w", F.lit(0.0))
    half = d.df.withColumn("w", F.lit(0.5))
    assert OmigoDF(w1).sample_weighted("w", ["doc_id"]).num_rows() \
        == d.num_rows()
    assert OmigoDF(w0).sample_weighted("w", ["doc_id"]).num_rows() == 0
    n = OmigoDF(half).sample_weighted("w", ["doc_id"]).num_rows()
    assert 0.35 * d.num_rows() < n < 0.65 * d.num_rows()
    # determinism
    n2 = OmigoDF(half).sample_weighted("w", ["doc_id"]).num_rows()
    assert n == n2


def test_profile(spark):
    d = OmigoDF(spark.createDataFrame(
        [(1, "a"), (2, None), (2, "b")], "id long, s string"))
    for kw in ({}, {"exact": True}):  # approx is exact at tiny cardinality
        got = {r["column"]: (r["n_rows"], r["n_null"], r["n_distinct"],
                             r["min_str"], r["max_str"])
               for r in d.profile(**kw).df.collect()}
        assert got["id"] == (3, 0, 2, "1", "2")
        assert got["s"] == (3, 1, 2, "a", "b")


def test_profile_empty_table(spark):
    d = OmigoDF(spark.createDataFrame([], "id long, s string"))
    # approx path: single global agg still emits one row per column
    assert d.profile().df.count() == 2
    # exact path is total too since r11: the pair aggregate left-joins
    # against the static column list, so empty in -> one row per column
    assert d.profile(exact=True).df.count() == 2


def test_profile_exact_plan_has_no_expand(spark):
    from omigo_data_analytics_spark.sources.io import load_testdata

    o = load_testdata(spark, "/root/testdata/sf0.001", "orders")
    for kw in ({}, {"exact": True}):
        p = (o.profile(["o_orderkey", "o_orderstatus"], **kw)
             .df._jdf.queryExecution().executedPlan().toString())
        assert "Expand" not in p, kw


# -------------------------------------------------- duplicate span stats
def _mk_docs(spark, texts):
    return OmigoDF(spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"))


def test_duplicate_span_stats_basic(spark):
    shared = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 tokens
    docs = _mk_docs(spark, [
        f"{shared} one two three",          # doc0: dup span at pos 0
        f"x y {shared}",                    # doc1: dup span at pos 2
        "totally unique words here nothing repeats at all ever once",
        "short doc",                        # < n tokens: no spans
    ])
    out = {r["doc_id"]: r.asDict()
           for r in DD.duplicate_span_stats(docs, n=8).df.collect()}
    assert len(out) == 4
    assert out[0]["dup_spans"] == 1 and out[0]["dup_tokens"] == 8
    assert out[0]["n_tokens"] == 11
    assert math.isclose(out[0]["dup_ratio"], round(8 / 11, 6))
    assert out[1]["dup_spans"] == 1 and out[1]["dup_tokens"] == 8
    assert out[2]["dup_spans"] == 0 and out[2]["dup_tokens"] == 0
    assert out[3]["dup_spans"] == 0 and out[3]["n_tokens"] == 2


def test_duplicate_span_stats_overlap_coverage(spark):
    # docs share an 11-token run -> doc0 has dup 8-gram starts at pos
    # 0..3; interval union = 3*1 + 8 = 11 tokens, not 4*8
    run = "a b c d e f g h i j k"
    docs = _mk_docs(spark, [f"{run} tail0 tail1", f"pre {run}"])
    out = {r["doc_id"]: r.asDict()
           for r in DD.duplicate_span_stats(docs, n=8).df.collect()}
    assert out[0]["dup_spans"] == 4 and out[0]["dup_tokens"] == 11
    assert out[1]["dup_spans"] == 4 and out[1]["dup_tokens"] == 11


def test_duplicate_span_stats_scope_any(spark):
    # the 8-gram repeats WITHIN doc0 only: cross_doc misses it, any finds it
    span = "p q r s t u v w"
    docs = _mk_docs(spark, [f"{span} mid {span}", "other text entirely"])
    cross = {r["doc_id"]: r["dup_spans"]
             for r in DD.duplicate_span_stats(docs, n=8).df.collect()}
    any_ = {r["doc_id"]: r["dup_spans"]
            for r in DD.duplicate_span_stats(docs, n=8, scope="any").df.collect()}
    assert cross[0] == 0
    assert any_[0] == 2
    import pytest
    with pytest.raises(ValueError, match="scope"):
        DD.duplicate_span_stats(docs, scope="bogus")


def test_duplicate_span_stats_matches_bruteforce(spark, documents):
    # brute-force reference on real sf0.001 documents
    n = 8
    rows = documents.df.select("doc_id", "text").collect()
    toks = {r["doc_id"]: [t for t in r["text"].split(" ") if t] for r in rows}
    from collections import Counter
    owner = {}
    for d, ts in toks.items():
        for i in range(len(ts) - n + 1):
            g = " ".join(ts[i:i + n])
            owner.setdefault(g, set()).add(d)
    dup = {g for g, ds in owner.items() if len(ds) >= 2}
    exp = {}
    for d, ts in toks.items():
        starts = sorted(i for i in range(len(ts) - n + 1)
                        if " ".join(ts[i:i + n]) in dup)
        covered = 0
        for j, s in enumerate(starts):
            nxt = starts[j + 1] if j + 1 < len(starts) else None
            covered += min(n, nxt - s) if nxt is not None else n
        exp[d] = (len(starts), covered)
    got = {r["doc_id"]: (r["dup_spans"], r["dup_tokens"])
           for r in DD.duplicate_span_stats(documents, n=n).df.collect()}
    assert got == exp


def test_remove_duplicate_spans_owner_keeps(spark):
    shared = "alpha bravo charlie delta echo foxtrot golf hotel"
    docs = _mk_docs(spark, [
        f"{shared} tail0 tail1",   # doc0 = owner (min id): keeps the span
        f"pre0 pre1 {shared}",     # doc1: span removed
        "unique words only here never repeated anywhere at all once",
    ])
    out = {r["doc_id"]: r.asDict()
           for r in DD.remove_duplicate_spans(docs, n=8).df.collect()}
    assert out[0]["text"] == f"{shared} tail0 tail1"
    assert out[0]["removed_tokens"] == 0
    assert out[1]["text"] == "pre0 pre1"
    assert out[1]["removed_tokens"] == 8
    assert out[2]["removed_tokens"] == 0


def test_remove_duplicate_spans_normalizes_whitespace(spark):
    # contract: output text is token-normalized for every row, even
    # untouched ones — matches the oracle's string_agg re-derivation
    docs = _mk_docs(spark, ["a  b   c", "d e f"])
    out = {r["doc_id"]: r["text"]
           for r in DD.remove_duplicate_spans(docs, n=8).df.collect()}
    assert out[0] == "a b c"


def test_remove_duplicate_spans_full_removal(spark):
    run = "a b c d e f g h"
    docs = _mk_docs(spark, [run, run, run])
    out = {r["doc_id"]: r.asDict()
           for r in DD.remove_duplicate_spans(docs, n=8).df.collect()}
    assert out[0]["text"] == run and out[0]["removed_tokens"] == 0
    assert out[1]["text"] == "" and out[1]["removed_tokens"] == 8
    assert out[2]["text"] == "" and out[2]["removed_tokens"] == 8


def test_remove_duplicate_spans_keeps_other_columns(spark, documents):
    out = DD.remove_duplicate_spans(documents, n=8).df
    assert set(documents.df.columns) | {"removed_tokens"} == set(out.columns)
    assert out.count() == documents.df.count()


def test_connected_components_signature_rides_checkpoint(spark):
    # long chain forces several propagation rounds through the fused
    # observe() signature path; labels must be the component min
    n = 8
    rows = [(f"n{i}", f"n{i+1}") for i in range(n)]
    cc = {r["id"]: r["cluster_id"]
          for r in __import__(
              "omigo_data_analytics_spark.operators.dedup",
              fromlist=["dedup"]).connected_components(
              OmigoDF(spark.createDataFrame(rows, ["id_a", "id_b"])),
              max_iter=20).df.collect()}
    assert set(cc.values()) == {"n0"} and len(cc) == n + 1


def test_profile_exact_total_on_empty(spark):
    """profile(exact=True) on an empty table still emits one row per
    column with zero counts (schema-independent row set)."""
    e = OmigoDF(spark.createDataFrame([], "a string, b long"))
    rows = {r["column"]: r for r in e.profile(exact=True).df.collect()}
    assert set(rows) == {"a", "b"}
    assert rows["a"]["n_rows"] == 0 and rows["a"]["n_distinct"] == 0
    assert rows["b"]["min_str"] is None
    # non-empty parity with the approx path's row set
    d = OmigoDF(spark.createDataFrame([("x", 1), (None, 2)], "a string, b long"))
    got = {r["column"]: r for r in d.profile(exact=True).df.collect()}
    assert got["a"]["n_rows"] == 2 and got["a"]["n_null"] == 1
    assert got["a"]["n_distinct"] == 1 and got["b"]["n_distinct"] == 2


def test_normalize_null_values_score_null(spark):
    """NULL x (or junk via try_cast) must yield a NULL score, not the
    constant-group 0.0/0.5 fallback; NULL group keys (no stats match
    via the left join) likewise."""
    rows = [("A", "10"), ("A", "20"), ("A", None), ("A", "junk"),
            (None, "30")]
    d = OmigoDF(spark.createDataFrame(rows, "g string, v string"))
    z = {(r["g"], r["v"]): r["v:norm"] for r in
         d.normalize(["v"], method="zscore", group_cols=["g"]).df.collect()}
    assert z[("A", None)] is None and z[("A", "junk")] is None
    assert z[(None, "30")] is None          # NULL group: no stats row
    assert z[("A", "10")] is not None
    mm = {(r["g"], r["v"]): r["v:norm"] for r in
          d.normalize(["v"], method="minmax", group_cols=["g"]).df.collect()}
    assert mm[("A", None)] is None and mm[(None, "30")] is None
    assert mm[("A", "10")] == 0.0 and mm[("A", "20")] == 1.0
    # row preservation: no row is dropped
    assert d.normalize(["v"], group_cols=["g"]).df.count() == 5
