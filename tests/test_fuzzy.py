"""Exact edit-distance join family (operators/fuzzy): q-gram count
filtering must be a NECESSARY condition (no missed pairs vs brute
force), verification keeps it exact, short strings route through the
length-bucket fallback."""

import pytest
from pyspark.sql import functions as F

from omigo_data_analytics_spark import OmigoDF
from omigo_data_analytics_spark.operators import fuzzy as FZ


def _brute(rows, d):
    import itertools

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    out = set()
    for (ia, sa), (ib, sb) in itertools.combinations(rows, 2):
        if sa is None or sb is None:
            continue
        dd = lev(sa, sb)
        if dd <= d:
            a, b = sorted((ia, ib))
            out.add((a, b, dd))
    return out


CASES = [
    (1, "mitten"), (2, "mittens"), (3, "kitten"), (4, "sitting"),
    (5, "bolt"), (6, "bolts"), (7, "colt"), (8, "x"), (9, "xy"),
    (10, "completely different thing"), (11, "completely different thong"),
    (12, ""), (13, None), (14, "mitten"),
]


@pytest.mark.parametrize("d", [1, 2])
def test_fuzzy_pairs_match_brute_force(spark, d):
    df = spark.createDataFrame(CASES, "id long, name string")
    got = {(r["id_a"], r["id_b"], r["dist"]) for r in
           FZ.fuzzy_pairs(OmigoDF(df), "id", "name", max_dist=d)
           .df.collect()}
    assert got == _brute(CASES, d)


def test_fuzzy_pairs_short_string_fallback_complete(spark):
    # every string shorter than q*(d+1): the gram bound is vacuous, so
    # correctness rests entirely on the length-bucket path
    rows = [(1, "ab"), (2, "ac"), (3, "a"), (4, "zz"), (5, "abc")]
    df = spark.createDataFrame(rows, "id long, name string")
    got = {(r["id_a"], r["id_b"], r["dist"]) for r in
           FZ.fuzzy_pairs(OmigoDF(df), "id", "name", max_dist=1, q=3)
           .df.collect()}
    assert got == _brute(rows, 1)


def test_fuzzy_join_two_tables(spark):
    left = spark.createDataFrame(
        [(1, "widget"), (2, "gadget")], "lid long, name string")
    right = spark.createDataFrame(
        [(10, "widgets"), (11, "midget"), (12, "nothing")],
        "rid long, name string")
    out = FZ.fuzzy_join(OmigoDF(left), OmigoDF(right), "name", "name",
                        max_dist=1).df
    got = {(r["lid"], r["rid"], r["dist"]) for r in out.collect()}
    assert got == {(1, 10, 1), (1, 11, 1)}
    # shared column names suffixed, dist present
    assert "name_l" in out.columns and "name_r" in out.columns


def test_fuzzy_join_hostile_column_names(spark):
    """Columns named ``a.b`` and ``a`b`` on both sides come back, suffixed,
    with the rows the same call gives on plain names."""
    from omigo_data_analytics_spark.core.colutils import quote

    lrows = [(1, "widget", "x"), (2, "gadget", "y")]
    rrows = [(10, "widgets", "p"), (11, "midget", "q"), (12, "nothing", "r")]

    def run(c1, c2):
        ddl = f"{quote(c1)} long, name string, {quote(c2)} string"
        out = FZ.fuzzy_join(OmigoDF(spark.createDataFrame(lrows, ddl)),
                            OmigoDF(spark.createDataFrame(rrows, ddl)),
                            "name", "name").df
        return out.columns, sorted(tuple(r) for r in out.collect())

    cols, rows = run("a.b", "a`b")
    plain_cols, plain_rows = run("ab", "ac")
    assert rows == plain_rows and len(rows) == 2
    assert cols == [c.replace("ab", "a.b").replace("ac", "a`b")
                    for c in plain_cols]


def test_dedup_fuzzy_keeps_min_representative(spark):
    df = spark.createDataFrame(
        [(3, "bolt"), (1, "bolts"), (2, "unrelated words here")],
        "id long, name string")
    out = FZ.dedup_fuzzy(OmigoDF(df), "id", "name", max_dist=1)
    # pair (1,3): 3 dropped (higher id); 1 and 2 survive
    assert sorted(r["id"] for r in out.df.collect()) == [1, 2]


def test_fuzzy_plan_no_python_and_verify_is_codegen(spark):
    df = spark.createDataFrame(CASES, "id long, name string")
    p = (FZ.fuzzy_pairs(OmigoDF(df), "id", "name").df
         ._jdf.queryExecution().executedPlan().toString())
    assert "EvalPython" not in p
    assert "levenshtein" in p  # JVM expression, not a UDF
    # r9: every candidate path is an EQUI join (the short/unsafe length
    # windows explode target lengths instead of a |la-lb|<=d nested loop)
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p

def _skewed_corpus(n=160, seed=11):
    """Customer#0000... shapes: a long shared prefix whose grams are all
    hot, discrimination only in the digit tail, plus deliberate near-dup
    pairs one edit apart."""
    import random

    rng = random.Random(seed)
    rows = []
    for i in range(n):
        s = f"Customer#{i:09d}"
        rows.append((2 * i, s))
        r = rng.random()
        if r < 0.3:  # substitution twin
            pos = rng.randrange(9, len(s))
            c = rng.choice("0123456789x")
            rows.append((2 * i + 1, s[:pos] + c + s[pos + 1:]))
        elif r < 0.4:  # deletion twin
            pos = rng.randrange(9, len(s))
            rows.append((2 * i + 1, s[:pos] + s[pos + 1:]))
    return rows


@pytest.mark.parametrize("cap", [None, 0, 5, 10**9])
def test_fuzzy_pairs_skew_guard_exact_on_hot_prefix_corpus(spark, cap):
    """r8 verdict #3: the hot-gram guard must be EXACT on the classic
    common-prefix skew shape, for the automatic cap, for a cap low
    enough to classify most grams hot (max routing through the unsafe
    path), and for a cap that disables the guard entirely."""
    rows = _skewed_corpus()
    df = spark.createDataFrame(rows, "id long, name string")
    got = {(r["id_a"], r["id_b"], r["dist"]) for r in
           FZ.fuzzy_pairs(OmigoDF(df), "id", "name", max_dist=1,
                          hot_gram_cap=cap).df.collect()}
    assert got == _brute(rows, 1)


def test_fuzzy_pairs_skew_guard_shrinks_hot_bucket(spark):
    """The guard's point: on the hot-prefix corpus the gram join must
    not enumerate the prefix bucket. Compare candidate-pair volume via
    the count filter input — with the guard (auto cap) the rare-gram
    join plus unsafe routing stays near-linear, while disabling the
    guard (huge cap) rebuilds the quadratic prefix bucket. We assert
    the OUTPUT is identical and the guarded plan contains the
    broadcast hot-set join."""
    rows = _skewed_corpus()
    df = spark.createDataFrame(rows, "id long, name string")
    guarded = FZ.fuzzy_pairs(OmigoDF(df), "id", "name", max_dist=1)
    p = guarded.df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p  # hot-set flag join rides broadcast
    assert "EvalPython" not in p
    off = FZ.fuzzy_pairs(OmigoDF(df), "id", "name", max_dist=1,
                         hot_gram_cap=10**9)
    assert (sorted(map(tuple, guarded.df.collect()))
            == sorted(map(tuple, off.df.collect())))


@pytest.mark.parametrize("d", [0, 1, 2])
def test_fuzzy_pairs_guard_property_random(spark, d):
    """Property: guard exactness on random corpora across distances,
    including d=0 (floor=1) and d=2 (floor=7, so most short-ish strings
    route unsafe)."""
    import random

    rng = random.Random(101 + d)
    alpha = "abcde"
    rows = []
    for i in range(120):
        L = rng.randrange(0, 12)
        rows.append((i, "".join(rng.choice(alpha) for _ in range(L))))
    df = spark.createDataFrame(rows, "id long, name string")
    got = {(r["id_a"], r["id_b"], r["dist"]) for r in
           FZ.fuzzy_pairs(OmigoDF(df), "id", "name", max_dist=d)
           .df.collect()}
    assert got == _brute(rows, d)


def _brute_join(lrows, rrows, d):
    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    out = set()
    for lid, ls in lrows:
        for rid, rs in rrows:
            if ls is None or rs is None:
                continue
            dd = lev(ls, rs)
            if dd <= d:
                out.add((lid, rid, dd))
    return out


@pytest.mark.parametrize("cap", [None, 0, 5, 10**9])
def test_fuzzy_join_skew_guard_exact_two_table(spark, cap):
    """The r9 guard extends to the two-table join: exact vs brute force
    on hot-prefix corpora for the auto cap, an aggressive cap (max
    unsafe routing), and a disabled cap."""
    import random

    rng = random.Random(23)
    lrows = [(i, f"Customer#{i:07d}") for i in range(120)]
    rrows = []
    for i in range(120):
        s = f"Customer#{i:07d}"
        r = rng.random()
        if r < 0.4:
            pos = rng.randrange(9, len(s))
            s = s[:pos] + rng.choice("0123456789x") + s[pos + 1:]
        elif r < 0.5:
            pos = rng.randrange(9, len(s))
            s = s[:pos] + s[pos + 1:]
        rrows.append((1000 + i, s))
    ldf = spark.createDataFrame(lrows, "lid long, name string")
    rdf = spark.createDataFrame(rrows, "rid long, name string")
    out = FZ.fuzzy_join(OmigoDF(ldf), OmigoDF(rdf), "name", "name",
                        max_dist=1, hot_gram_cap=cap).df
    got = {(r["lid"], r["rid"], r["dist"]) for r in out.collect()}
    assert got == _brute_join(lrows, rrows, 1)


@pytest.mark.parametrize("d", [0, 1, 2])
def test_fuzzy_join_guard_property_random(spark, d):
    """Random two-table corpora across distances — the two-table guard's
    routing (one-safe-endpoint rare join + unsafe_l x unsafe_r fallback)
    must stay exact under the same regimes as the self-join."""
    import random

    rng = random.Random(37 + d)
    alpha = "abcde"
    lrows = [(i, "".join(rng.choice(alpha)
                         for _ in range(rng.randrange(0, 11))))
             for i in range(70)]
    rrows = [(1000 + i, "".join(rng.choice(alpha)
                                for _ in range(rng.randrange(0, 11))))
             for i in range(70)]
    ldf = spark.createDataFrame(lrows, "lid long, name string")
    rdf = spark.createDataFrame(rrows, "rid long, name string")
    out = FZ.fuzzy_join(OmigoDF(ldf), OmigoDF(rdf), "name", "name",
                        max_dist=d).df
    got = {(r["lid"], r["rid"], r["dist"]) for r in out.collect()}
    assert got == _brute_join(lrows, rrows, d)


def test_fuzzy_pairs_guard_off_skips_census(spark):
    """hot_gram_cap=0 = guard OFF (r10): the plan must carry no census
    machinery at all — no __hot__ flag column, no per-string stats —
    while any guarded cap does. (Result identity across caps is the
    parametrized brute-force tests' job.)"""
    rows = _skewed_corpus(n=60)
    df = spark.createDataFrame(rows, "id long, name string")
    off = FZ.fuzzy_pairs(OmigoDF(df), "id", "name", max_dist=1,
                         hot_gram_cap=0)
    p_off = off.df._jdf.queryExecution().executedPlan().toString()
    assert "__hot__" not in p_off
    guarded = FZ.fuzzy_pairs(OmigoDF(df), "id", "name", max_dist=1)
    p_on = guarded.df._jdf.queryExecution().executedPlan().toString()
    assert "__hot__" in p_on


def test_fuzzy_join_guard_off_skips_census(spark):
    rows = [(i, f"Customer#{i:05d}") for i in range(40)]
    ldf = spark.createDataFrame(rows, "lid long, name string")
    rdf = spark.createDataFrame(rows, "rid long, name string")
    off = FZ.fuzzy_join(OmigoDF(ldf), OmigoDF(rdf), "name", "name",
                        max_dist=1, hot_gram_cap=0)
    assert "__hot__" not in (off.df._jdf.queryExecution()
                             .executedPlan().toString())


def test_fuzzy_warn_unsafe_frac(spark):
    """warn_unsafe_frac (r9 advice): on the hot-prefix corpus the unsafe
    fraction is large -> UserWarning with the remedy; on a diverse
    corpus nothing fires; default (None) never warns. Results must be
    unchanged by the opt-in."""
    import warnings as W

    rows = _skewed_corpus(n=120)
    df = spark.createDataFrame(rows, "id long, name string")
    with W.catch_warnings(record=True) as rec:
        W.simplefilter("always")
        got = FZ.fuzzy_pairs(OmigoDF(df), "id", "name", max_dist=1,
                             warn_unsafe_frac=0.25).df.collect()
    msgs = [str(w.message) for w in rec if issubclass(w.category, UserWarning)]
    assert any("unsafe-fraction" in m and "hot_gram_cap" in m for m in msgs)
    assert {(r["id_a"], r["id_b"], r["dist"]) for r in got} == _brute(rows, 1)
    assert {w.filename for w in rec
            if "unsafe-fraction" in str(w.message)} == {__file__}

    # dedup_fuzzy passes the dial through (one extra stack frame)
    with W.catch_warnings(record=True) as rec_d:
        W.simplefilter("always")
        FZ.dedup_fuzzy(OmigoDF(df), "id", "name", max_dist=1,
                       warn_unsafe_frac=0.25).df.collect()
    assert any("unsafe-fraction" in str(w.message) for w in rec_d
               if issubclass(w.category, UserWarning))
    assert {w.filename for w in rec_d
            if "unsafe-fraction" in str(w.message)} == {__file__}

    # diverse corpus: every string has plenty of rare grams -> no warning
    import random
    rng = random.Random(5)
    alpha = "abcdefghijklmnopqrstuvwxyz"
    div = [(i, "".join(rng.choice(alpha) for _ in range(20)))
           for i in range(80)]
    ddf = spark.createDataFrame(div, "id long, name string")
    with W.catch_warnings(record=True) as rec2:
        W.simplefilter("always")
        FZ.fuzzy_pairs(OmigoDF(ddf), "id", "name", max_dist=1,
                       warn_unsafe_frac=0.25).df.collect()
    assert not [w for w in rec2 if issubclass(w.category, UserWarning)
                and "unsafe-fraction" in str(w.message)]


def test_fuzzy_join_warn_unsafe_frac(spark):
    import warnings as W

    lrows = [(i, f"Customer#{i:06d}") for i in range(100)]
    rrows = [(1000 + i, f"Customer#{i:06d}") for i in range(100)]
    ldf = spark.createDataFrame(lrows, "lid long, name string")
    rdf = spark.createDataFrame(rrows, "rid long, name string")
    with W.catch_warnings(record=True) as rec:
        W.simplefilter("always")
        got = FZ.fuzzy_join(OmigoDF(ldf), OmigoDF(rdf), "name", "name",
                            max_dist=1,
                            warn_unsafe_frac=0.25).df.collect()
    msgs = [str(w.message) for w in rec if issubclass(w.category, UserWarning)]
    assert any("fuzzy_join" in m and "unsafe-fraction" in m for m in msgs)
    assert {w.filename for w in rec
            if "unsafe-fraction" in str(w.message)} == {__file__}
    assert ({(r["lid"], r["rid"], r["dist"]) for r in got}
            == _brute_join(lrows, rrows, 1))


def test_fuzzy_skew_warning_reads_no_result_rows(spark):
    """The unsafe counts are observed on the stats checkpoint's own job,
    so the opt-in warning leaves no result socket for the garbage
    collector to close."""
    import gc
    import warnings as W

    rows = [(i, f"Customer#{i:06d}") for i in range(100)]
    df = OmigoDF(spark.createDataFrame(rows, "id long, name string"))
    gc.collect()
    with W.catch_warnings(record=True) as rec:
        W.simplefilter("always")
        FZ.fuzzy_pairs(df, "id", "name", max_dist=1, warn_unsafe_frac=0.25)
        gc.collect()
    assert any("unsafe-fraction" in str(w.message) for w in rec)
    assert not [w for w in rec if issubclass(w.category, ResourceWarning)]


def test_fuzzy_pairs_unicode_codepoints(spark):
    """Unicode hardening: Spark's substring/length/levenshtein operate on
    CODEPOINTS, and the brute force here does too (Python str) — CJK,
    accents, and astral-plane emoji must agree end-to-end, including
    grams that mix scripts."""
    rows = [
        (1, "café du monde"), (2, "cafe du monde"),   # accent = 1 edit
        (3, "café du monde!"),                         # append = 1 edit
        (4, "東京タワーにのぼる"), (5, "東京タワーにのぼった"),
        (6, "東京タワー"),
        (7, "🦜🦜🦜 parrot song"), (8, "🦜🦜🦜 parrot songs"),
        (9, "ñandú überholt"), (10, "nandu uberholt"),
        (11, "αβγδε ζηθ"), (12, "αβγδε ζηθι"),
    ]
    df = spark.createDataFrame(rows, "id long, name string")
    for d in (1, 2):
        got = {(r["id_a"], r["id_b"], r["dist"]) for r in
               FZ.fuzzy_pairs(OmigoDF(df), "id", "name", max_dist=d)
               .df.collect()}
        assert got == _brute(rows, d), f"unicode mismatch at d={d}"
