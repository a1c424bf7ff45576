"""Exact edit-distance similarity join (ed-join) — entity resolution /
fuzzy dedup for name-like columns.

Candidates come from POSITIONAL q-gram count filtering (Gravano et al.
2001, VLDB "Approximate String Joins in a Database (Almost) for Free"):
strings within edit distance d must share at least
``max(|a|,|b|) - q + 1 - q*d`` q-grams at positions within d of each
other — a NECESSARY condition, so filtering candidates by it and then
verifying with exact ``levenshtein`` keeps the join EXACT. Pairs whose
longer string is shorter than q*(d+1) can have a vacuous bound; they go
through a length-bucket fallback instead (|len(a)-len(b)| <= d is
already necessary for ed <= d).

Scale shape: the q-gram path shuffles (gram, position) explosions
(~len(s) rows per string) and joins gram-equality with a position-window
predicate; the count filter then shrinks candidates before the
levenshtein verify (a codegen JVM expression in Spark).

Hot-gram skew guard (``fuzzy_pairs`` and ``fuzzy_join``, r9): a gram
shared by a large fraction of the corpus (common prefixes like "Customer#0000...") would
inflate its join bucket quadratically. The guard makes the mitigation
mechanical and EXACT: gram frequencies are counted in-plan (one
vocabulary-sized partial agg), grams above a cap are "hot", and the
gram join runs on RARE grams only. Completeness argument: at most q*d
gram occurrences of a string are destroyed by d edits (Gravano), so if
EITHER endpoint has >= q*d + 1 rare occurrences ("safe"), one of its
rare grams survives the edit script into the partner — and since
rarity is a property of the gram, the partner's occurrence is in the
rare join too. Only the unsafe x unsafe corner needs the fallback: a
length-bucketed direct-verify join (equi-join on the exploded target
length, never a nested loop) bounded by the unsafe set squared per
length bucket — empty on unskewed corpora, and on vocabulary-dense
data exactly the quadratic such data forces on any exact ed-join. The
count filter weakens by least(hot_a, hot_b): in the 1-1 occurrence
matching the bound counts, hot grams can contribute at most min of
the two hot occurrence counts, so subtracting it keeps the filter a
necessary condition over rare-only matches.
"""

from __future__ import annotations

import warnings

from pyspark.sql import functions as F

from ..core.colutils import aliased, qcol

from ..core.dataframe import OmigoDF
from .text import ensure_min_parallelism


def _skew_counts(stats, floor: int) -> tuple[int, int]:
    """(n_unsafe, n_total) in ONE job over the checkpointed per-string
    stats (one narrow row per gram-path string) — never a rescan of
    the input; the materialized checkpoint is reused by the main
    action."""
    row = stats.agg(
        F.count(F.when(F.col("__r__") < floor, 1)).alias("__u__"),
        F.count(F.lit(1)).alias("__n__")).collect()[0]
    return int(row["__u__"]), int(row["__n__"])


def _warn_if_skewed(n_unsafe: int, n_total: int, frac: float,
                    source: str, stacklevel: int = 3) -> None:
    """Opt-in skew telemetry (r9 advice): on vocabulary-dense corpora
    the census routes most strings through the quadratic direct-verify
    fallback — exact but expensive, and previously visible only in the
    docstring. Callers pass ``warn_unsafe_frac`` to get an explicit
    warning with the remedy (an absolute ``hot_gram_cap`` sized to the
    per-gram bucket budget, or ``hot_gram_cap=0`` to disable the guard
    on corpora known to be unskewed)."""
    if n_total and n_unsafe / n_total > frac:
        warnings.warn(
            f"{source}: {n_unsafe}/{n_total} strings "
            f"({n_unsafe / n_total:.0%}) exceeded the unsafe-fraction "
            f"threshold {frac:.0%} — most pairs will route through the "
            "quadratic length-bucket verification. The result stays "
            "EXACT, but consider an absolute hot_gram_cap sized to the "
            "per-gram bucket budget (cap^2 candidate pairs per gram), "
            "or hot_gram_cap=0 to disable the skew guard entirely if "
            "the corpus is known to be unskewed.",
            stacklevel=stacklevel)


def _grams_expr(col: str, q: int) -> str:
    """Positional q-grams: array of (gram, pos) structs, pos 1-based."""
    from ..core.colutils import quote
    qc = quote(col)
    return (f"transform(sequence(1, greatest(length({qc}) - {q - 1}, 0)), "
            f"i -> named_struct('g', substring({qc}, i, {q}), 'p', i))")


def fuzzy_pairs(odf: OmigoDF, id_col: str, col: str,
                max_dist: int = 1, q: int = 3,
                hot_gram_cap: int | None = None,
                warn_unsafe_frac: float | None = None,
                _stacklevel: int = 3) -> OmigoDF:
    """All pairs (id_a < id_b) with levenshtein(col_a, col_b) <= max_dist
    — exact, via q-gram-count candidate filtering + levenshtein verify.
    Returns (id_a, id_b, dist). NULL values never match (SQL semantics:
    levenshtein(NULL, x) is NULL, filtered).

    ``hot_gram_cap``: occurrence count above which a gram is "hot" and
    excluded from the gram join (see the module docstring's skew-guard
    proof). None (default) = automatic in-plan cap,
    max(64, 1% of the gram-path string count) — no-op on unskewed
    corpora (nothing crosses the cap), mechanical protection on
    common-prefix shapes. The result set is IDENTICAL for any cap
    (property-tested): the cap is purely a COST dial between the two
    exact routes — rare-gram join buckets (≤ cap² pairs per gram
    value) vs direct length-bucket verification for hot-dominated
    strings. At billion-string scale pass an ABSOLUTE cap sized to the
    per-gram bucket budget (cap² pairs) instead of relying on the 1%
    fraction, whose buckets grow quadratically with the corpus. On
    vocabulary-dense corpora (short word lists — TPC-H part names)
    most grams are legitimately common, the census routes most strings
    through direct verification, and the operator honestly degrades to
    the length-bucketed quadratic that such data forces on ANY exact
    ed-join — q-gram filtering has no selectivity to offer there.

    ``hot_gram_cap=0`` (r10) DISABLES the guard: no census, no stats
    shuffle, no fallback path — the pure r8 plan (full gram join with
    the plain Gravano count filter, plus the short-string buckets).
    Still exact (property-tested identical to every other cap); the
    right dial for corpora known to be unskewed, where the census agg
    is pure overhead. (A literal cap of 0 — every gram hot, everything
    through the quadratic fallback — is never what anyone wants, so
    the value is reused as the off switch.)

    ``warn_unsafe_frac`` (opt-in, r9 advice): if set, the operator
    eagerly counts the unsafe set (one small job over the lazily
    checkpointed census stats, reused by the main action) and emits a
    ``UserWarning`` when unsafe/total exceeds the fraction — the
    signal that the corpus is vocabulary-dense and the caller should
    size an absolute cap. None (default) = zero extra jobs. Ignored
    when the guard is off."""
    odf._resolve([id_col, col])
    d, qq = int(max_dist), int(q)
    guard_off = hot_gram_cap is not None and int(hot_gram_cap) == 0
    base = (ensure_min_parallelism(odf.df)
            .select(qcol(id_col).alias("__id__"),
                    qcol(col).cast("string").alias("__s__"),
                    F.length(qcol(col).cast("string")).alias("__l__"))
            .where(F.col("__s__").isNotNull())
            .localCheckpoint(eager=False))

    # Strings shorter than q are excluded from the gram path up front:
    # Spark's sequence(1, 0) auto-steps BACKWARD to [1, 0], so without
    # the filter every sub-q string would emit two junk positional
    # grams — building a redundant O(n²) hot-gram bucket on exactly
    # the short-string skew path B already covers (r8 review).
    eligible = base.where(F.col("__l__") >= qq)

    floor = qq * d + 1  # rare occurrences that survive any d-edit script
    if guard_off:
        # Guard OFF (hot_gram_cap=0): hot set statically empty, so
        # __r__ = the total occurrence count l - (q-1) — the least()
        # term in the count filter folds to 0 and the filter reduces
        # to the plain Gravano bound. Complete without a fallback:
        # any pair whose longer side is >= q*(d+1) has bound >= 1
        # (must share a gram), and both-short pairs go through path B.
        enriched = eligible.withColumn(
            "__r__", F.col("__l__") - F.lit(qq - 1))
        sex = (enriched
               .select("__id__", "__l__", "__r__",
                       F.explode(F.expr(_grams_expr("__s__", qq)))
                       .alias("__gp__"))
               .select("__id__", "__l__", "__r__",
                       F.col("__gp__.g").alias("__g__"),
                       F.col("__gp__.p").alias("__p__")))
    else:
        # --- hot-gram census (r9 skew guard): one vocabulary-sized
        # partial agg; the hot set (grams above the cap) is tiny and
        # broadcast.
        gp = (eligible
              .select("__id__", "__l__",
                      F.explode(F.expr(_grams_expr("__s__", qq)))
                      .alias("__gp__"))
              .select("__id__", "__l__",
                      F.col("__gp__.g").alias("__g__")))
        gfreq = gp.groupBy("__g__").agg(F.count(F.lit(1)).alias("__gc__"))
        if hot_gram_cap is not None:
            hot = gfreq.where(F.col("__gc__") > int(hot_gram_cap))
        else:
            n_ = eligible.agg(F.count(F.lit(1)).alias("__nstr__"))
            hot = (gfreq.crossJoin(F.broadcast(n_))
                   .where(F.col("__gc__") > F.greatest(
                       F.lit(64).cast("long"),
                       F.expr("CAST(ceil(__nstr__ * 0.01) AS BIGINT)"))))
        # hot and stats both feed MULTIPLE branches (stats build + rare
        # filter; safe + unsafe routing) — lazily checkpoint them so the
        # census agg runs ONCE instead of once per consumer subtree
        # (measured: 3 gfreq aggregations / 7 explodes in the un-
        # checkpointed plan — the bm25 self-reference trap). Both are
        # small: hot is the over-cap gram set, stats one narrow row per
        # string.
        hot = F.broadcast(hot.select("__g__")
                          .withColumn("__hot__", F.lit(1))
                          .localCheckpoint(eager=False))

        # per-string rare-occurrence count: the gram stream reduces to
        # one row per string via map-side combine (the shuffle moves
        # per-id partials, never gram rows); hot count = (l-(q-1)) - r.
        stats = (gp.join(hot, on="__g__", how="left")
                 .groupBy("__id__")
                 .agg(F.sum(F.when(F.col("__hot__").isNull(), 1)
                            .otherwise(0)).alias("__r__"))
                 .localCheckpoint(eager=False))

        # path A — rare-gram join over ALL eligible strings.
        # Completeness needs only ONE safe endpoint: if x has >= floor
        # rare occurrences, some rare gram of x survives any d-edit
        # script into y, and y's occurrence of that gram is present
        # here too (rarity is a property of the gram, not the string)
        # — so every true pair except unsafe x unsafe appears in this
        # join, and path U below only has to cover the unsafe x unsafe
        # corner. The grams re-explode map-side from the stats-enriched
        # strings — re-running the cheap explode beats shuffling the
        # gram stream by id to attach __r__.
        enriched = (eligible.join(stats, on="__id__")
                    .localCheckpoint(eager=False))
        sex = (enriched
               .select("__id__", "__l__", "__r__",
                       F.explode(F.expr(_grams_expr("__s__", qq)))
                       .alias("__gp__"))
               .select("__id__", "__l__", "__r__",
                       F.col("__gp__.g").alias("__g__"),
                       F.col("__gp__.p").alias("__p__"))
               .join(hot, on="__g__", how="left")
               .where(F.col("__hot__").isNull()))
    a = sex.select(F.col("__id__").alias("id_a"), F.col("__l__").alias("la"),
                   F.col("__r__").alias("ra"),
                   F.col("__g__").alias("g"), F.col("__p__").alias("pa"))
    b = sex.select(F.col("__id__").alias("id_b"), F.col("__l__").alias("lb"),
                   F.col("__r__").alias("rb"),
                   F.col("__g__").alias("g"), F.col("__p__").alias("pb"))
    # count filter over rare-only matches: the Gravano bound minus the
    # most hot grams could have contributed to the 1-1 matching,
    # least(hot_a, hot_b) where hot = (l - (q-1)) - r. Pruning-only —
    # exactness never depends on it.
    grams = (a.join(b, on=[a["g"] == b["g"],
                           F.col("id_a") < F.col("id_b"),
                           F.abs(F.col("pa") - F.col("pb")) <= d,
                           F.abs(F.col("la") - F.col("lb")) <= d])
             .groupBy("id_a", "id_b")
             .agg(F.count(F.lit(1)).alias("shared"),
                  F.first("la").alias("la"), F.first("lb").alias("lb"),
                  F.first("ra").alias("ra"), F.first("rb").alias("rb"))
             .where(F.col("shared") >=
                    F.greatest(F.col("la"), F.col("lb")) - (qq - 1) - qq * d
                    - F.least(F.col("la") - (qq - 1) - F.col("ra"),
                              F.col("lb") - (qq - 1) - F.col("rb")))
             .select("id_a", "id_b"))

    if guard_off:
        upairs = None
    else:
        # path U — the UNSAFE x UNSAFE corner (both sides < floor rare
        # occurrences: hot-dominated or barely longer than q; any pair
        # with a safe endpoint is already complete in path A above).
        # Equi-join on the exploded target length (d+1 buckets probed
        # per string), so the probe is a hash join, never a nested
        # loop; bounded by the unsafe set squared per length bucket,
        # and empty on unskewed corpora (where only q <= l < q*(d+1)
        # strings route, the regime path A's bound never covered).
        unsafe = (eligible.join(stats.where(F.col("__r__") < floor)
                                .select("__id__"), on="__id__")
                  .select("__id__", "__l__")
                  .localCheckpoint(eager=False))
        if warn_unsafe_frac is not None:
            _warn_if_skewed(*_skew_counts(stats, floor),
                            float(warn_unsafe_frac), "fuzzy_pairs",
                            stacklevel=_stacklevel)
        probe = unsafe.select(F.col("__id__").alias("__ub__"),
                              F.col("__l__").alias("__pl__"))
        upairs = (unsafe
                  .select(F.col("__id__").alias("__ua__"),
                          F.col("__l__").alias("__ul__"))
                  .withColumn("__lb__", F.explode(F.expr(
                      f"sequence(greatest(__ul__ - {d}, {qq}), "
                      f"__ul__ + {d})")))
                  .join(probe, on=[F.col("__lb__") == F.col("__pl__"),
                                   F.col("__ua__") != F.col("__ub__")])
                  .select(F.least("__ua__", "__ub__").alias("id_a"),
                          F.greatest("__ua__", "__ub__").alias("id_b")))

    # path B — short strings (longer side < q*(d+1)): length buckets.
    # Same explode-the-target-length equi join as path U (r9): a bare
    # |la-lb| <= d condition has no equi key and planned as a nested
    # loop over shorts² — fine when shorts are few, quadratic scan cost
    # on short-string corpora where B is the MAIN path. With the equi
    # key every candidate path in the operator is a hash join.
    short = (base.where(F.col("__l__") < qq * (d + 1))
             .localCheckpoint(eager=False))
    sb = short.select(F.col("__id__").alias("id_b"), F.col("__l__").alias("lb"))
    shorts = (short
              .select(F.col("__id__").alias("id_a"), F.col("__l__").alias("la"))
              .withColumn("__lb__", F.explode(F.expr(
                  f"sequence(greatest(la - {d}, 0), la + {d})")))
              .join(sb, on=[F.col("__lb__") == F.col("lb"),
                            F.col("id_a") < F.col("id_b")])
              .select("id_a", "id_b"))

    cands = (grams.union(shorts) if upairs is None
             else grams.union(upairs).union(shorts)).distinct()
    sa2 = base.select(F.col("__id__").alias("id_a"), F.col("__s__").alias("sa"))
    sb2 = base.select(F.col("__id__").alias("id_b"), F.col("__s__").alias("sb"))
    verified = (cands.join(sa2, "id_a").join(sb2, "id_b")
                .withColumn("dist", F.levenshtein("sa", "sb"))
                .where(F.col("dist") <= d)
                .select("id_a", "id_b", F.col("dist").cast("long").alias("dist")))
    return OmigoDF(verified)


def fuzzy_join(left: OmigoDF, right: OmigoDF, left_col: str, right_col: str,
               max_dist: int = 1, q: int = 3,
               lsuffix: str = "_l", rsuffix: str = "_r",
               hot_gram_cap: int | None = None,
               warn_unsafe_frac: float | None = None) -> OmigoDF:
    """Two-table edit-distance join (every left row paired with every
    right row within max_dist). Same exact candidate scheme as
    fuzzy_pairs; all columns carried, name collisions suffixed.

    Carries the same hot-gram skew guard as ``fuzzy_pairs`` (r9):
    grams are classified hot by their COMBINED left+right occurrence
    count (a bucket's join volume is freq_l x freq_r, and any global
    classification keeps rarity a property of the gram — the
    completeness argument needs exactly that); the gram join runs on
    rare grams only, which is complete whenever EITHER endpoint has
    >= q*d + 1 rare occurrences, and the unsafe_left x unsafe_right
    corner routes through the length-bucket equi-join fallback.
    ``hot_gram_cap`` None = max(64, 1% of the combined gram-path
    string count); the result is identical for any cap.
    ``hot_gram_cap=0`` disables the guard, ``warn_unsafe_frac`` opts
    into the skew warning — both exactly as in ``fuzzy_pairs``."""
    left._resolve(left_col)
    right._resolve(right_col)
    d, qq = int(max_dist), int(q)
    floor = qq * d + 1
    guard_off = hot_gram_cap is not None and int(hot_gram_cap) == 0

    def prep(odf, colname, side):
        return (ensure_min_parallelism(odf.df)
                .withColumn(f"__s{side}__", qcol(colname).cast("string"))
                .withColumn(f"__l{side}__", F.length(f"__s{side}__"))
                .where(F.col(f"__s{side}__").isNotNull())
                .withColumn(f"__k{side}__",
                            F.monotonically_increasing_id())
                .localCheckpoint(eager=False))

    lf, rf = prep(left, left_col, "l"), prep(right, right_col, "r")
    # len >= q filters: see fuzzy_pairs — sequence(1,0) emits junk grams
    ell, elr = lf.where(F.col("__ll__") >= qq), rf.where(F.col("__lr__") >= qq)

    if guard_off:
        # Guard OFF (hot_gram_cap=0): see fuzzy_pairs — __r__ = total
        # occurrences, least() term folds to 0 = plain Gravano filter;
        # complete with the gram join + the shorts buckets alone.
        def all_ex(side_df, k, l, s):
            return (side_df
                    .withColumn("__r__", qcol(l) - F.lit(qq - 1))
                    .select(k, l, "__r__",
                            F.explode(F.expr(_grams_expr(s, qq)))
                            .alias("gp")))

        exl = all_ex(ell, "__kl__", "__ll__", "__sl__")
        exr = all_ex(elr, "__kr__", "__lr__", "__sr__")
    else:
        # combined-census hot set (see docstring); same checkpoint-once
        # discipline as fuzzy_pairs — hot and the per-string stats feed
        # multiple branches
        gp = (ell.select(F.col("__kl__").alias("__k__"),
                         F.explode(F.expr(_grams_expr("__sl__", qq)))
                         .alias("__gp__"))
              .select("__k__", F.col("__gp__.g").alias("__g__"),
                      F.lit("l").alias("__side__"))
              .unionByName(
                  elr.select(F.col("__kr__").alias("__k__"),
                             F.explode(F.expr(_grams_expr("__sr__", qq)))
                             .alias("__gp__"))
                  .select("__k__", F.col("__gp__.g").alias("__g__"),
                          F.lit("r").alias("__side__"))))
        gfreq = gp.groupBy("__g__").agg(F.count(F.lit(1)).alias("__gc__"))
        if hot_gram_cap is not None:
            hot = gfreq.where(F.col("__gc__") > int(hot_gram_cap))
        else:
            n_ = gp.select("__side__", "__k__").distinct().agg(
                F.count(F.lit(1)).alias("__nstr__"))
            hot = (gfreq.crossJoin(F.broadcast(n_))
                   .where(F.col("__gc__") > F.greatest(
                       F.lit(64).cast("long"),
                       F.expr("CAST(ceil(__nstr__ * 0.01) AS BIGINT)"))))
        hot = F.broadcast(hot.select("__g__").withColumn("__hot__", F.lit(1))
                          .localCheckpoint(eager=False))
        stats = (gp.join(hot, on="__g__", how="left")
                 .groupBy("__side__", "__k__")
                 .agg(F.sum(F.when(F.col("__hot__").isNull(), 1).otherwise(0))
                      .alias("__r__"))
                 .localCheckpoint(eager=False))
        stats_l = (stats.where("__side__ = 'l'")
                   .select(F.col("__k__").alias("__kl__"), "__r__"))
        stats_r = (stats.where("__side__ = 'r'")
                   .select(F.col("__k__").alias("__kr__"), "__r__"))

        def rare_ex(side_df, k, l, s, st):
            return (side_df.join(st, on=k)
                    .select(k, l, F.col("__r__"),
                            F.explode(F.expr(_grams_expr(s, qq))).alias("gp"))
                    .join(hot, on=[F.col("gp.g") == F.col("__g__")],
                          how="left")
                    .where(F.col("__hot__").isNull())
                    .drop("__g__", "__hot__"))

        exl = rare_ex(ell, "__kl__", "__ll__", "__sl__", stats_l)
        exr = rare_ex(elr, "__kr__", "__lr__", "__sr__", stats_r)
    grams = (exl.alias("a").join(
                 exr.alias("b"),
                 on=[F.col("a.gp.g") == F.col("b.gp.g"),
                     F.abs(F.col("a.gp.p") - F.col("b.gp.p")) <= d,
                     F.abs(F.col("__ll__") - F.col("__lr__")) <= d])
             .groupBy("__kl__", "__kr__")
             .agg(F.count(F.lit(1)).alias("shared"),
                  F.first("__ll__").alias("ll"), F.first("__lr__").alias("lr"),
                  F.first("a.__r__").alias("rl"), F.first("b.__r__").alias("rr"))
             .where(F.col("shared") >=
                    F.greatest(F.col("ll"), F.col("lr")) - (qq - 1) - qq * d
                    - F.least(F.col("ll") - (qq - 1) - F.col("rl"),
                              F.col("lr") - (qq - 1) - F.col("rr")))
             .select("__kl__", "__kr__"))
    if guard_off:
        upairs = None
    else:
        # unsafe_left x unsafe_right corner: length-bucket equi join
        # (the one-safe-endpoint argument covers every other pair in
        # the rare join above)
        ul = (ell.join(stats_l.where(F.col("__r__") < floor)
                       .select("__kl__"), on="__kl__")
              .select("__kl__", "__ll__"))
        ur = (elr.join(stats_r.where(F.col("__r__") < floor)
                       .select("__kr__"), on="__kr__")
              .select("__kr__", "__lr__"))
        if warn_unsafe_frac is not None:
            # one small job over the checkpointed combined stats (one
            # narrow row per string, both sides) — no input rescan,
            # and the materialized checkpoint is reused by the main
            # action
            _warn_if_skewed(*_skew_counts(stats, floor),
                            float(warn_unsafe_frac), "fuzzy_join")
        upairs = (ul.withColumn("__lb__", F.explode(F.expr(
                      f"sequence(greatest(__ll__ - {d}, {qq}), "
                      f"__ll__ + {d})")))
                  .join(ur, on=[F.col("__lb__") == F.col("__lr__")])
                  .select("__kl__", "__kr__"))
    # same explode-the-target-length equi join as fuzzy_pairs' path B
    shorts = (lf.where(F.col("__ll__") < qq * (d + 1))
              .select("__kl__", "__ll__")
              .withColumn("__lb2__", F.explode(F.expr(
                  f"sequence(greatest(__ll__ - {d}, 0), __ll__ + {d})")))
              .join(rf.where(F.col("__lr__") < qq * (d + 1))
                    .select("__kr__", "__lr__"),
                    on=[F.col("__lb2__") == F.col("__lr__")])
              .select("__kl__", "__kr__"))
    cands = (grams.union(shorts) if upairs is None
             else grams.union(upairs).union(shorts)).distinct()
    # computed under an internal name: withColumn("dist", ...) would be
    # ambiguous if an input table already carries a 'dist' column
    out = (cands.join(lf.alias("L"), "__kl__").join(rf.alias("R"), "__kr__")
           .withColumn("__dist__", F.levenshtein(F.col("L.__sl__"),
                                                 F.col("R.__sr__")))
           .where(F.col("__dist__") <= d))
    lcols, rcols = set(left.df.columns), set(right.df.columns)
    # "dist" is reserved for the computed distance: an input column of
    # that name is suffixed unconditionally (else the output would
    # carry two ambiguous 'dist' columns — r8 review)
    sel = ([aliased("L", c).alias(c + lsuffix if c in rcols or c == "dist"
                                  else c)
            for c in left.df.columns]
           + [aliased("R", c).alias(c + rsuffix if c in lcols or c == "dist"
                                    else c)
              for c in right.df.columns]
           + [F.col("__dist__").cast("long").alias("dist")])
    return OmigoDF(out.select(*sel))


def dedup_fuzzy(odf: OmigoDF, id_col: str, col: str,
                max_dist: int = 1, q: int = 3,
                hot_gram_cap: int | None = None,
                warn_unsafe_frac: float | None = None) -> OmigoDF:
    """Drop the higher id of every fuzzy pair (greedy min-representative,
    the family's shared keep-rule). ``hot_gram_cap`` (0 = guard off) and
    ``warn_unsafe_frac`` pass through to the skew guard (see
    fuzzy_pairs)."""
    dup = (fuzzy_pairs(odf, id_col, col, max_dist, q, hot_gram_cap,
                       warn_unsafe_frac, _stacklevel=4)
           .df.select(F.col("id_b").alias(id_col)).distinct())
    return OmigoDF(odf.df.join(dup, on=id_col, how="left_anti"))
