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

One skeleton, ``_candidates``, makes every candidate decision for the
family: the self-join (``fuzzy_pairs``, and ``dedup_fuzzy`` through it)
passes one side, ``fuzzy_join`` passes two, and each caller keeps only
its own verify and output projection.

Hot-gram skew guard: a gram shared by a large fraction of the corpus
(common prefixes like "Customer#0000...") would inflate its join bucket
quadratically. The guard makes the mitigation
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
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.colutils import aliased, qcol
from ..core.dataframe import OmigoDF
from ..core.jobs import checkpoint_with_metrics
from .text import ensure_min_parallelism


def _checkpoint_warn_if_skewed(stats, floor: int, frac: float, source: str,
                               stacklevel: int):
    """Opt-in skew telemetry: on vocabulary-dense corpora the census
    routes most strings through the quadratic direct-verify fallback —
    exact but expensive. Eagerly checkpoints the per-string stats (one
    narrow row per gram-path string, reused by the main action) with the
    unsafe and total counts observed on that one job, so no result rows
    come back through a socket, and warns with the remedy (an absolute
    ``hot_gram_cap`` sized to the per-gram bucket budget, or
    ``hot_gram_cap=0`` to disable the guard on corpora known to be
    unskewed). Returns the checkpointed stats."""
    stats, m = checkpoint_with_metrics(stats, {
        "u": F.count(F.when(F.col("__r__") < floor, 1)),
        "n": F.count(F.lit(1))})
    n_unsafe, n_total = m["u"], m["n"]
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
    return stats


def _grams(df, q: int):
    """``df`` with one row per positional q-gram of ``__s__``: the gram
    ``__g__`` and its 1-based position ``__p__``."""
    s = F.col("__s__")
    gp = F.explode(F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(s) - (q - 1), F.lit(0))),
        lambda i: F.struct(F.substring(s, i, q).alias("g"), i.alias("p"))))
    return (df.select("*", gp.alias("__gp__"))
            .select("*", F.col("__gp__.g").alias("__g__"),
                    F.col("__gp__.p").alias("__p__")))


def _end(df, t: str, *names):
    """``df``'s internal columns ``names`` (``__x__``), renamed ``__xa__``
    or ``__xb__`` for join end ``t``."""
    return df.select(*[F.col(n).alias(n[:-2] + t + "__") for n in names])


def _pair_on(frames, on):
    """``on`` plus, for the self-join (one frame joined to itself), the
    ``__ka__ < __kb__`` order that keeps each unordered pair once."""
    return on + [F.col("__ka__") < F.col("__kb__")] if len(frames) == 1 else on


def _census(eligible, q: int, hot_gram_cap: int | None):
    """The hot-gram census over every gram-path string once: the
    self-join counts its one side, the two-table join both sides
    combined (a bucket's join volume is freq_l x freq_r, and any global
    classification keeps rarity a property of the gram — the
    completeness argument needs exactly that). Returns the broadcast hot
    set (``__g__``, ``__hot__``) and the plan of the per-string
    rare-occurrence stats (``__r__``, keyed by ``__k__`` and, with two
    sides, ``__side__``)."""
    streams, keys = [_grams(e, q) for e in eligible], ["__k__"]
    if len(streams) > 1:
        streams = [s.withColumn("__side__", F.lit(i))
                   for i, s in enumerate(streams)]
        keys = ["__side__", "__k__"]
    gp = reduce(DataFrame.union, streams)
    gfreq = gp.groupBy("__g__").agg(F.count(F.lit(1)).alias("__gc__"))
    if hot_gram_cap is not None:
        hot = gfreq.where(F.col("__gc__") > int(hot_gram_cap))
    else:
        # every eligible string yields a gram and keys are unique per
        # side, so this counts the strings the gram stream covers
        n_ = reduce(DataFrame.union, eligible).agg(
            F.count(F.lit(1)).alias("__nstr__"))
        hot = (gfreq.crossJoin(F.broadcast(n_))
               .where(F.col("__gc__") > F.greatest(
                   F.lit(64).cast("long"),
                   F.expr("CAST(ceil(__nstr__ * 0.01) AS BIGINT)"))))
    # hot and stats both feed MULTIPLE branches (stats build + rare
    # filter; safe + unsafe routing) — they are checkpointed so the
    # census agg runs ONCE instead of once per consumer subtree. Both
    # are small: hot is the over-cap gram set, stats one narrow row per
    # string.
    hot = F.broadcast(hot.select("__g__").withColumn("__hot__", F.lit(1))
                      .localCheckpoint(eager=False))
    # per-string rare-occurrence count: the gram stream reduces to one
    # row per string via map-side combine (the shuffle moves per-key
    # partials, never gram rows); hot count = (l-(q-1)) - r.
    return hot, (gp.join(hot, on="__g__", how="left")
                 .groupBy(*keys)
                 .agg(F.sum(F.when(F.col("__hot__").isNull(), 1)
                            .otherwise(0)).alias("__r__")))


def _rare_join(streams, d: int, q: int):
    """Key pairs sharing enough position-aligned grams of ``streams``
    (``__k__``, ``__l__``, ``__r__``, ``__g__``, ``__p__``). The count
    filter is the Gravano bound minus the most hot grams could have
    contributed to the 1-1 matching, least(hot_a, hot_b) where hot =
    (l - (q-1)) - r; it folds to the plain bound when r counts every
    occurrence. Pruning-only — exactness never depends on it."""
    a, b = (_end(s, t, "__k__", "__l__", "__r__", "__g__", "__p__")
            for s, t in ((streams[0], "a"), (streams[-1], "b")))
    la, lb, ra, rb = (F.col(c) for c in ("__la__", "__lb__", "__ra__",
                                         "__rb__"))
    return (a.join(b, on=_pair_on(streams, [
                F.col("__ga__") == F.col("__gb__"),
                F.abs(F.col("__pa__") - F.col("__pb__")) <= d,
                F.abs(la - lb) <= d]))
            .groupBy("__ka__", "__kb__")
            .agg(F.count(F.lit(1)).alias("__n__"),
                 *[F.first(c).alias(c) for c in ("__la__", "__lb__",
                                                  "__ra__", "__rb__")])
            .where(F.col("__n__") >=
                   F.greatest(la, lb) - (q - 1) - q * d
                   - F.least(la - (q - 1) - ra, lb - (q - 1) - rb))
            .select("__ka__", "__kb__"))


def _length_join(frames, d: int, lo: int):
    """Key pairs of ``frames`` (``__k__``, ``__l__``) whose lengths differ
    by at most ``d``: each string explodes its target lengths
    ``max(l - d, lo) .. l + d`` and the probe is an equi-join on length —
    a hash join, never a nested loop over the frames squared."""
    la = F.col("__la__")
    return (_end(frames[0], "a", "__k__", "__l__")
            .withColumn("__t__", F.explode(F.sequence(
                F.greatest(la - d, F.lit(lo)), la + d)))
            .join(_end(frames[-1], "b", "__k__", "__l__"),
                  on=_pair_on(frames, [F.col("__t__") == F.col("__lb__")]))
            .select("__ka__", "__kb__"))


def _candidates(sides, d: int, q: int, hot_gram_cap: int | None,
                warn_unsafe_frac: float | None, source: str,
                stacklevel: int):
    """The ed-join's candidate key pairs (``__ka__``, ``__kb__``),
    distinct, a superset of the pairs within edit distance ``d``.

    ``sides`` holds one frame for the self-join (pairs ``__ka__ <
    __kb__``) or the left and right frames of the two-table join, each
    with a unique key ``__k__``, a non-NULL string ``__s__`` and its
    length ``__l__``. The candidates are the union of three equi-joins:
    the rare-gram join over strings of length >= q, the unsafe x unsafe
    length buckets (guard on only), and the short-string length buckets
    (longer side < q*(d+1), where the gram bound can be vacuous).
    ``stacklevel`` attributes the skew warning as ``warnings.warn`` in
    the calling operator's body would (2 = that operator's caller)."""
    # the self-join reads its one side on both ends of every join; a
    # lazy checkpoint runs each derived side's plan once
    once = ((lambda df: df.localCheckpoint(eager=False))
            if len(sides) == 1 else (lambda df: df))
    # Strings shorter than q are excluded from the gram path up front:
    # Spark's sequence(1, 0) auto-steps BACKWARD to [1, 0], so without
    # the filter every sub-q string would emit two junk positional
    # grams — building a redundant O(n²) hot-gram bucket on exactly
    # the short-string skew path the length buckets already cover.
    eligible = [s.where(F.col("__l__") >= q) for s in sides]
    if hot_gram_cap is not None and int(hot_gram_cap) == 0:
        # Guard OFF: hot set statically empty, so __r__ = the total
        # occurrence count l - (q-1) and the count filter is the plain
        # Gravano bound. Complete without a fallback: any pair whose
        # longer side is >= q*(d+1) has bound >= 1 (must share a gram),
        # and both-short pairs go through the short-string buckets.
        streams = [_grams(e.withColumn("__r__", F.col("__l__") - (q - 1)), q)
                   for e in eligible]
        pairs = [_rare_join(streams, d, q)]
    else:
        hot, stats = _census(eligible, q, hot_gram_cap)
        floor = q * d + 1  # rare occurrences that survive any d-edit script
        if warn_unsafe_frac is None:
            stats = stats.localCheckpoint(eager=False)
        else:
            stats = _checkpoint_warn_if_skewed(
                stats, floor, float(warn_unsafe_frac), source, stacklevel + 2)
        per_side = ([stats] if len(sides) == 1 else
                    [stats.where(F.col("__side__") == i)
                     .select("__k__", "__r__") for i in range(len(sides))])
        # The rare-gram join over ALL eligible strings is complete
        # except for the unsafe x unsafe corner: if x has >= floor rare
        # occurrences, some rare gram of x survives any d-edit script
        # into y, and y's occurrence of that gram is present too (rarity
        # is a property of the gram, not the string). The grams
        # re-explode map-side from the stats-enriched strings —
        # re-running the cheap explode beats shuffling the gram stream
        # by key to attach __r__.
        streams = [_grams(once(e.join(st, on="__k__")), q)
                   .join(hot, on="__g__", how="left")
                   .where(F.col("__hot__").isNull())
                   for e, st in zip(eligible, per_side)]
        # the UNSAFE x UNSAFE corner (both sides < floor rare
        # occurrences: hot-dominated or barely longer than q); empty on
        # unskewed corpora but for q <= l < q*(d+1) strings
        unsafe = [once(e.join(st.where(F.col("__r__") < floor)
                              .select("__k__"), on="__k__")
                       .select("__k__", "__l__"))
                  for e, st in zip(eligible, per_side)]
        pairs = [_rare_join(streams, d, q),
                 _length_join(unsafe, d, q)]
    short = [once(s.where(F.col("__l__") < q * (d + 1))) for s in sides]
    pairs.append(_length_join(short, d, 0))
    return reduce(DataFrame.union, pairs).distinct()


def fuzzy_pairs(odf: OmigoDF, id_col: str, col: str,
                max_dist: int = 1, q: int = 3,
                hot_gram_cap: int | None = None,
                warn_unsafe_frac: float | None = None,
                _stacklevel: int = 2) -> OmigoDF:
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
    d = int(max_dist)
    base = (ensure_min_parallelism(odf.df)
            .select(qcol(id_col).alias("__k__"),
                    qcol(col).cast("string").alias("__s__"),
                    F.length(qcol(col).cast("string")).alias("__l__"))
            .where(F.col("__s__").isNotNull())
            .localCheckpoint(eager=False))
    cands = _candidates([base], d, int(q), hot_gram_cap, warn_unsafe_frac,
                        "fuzzy_pairs", _stacklevel)
    verified = (cands.join(_end(base, "a", "__k__", "__s__"), "__ka__")
                .join(_end(base, "b", "__k__", "__s__"), "__kb__")
                .withColumn("dist", F.levenshtein("__sa__", "__sb__"))
                .where(F.col("dist") <= d)
                .select(F.col("__ka__").alias("id_a"),
                        F.col("__kb__").alias("id_b"),
                        F.col("dist").cast("long").alias("dist")))
    return OmigoDF(verified)


def fuzzy_join(left: OmigoDF, right: OmigoDF, left_col: str, right_col: str,
               max_dist: int = 1, q: int = 3,
               lsuffix: str = "_l", rsuffix: str = "_r",
               hot_gram_cap: int | None = None,
               warn_unsafe_frac: float | None = None) -> OmigoDF:
    """Two-table edit-distance join (every left row paired with every
    right row within max_dist). Same exact candidate scheme as
    fuzzy_pairs; all columns carried, name collisions suffixed.

    Carries the same hot-gram skew guard as ``fuzzy_pairs``: grams are
    classified hot by their COMBINED left+right occurrence count; the
    gram join runs on rare grams only, which is complete whenever
    EITHER endpoint has >= q*d + 1 rare occurrences, and the
    unsafe_left x unsafe_right corner routes through the length-bucket
    equi-join fallback. ``hot_gram_cap`` None = max(64, 1% of the
    combined gram-path string count); the result is identical for any
    cap.
    ``hot_gram_cap=0`` disables the guard, ``warn_unsafe_frac`` opts
    into the skew warning — both exactly as in ``fuzzy_pairs``."""
    left._resolve(left_col)
    right._resolve(right_col)
    d = int(max_dist)

    def prep(odf, colname):
        return (ensure_min_parallelism(odf.df)
                .withColumn("__s__", qcol(colname).cast("string"))
                .withColumn("__l__", F.length("__s__"))
                .where(F.col("__s__").isNotNull())
                .withColumn("__k__", F.monotonically_increasing_id())
                .localCheckpoint(eager=False))

    lf, rf = prep(left, left_col), prep(right, right_col)
    sides = [f.select("__k__", "__s__", "__l__") for f in (lf, rf)]
    cands = _candidates(sides, d, int(q), hot_gram_cap, warn_unsafe_frac,
                        "fuzzy_join", 2)
    # computed under an internal name: withColumn("dist", ...) would be
    # ambiguous if an input table already carries a 'dist' column
    out = (cands.join(lf.alias("L"), F.col("__ka__") == F.col("L.__k__"))
           .join(rf.alias("R"), F.col("__kb__") == F.col("R.__k__"))
           .withColumn("__dist__", F.levenshtein(F.col("L.__s__"),
                                                 F.col("R.__s__")))
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
                       warn_unsafe_frac, _stacklevel=3)
           .df.select(F.col("id_b").alias(id_col)).distinct())
    return OmigoDF(odf.df.join(dup, on=id_col, how="left_anti"))
