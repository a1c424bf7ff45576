"""Trends operators: per-group categorical distribution statistics and
time-paired distribution drift.

Re-expresses the semantics of the reference's own Spark trends job
(projects/matel/trends-analysis TrendsAnalysis.scala: generateDicts →
stats :740-781 — uniq/total/entropy per grouped value distribution —
and generatePairedStats :791-900 — cosine/jaccard similarity between a
key's value-count distributions in adjacent windows). The reference
implements both as RDD groupByKey + per-key Scala closures that
materialize every (value, count) list in memory; here both are pure
DataFrame aggregation algebra:

  * stats: two partial-aggregated shuffles (key,value → key), entropy
    folded as sum(p log p) without collecting the distribution;
  * drift: adjacent window pairing via a lead() window over the
    per-key DISTINCT bucket list (tiny: #buckets per key), then one
    equi-join on (key, value, bucket_next) whose output is
    matched-value-sized; cosine norms ride the same aggregates.

No per-key value lists ever materialize, so a key with 10^8 distinct
values costs a bigger shuffle, not an executor OOM — the property the
reference's groupByKey version gives up.

Delta from the reference, documented: TrendsAnalysis.computeCosSim
(:791-806) returns 0 when the two maps have unequal sizes — an apparent
bug (it zeroes similarity for any pair whose windows saw different
value sets). The repo computes the standard sparse cosine over the
union of values; jaccard matches the reference's computeJacSim (:845).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..core.colutils import aliased, qcol
from ..core.dataframe import OmigoDF


def category_distribution_stats(odf: OmigoDF, key_cols, value_col: str) -> OmigoDF:
    """Per key: total_count, uniq_count, and Shannon entropy (bits) of
    the ``value_col`` categorical distribution."""
    keys = odf._resolve(key_cols)
    odf._resolve(value_col)
    counts = (odf.df.groupBy(*[qcol(k) for k in keys], qcol(value_col))
              .agg(F.count(F.lit(1)).alias("__c__")))
    # entropy = -sum(c/T * log2(c/T)) = log2(T) - sum(c*log2(c))/T
    out = (counts.groupBy(*[qcol(k) for k in keys])
           .agg(F.sum("__c__").alias("total_count"),
                F.count(F.lit(1)).alias("uniq_count"),
                F.sum(F.col("__c__") * F.log2("__c__")).alias("__clc__"))
           .select(*[qcol(k) for k in keys], "total_count", "uniq_count",
                   F.round(F.log2("total_count")
                           - F.col("__clc__") / F.col("total_count"), 6)
                   .alias("entropy")))
    return OmigoDF(out)


def category_stats_sql_duck(table: str, key_cols, value_col: str) -> str:
    keys = ", ".join(key_cols)
    return f"""
WITH c AS (SELECT {keys}, {value_col} AS v, COUNT(*) AS c
           FROM {table} GROUP BY {keys}, {value_col})
SELECT {keys}, CAST(SUM(c) AS BIGINT) AS total_count,
       CAST(COUNT(*) AS BIGINT) AS uniq_count,
       round(log2(SUM(c)) - SUM(c * log2(c)) / SUM(c), 6) AS entropy
FROM c GROUP BY {keys}
"""


def distribution_drift(odf: OmigoDF, key_cols, bucket_col: str,
                       value_col: str) -> OmigoDF:
    """Per key and adjacent bucket pair: cosine and Jaccard similarity
    between the value-count distributions of bucket and bucket_next —
    low similarity = the key's behavior drifted between windows.

    Returns (keys..., bucket, bucket_next, cosine_sim, jaccard_sim,
    jsd). ``jsd`` is the Jensen-Shannon divergence in bits (0 =
    identical distributions, 1 = disjoint support) — well-defined on
    zero probabilities with no smoothing constant, and decomposable
    into the same aggregates the similarity join already carries:
    H(m)'s matched terms sum inside the join; its one-sided terms come
    from each bucket's Σc·log2c, via Σ_all (p/2)log2(p/2) =
    hterm/(2T) - (1+log2 T)/2, minus the matched share. Adjacency is
    over the buckets PRESENT for that key, in order (the reference
    iterates the sorted agg_key_value list the same way).

    NULL buckets are excluded (both dialects): a NULL time window has
    no adjacency position — and Spark orders NULLS FIRST where DuckDB
    orders NULLS LAST, so keeping them would silently pair different
    neighbors in the engine and the oracle (r10 review). A NULL key or
    value is a real group, as in every grouped operator: the joins are
    null-safe (both dialects), so it pairs with itself."""
    keys = odf._resolve(key_cols)
    odf._resolve([bucket_col, value_col])
    # the keys and the value travel as one struct each: a struct is never
    # NULL and structs with equal fields are equal, NULL fields included,
    # so the joins below are null-safe while staying plain equi-joins on
    # grouping columns (a <=> join key hides the grouping columns from
    # the size estimate, which then stops broadcasting the small sides)
    kk, vv = "__k__", "__v__"
    counts = (odf.df.where(qcol(bucket_col).isNotNull())
              .groupBy(F.struct(*map(qcol, keys)).alias(kk), qcol(bucket_col),
                       F.struct(qcol(value_col)).alias(vv))
              .agg(F.count(F.lit(1)).alias("cnt")))
    norms = (counts.groupBy(kk, qcol(bucket_col))
             .agg(F.sum(F.col("cnt") * F.col("cnt")).alias("sq"),
                  F.count(F.lit(1)).alias("nvals"),
                  F.sum("cnt").alias("tot"),
                  F.sum(F.col("cnt") * F.log2("cnt")).alias("hterm")))
    w = Window.partitionBy(kk).orderBy(qcol(bucket_col))
    lead_cols = ["sq", "nvals", "tot", "hterm"]
    pairs = (norms
             .select(kk, qcol(bucket_col), *lead_cols,
                     F.lead(qcol(bucket_col)).over(w).alias("__bnext__"),
                     *[F.lead(c).over(w).alias(f"{c}2") for c in lead_cols])
             .where(F.col("__bnext__").isNotNull()))
    # alias-qualified QUOTED refs throughout: F.col(f"a.{k}") and the
    # bracket accessor PARSE the name, so a dot or backtick in a user
    # column would resolve as a struct access or fail to parse
    a, b, p = (partial(aliased, side) for side in ("a", "b", "p"))
    pa = a("cnt") / p("tot")
    pb = b("cnt") / p("tot2")
    m = (pa + pb) / 2
    dots = (pairs.alias("p")
            .join(counts.alias("a"), [a(kk) == p(kk),
                                      a(bucket_col) == p(bucket_col)])
            .join(counts.alias("b"), [b(kk) == p(kk),
                                      b(bucket_col) == p("__bnext__"),
                                      b(vv) == a(vv)])
            .groupBy(p(kk).alias(kk),
                     p(bucket_col).alias(bucket_col),
                     p("__bnext__").alias("bucket_next"))
            .agg(F.sum(a("cnt") * b("cnt")).alias("dot"),
                 F.count(F.lit(1)).alias("matched"),
                 F.sum(m * F.log2(m)).alias("mterm"),
                 F.sum((pa / 2) * F.log2(pa / 2)).alias("fa_m"),
                 F.sum((pb / 2) * F.log2(pb / 2)).alias("fb_m")))
    # pairs with zero shared values drop out of the join; re-attach them
    # with dot=0, matched=0 (and empty matched entropy terms) via a left
    # join from the pair list
    dsel = dots.select(F.col(kk).alias("__d_k__"),
                       qcol(bucket_col).alias("__d_b__"),
                       F.col("bucket_next").alias("__d_bn__"),
                       "dot", "matched", "mterm", "fa_m", "fb_m")
    ds = partial(aliased, "d")
    cond = [p(kk) == ds("__d_k__"), p(bucket_col) == ds("__d_b__"),
            p("__bnext__") == ds("__d_bn__")]
    z = lambda c: F.coalesce(ds(c), F.lit(0.0))  # noqa: E731
    tot, tot2 = p("tot"), p("tot2")
    ha = F.log2(tot) - p("hterm") / tot
    hb = F.log2(tot2) - p("hterm2") / tot2
    fa_all = p("hterm") / (2 * tot) - (1 + F.log2(tot)) / 2
    fb_all = p("hterm2") / (2 * tot2) - (1 + F.log2(tot2)) / 2
    hm = -(z("mterm") + (fa_all - z("fa_m")) + (fb_all - z("fb_m")))
    full = (pairs.alias("p").join(dsel.alias("d"), cond, "left")
            .select(*[p(kk).getField(k).alias(k) for k in keys],
                    p(bucket_col),
                    p("__bnext__").alias("bucket_next"),
                    F.round(F.coalesce(ds("dot"), F.lit(0))
                            / F.sqrt(p("sq") * p("sq2")), 6)
                    .alias("cosine_sim"),
                    F.round(F.coalesce(ds("matched"), F.lit(0)).cast("double")
                            / (p("nvals") + p("nvals2")
                               - F.coalesce(ds("matched"), F.lit(0))), 6)
                    .alias("jaccard_sim"),
                    F.round(F.greatest(hm - (ha + hb) / 2, F.lit(0.0)), 6)
                    .alias("jsd")))
    return OmigoDF(full)


def distribution_drift_sql_duck(table: str, key_cols, bucket_col: str,
                                value_col: str) -> str:
    keys = ", ".join(key_cols)
    on_keys = " AND ".join(f"a.{k} IS NOT DISTINCT FROM p.{k}" for k in key_cols)
    on_keys_b = " AND ".join(f"b.{k} IS NOT DISTINCT FROM p.{k}"
                             for k in key_cols)
    p_keys = ", ".join(f"p.{k}" for k in key_cols)
    return f"""
WITH c AS (SELECT {keys}, {bucket_col} AS bkt, {value_col} AS v,
                  COUNT(*) AS cnt
           FROM {table} WHERE {bucket_col} IS NOT NULL
           GROUP BY {keys}, {bucket_col}, {value_col}),
n AS (SELECT {keys}, bkt, SUM(cnt * cnt) AS sq, COUNT(*) AS nvals,
             SUM(cnt) AS tot, SUM(cnt * log2(cnt)) AS hterm
      FROM c GROUP BY {keys}, bkt),
p AS (SELECT {keys}, bkt, sq, nvals, tot, hterm,
             lead(bkt) OVER (PARTITION BY {keys} ORDER BY bkt) AS bnext,
             lead(sq) OVER (PARTITION BY {keys} ORDER BY bkt) AS sq2,
             lead(nvals) OVER (PARTITION BY {keys} ORDER BY bkt) AS nvals2,
             lead(tot) OVER (PARTITION BY {keys} ORDER BY bkt) AS tot2,
             lead(hterm) OVER (PARTITION BY {keys} ORDER BY bkt) AS hterm2
      FROM n QUALIFY bnext IS NOT NULL),
d AS (SELECT {p_keys}, p.bkt, p.bnext,
             SUM(a.cnt * b.cnt) AS dot, COUNT(*) AS matched,
             SUM(((a.cnt / p.tot + b.cnt / p.tot2) / 2)
                 * log2((a.cnt / p.tot + b.cnt / p.tot2) / 2)) AS mterm,
             SUM((a.cnt / p.tot / 2) * log2(a.cnt / p.tot / 2)) AS fa_m,
             SUM((b.cnt / p.tot2 / 2) * log2(b.cnt / p.tot2 / 2)) AS fb_m
      FROM p JOIN c a ON {on_keys} AND a.bkt = p.bkt
             JOIN c b ON {on_keys_b} AND b.bkt = p.bnext
                        AND b.v IS NOT DISTINCT FROM a.v
      GROUP BY {p_keys}, p.bkt, p.bnext)
SELECT {p_keys}, p.bkt AS {bucket_col}, p.bnext AS bucket_next,
       round(COALESCE(d.dot, 0) / sqrt(p.sq * p.sq2), 6) AS cosine_sim,
       round(CAST(COALESCE(d.matched, 0) AS DOUBLE)
             / (p.nvals + p.nvals2 - COALESCE(d.matched, 0)), 6)
           AS jaccard_sim,
       round(greatest(
           -(COALESCE(d.mterm, 0)
             + (p.hterm / (2 * p.tot) - (1 + log2(p.tot)) / 2
                - COALESCE(d.fa_m, 0))
             + (p.hterm2 / (2 * p.tot2) - (1 + log2(p.tot2)) / 2
                - COALESCE(d.fb_m, 0)))
           - ((log2(p.tot) - p.hterm / p.tot)
              + (log2(p.tot2) - p.hterm2 / p.tot2)) / 2,
           0), 6) AS jsd
FROM p LEFT JOIN d ON {" AND ".join(f"d.{k} IS NOT DISTINCT FROM p.{k}"
                                     for k in key_cols)}
                   AND d.bkt = p.bkt
"""


# -------------------------------------------------------- trend detection
def _stats_exprs(dialect: str, arr: str, s: str = "s0",
                 m: str = "m0") -> dict[str, str]:
    """Robust trailing-window stats over a (sorted) numeric list — the
    reference's computeStats (TrendsAnalysis.scala:807-819): population
    stddev, index-based median, and 'mad' = IQR by its (n*q).toInt
    indexing. One definition, two dialects; every fold runs over the
    SORTED list so the float summation order is identical in Spark and
    DuckDB (exact hash comparability). ``s``/``m`` name the sorted-list
    and mean bindings the q_at/var expressions reference (callers that
    stage several metrics side by side pass distinct names)."""
    if dialect == "spark":
        n = f"size({arr})"
        srt = f"sort_array({arr})"
        # greatest(n, 1): the let-binding evaluates eagerly even when the
        # CASE later discards it, and ANSI mode faults on 0/0; for n > 0
        # the value is unchanged, so both engines still agree bit-for-bit
        mean = f"aggregate({arr}, 0.0D, (a, x) -> a + x) / greatest({n}, 1)"

        def q_at(q):
            return f"element_at({s}, CAST({n} * {q} AS INT) + 1)"
        var = (f"aggregate({arr}, 0.0D, (a, x) -> a + (x - {m}) * (x - {m}))"
               f" / greatest({n}, 1)")
    else:
        n = f"len({arr})"
        srt = f"list_sort({arr})"
        mean = f"list_sum({arr}) / {n}"

        def q_at(q):
            # floor, not CAST: DuckDB CAST rounds half-up while the
            # reference's .toInt (and Spark's CAST) truncate
            return f"{s}[CAST(floor({n} * {q}) AS INT) + 1]"
        var = (f"list_sum(list_transform({arr}, x -> (x - {m}) * (x - {m})))"
               f" / {n}")
    return {"n": n, "sorted": srt, "mean": mean, "var": var, "q_at": q_at}


def trend_scores(odf: OmigoDF, key_cols, bucket_col: str,
                 learning_window: int = 7) -> OmigoDF:
    """Trailing-window spike detection — the reference trends job's core
    (TrendsAnalysis.scala:1199-1330 generateTrends): per key and time
    bucket, the event count deviates from the preceding
    ``learning_window`` buckets' robust statistics:

      * learning_mean / learning_median / learning_stddev (population) /
        learning_mad (IQR by the reference's indexing);
      * spike_stddev = max((count - mean) / stddev, 0);
      * spike_mad    = max((count - median) / mad, 0).

    Rows whose learning window is empty score 0 (the reference's
    computeStats on an empty list). The reference materializes every
    key's full (bucket, count) list in one groupByKey closure — a hot
    key OOMs; here the trailing window is a bounded collect_list window
    frame (≤ learning_window doubles per row), so state is constant per
    row and the shuffle is the counts table, not the corpus.

    NULL buckets are excluded (both dialects): a NULL time bucket has
    no position in the trailing-window order, and Spark's NULLS FIRST
    vs DuckDB's NULLS LAST would put it in DIFFERENT learning windows
    in the engine and the oracle (r10 review, same as
    distribution_drift)."""
    keys = odf._resolve(key_cols)
    odf._resolve(bucket_col)
    counts = (odf.df.where(qcol(bucket_col).isNotNull())
              .groupBy(*[qcol(k) for k in keys], qcol(bucket_col))
              .agg(F.count(F.lit(1)).cast("double").alias("cnt")))
    w = (Window.partitionBy(*[qcol(k) for k in keys]).orderBy(qcol(bucket_col))
         .rowsBetween(-learning_window, -1))
    with_arr = counts.withColumn("__arr__", F.collect_list("cnt").over(w))
    ex = _stats_exprs("spark", "s0")
    # let-bind the sorted list and its mean, then build the stats struct
    from .text import let_spark
    var_s = ex["var"]
    struct = let_spark(
        "sort_array(__arr__)", "s0",
        let_spark(
            ex["mean"], "m0",
            "CASE WHEN size(s0) = 0 THEN named_struct('mean', 0.0D,"
            " 'med', 0.0D, 'sd', 0.0D, 'mad', 0.0D) ELSE named_struct("
            "'mean', m0, "
            f"'med', {ex['q_at'](0.5)}, "
            f"'sd', sqrt({var_s}), "
            f"'mad', {ex['q_at'](0.75)} - {ex['q_at'](0.25)}) END"))
    scored = (with_arr.withColumn("__st__", F.expr(struct))
              .select(*[qcol(k) for k in keys], qcol(bucket_col),
                      F.col("cnt").cast("long").alias("n_events"),
                      F.round(F.col("__st__.mean"), 6).alias("learning_mean"),
                      F.round(F.col("__st__.med"), 6).alias("learning_median"),
                      F.round(F.col("__st__.sd"), 6).alias("learning_stddev"),
                      F.round(F.col("__st__.mad"), 6).alias("learning_mad"),
                      F.round(F.when(F.col("__st__.sd") > 0, F.greatest(
                          (F.col("cnt") - F.col("__st__.mean"))
                          / F.col("__st__.sd"), F.lit(0.0)))
                          .otherwise(0.0), 6).alias("spike_stddev"),
                      F.round(F.when(F.col("__st__.mad") > 0, F.greatest(
                          (F.col("cnt") - F.col("__st__.med"))
                          / F.col("__st__.mad"), F.lit(0.0)))
                          .otherwise(0.0), 6).alias("spike_mad")))
    return OmigoDF(scored)


def trend_scores_sql_duck(table: str, key_cols, bucket_col: str,
                          learning_window: int = 7) -> str:
    keys = ", ".join(key_cols)
    return f"""
WITH c AS (SELECT {keys}, {bucket_col},
                  CAST(COUNT(*) AS DOUBLE) AS cnt
           FROM {table} WHERE {bucket_col} IS NOT NULL
           GROUP BY {keys}, {bucket_col}),
a AS (SELECT {keys}, {bucket_col}, cnt,
             list_sort(COALESCE(list(cnt) OVER (PARTITION BY {keys}
                 ORDER BY {bucket_col}
                 ROWS BETWEEN {learning_window} PRECEDING AND 1 PRECEDING),
                 [])) AS s0
      FROM c),
m AS (SELECT *, CASE WHEN len(s0) = 0 THEN 0.0
                     ELSE list_sum(s0) / len(s0) END AS m0 FROM a),
st AS (SELECT {keys}, {bucket_col}, cnt,
              CASE WHEN len(s0) = 0 THEN 0.0 ELSE m0 END AS mean,
              CASE WHEN len(s0) = 0 THEN 0.0
                   ELSE s0[CAST(floor(len(s0) * 0.5) AS INT) + 1] END AS med,
              CASE WHEN len(s0) = 0 THEN 0.0
                   ELSE sqrt(list_sum(list_transform(s0,
                        x -> (x - m0) * (x - m0))) / len(s0)) END AS sd,
              CASE WHEN len(s0) = 0 THEN 0.0
                   ELSE s0[CAST(floor(len(s0) * 0.75) AS INT) + 1]
                        - s0[CAST(floor(len(s0) * 0.25) AS INT) + 1] END AS mad
       FROM m)
SELECT {keys}, {bucket_col}, CAST(cnt AS BIGINT) AS n_events,
       round(mean, 6) AS learning_mean,
       round(med, 6) AS learning_median,
       round(sd, 6) AS learning_stddev,
       round(mad, 6) AS learning_mad,
       round(CASE WHEN sd > 0 THEN greatest((cnt - mean) / sd, 0.0)
                  ELSE 0.0 END, 6) AS spike_stddev,
       round(CASE WHEN mad > 0 THEN greatest((cnt - med) / mad, 0.0)
                  ELSE 0.0 END, 6) AS spike_mad
FROM st
"""


# ---------------------------------------------------- sequence statistics
def sequence_stats(odf: OmigoDF, key_cols, seq_col: str, metric_cols,
                   minus_window: int = 3,
                   inference_col: str | None = None) -> OmigoDF:
    """Ordered-sequence prefix statistics with shrinking windows — the
    reference trends job's generateDictSequenceStats
    (TrendsAnalysis.scala:969-1070) and generateStatsSequenceStats
    (:1072-1197) in one operator. Input is one row per (keys..., seq)
    carrying pre-aggregated numeric metrics (the reference's dict/stats
    tables); for every w in 0..minus_window with len(sequence)-w > 0,
    the last w elements are held out and the PREFIX (sequence sorted by
    ``seq_col``, minus the held-out tail) yields per metric: min, max,
    mean, index-median, population stddev, 'mad' (IQR by (n*q).toInt
    indexing), mean/stddev and stddev/mean (-1 sentinels on zero
    denominators) — the reference's computeStats ladder.

    ``inference_col`` (the generateDictSequenceStats variant; must be
    one of ``metric_cols``) additionally scores the HELD-OUT tail
    against the prefix maximum: percIncreaseMax = value/max when value
    exceeds a positive max (the raw value when max <= 0, else 0), and
    returns the tail's mean and index-median of those scores (-1 when
    the tail is empty, i.e. w = 0).

    Scale: the reference's groupByKey materializes every key's full
    (seq, metrics) list in one Scala closure; here ONE shuffle builds a
    per-key struct array whose length is the key's SEQUENCE-BUCKET
    count (time buckets by construction — bounded state, not the
    corpus), and every window/stat is a map-side array expression over
    slices of it. Output is keys x min(minus_window+1, n) rows. Floats
    fold over SORTED slices so Spark and DuckDB sum in the same order
    (exact hash comparability)."""
    keys = odf._resolve(key_cols)
    mets = odf._resolve(metric_cols)
    odf._resolve(seq_col)
    if inference_col is not None and inference_col not in mets:
        raise ValueError("sequence_stats: inference_col must be one of "
                         "metric_cols")
    # ONE ordered struct array per key: every metric list is a slice of
    # the same (seq, metrics...) ordering, so prefix membership is
    # identical across metrics (and across engines)
    fields = [qcol(seq_col).alias("k")] + \
        [qcol(m).cast("double").alias(f"v{i}") for i, m in enumerate(mets)]
    g = (odf.df.groupBy(*keys)
         .agg(F.sort_array(F.collect_list(F.struct(*fields))).alias("__sc__"),
              F.count(F.lit(1)).alias("__n__")))
    e = (g.select(*keys, "__sc__", "__n__",
                  F.explode(F.sequence(
                      F.lit(0),
                      F.least(F.lit(int(minus_window)),
                              (F.col("__n__") - 1).cast("int"))))
                  .alias("minus_window_value"))
         .withColumn("__pn__",
                     (F.col("__n__") - F.col("minus_window_value"))
                     .cast("int")))
    from .text import let_spark
    st_cols = []
    for i, m in enumerate(mets):
        ex = _stats_exprs("spark", "s0")
        struct = let_spark(
            f"sort_array(transform(slice(__sc__, 1, __pn__), x -> x.v{i}))",
            "s0",
            let_spark(
                ex["mean"], "m0",
                "named_struct("
                "'mean', m0, "
                f"'med', {ex['q_at'](0.5)}, "
                f"'sd', sqrt({ex['var']}), "
                f"'mad', {ex['q_at'](0.75)} - {ex['q_at'](0.25)}, "
                "'mn', element_at(s0, 1), "
                "'mx', element_at(s0, size(s0)))"))
        st_cols.append(F.expr(struct).alias(f"__st_{i}__"))
    staged = e.select(*keys, "__sc__", "__pn__", "minus_window_value",
                      *st_cols)
    out_cols = [*[qcol(k) for k in keys],
                F.col("minus_window_value").cast("long")
                .alias("minus_window_value"),
                F.col("__pn__").cast("long").alias("num_count")]
    for i, m in enumerate(mets):
        st = f"__st_{i}__"
        sd, mean = F.col(f"{st}.sd"), F.col(f"{st}.mean")
        out_cols += [
            F.round(F.col(f"{st}.mn"), 6).alias(f"{m}_min"),
            F.round(F.col(f"{st}.mx"), 6).alias(f"{m}_max"),
            F.round(mean, 6).alias(f"{m}_mean"),
            F.round(F.col(f"{st}.med"), 6).alias(f"{m}_median"),
            F.round(sd, 6).alias(f"{m}_stddev"),
            F.round(F.col(f"{st}.mad"), 6).alias(f"{m}_mad"),
            F.round(F.when(sd != 0.0, mean / sd).otherwise(-1.0), 6)
            .alias(f"{m}_mean_over_stddev"),
            F.round(F.when(mean != 0.0, sd / mean).otherwise(-1.0), 6)
            .alias(f"{m}_stddev_over_mean"),
        ]
    if inference_col is not None:
        fi = mets.index(inference_col)
        mx = f"__st_{fi}__.mx"
        inf = let_spark(
            f"sort_array(transform(slice(__sc__, __pn__ + 1, "
            f"minus_window_value), x -> "
            f"CASE WHEN x.v{fi} > {mx} THEN "
            f"CASE WHEN {mx} > 0.0D THEN x.v{fi} / {mx} ELSE x.v{fi} END "
            "ELSE 0.0D END))",
            "infs",
            "named_struct("
            "'pm', IF(size(infs) > 0, "
            "aggregate(infs, 0.0D, (a, x) -> a + x) / size(infs), -1.0D), "
            "'pmed', IF(size(infs) > 0, "
            "element_at(infs, CAST(size(infs) * 0.5 AS INT) + 1), -1.0D))")
        staged = staged.withColumn("__inf__", F.expr(inf))
        out_cols += [
            F.round(F.col("__inf__.pm"), 6).alias("perc_over_max_mean"),
            F.round(F.col("__inf__.pmed"), 6).alias("perc_over_max_median"),
        ]
    return OmigoDF(staged.select(*out_cols))


def sequence_stats_sql_duck(table: str, key_cols, seq_col: str, metric_cols,
                            minus_window: int = 3,
                            inference_col: str | None = None) -> str:
    """DuckDB replay of sequence_stats: lists ordered by the full
    (seq, metrics...) tuple so tie order matches Spark's struct sort."""
    keys = ", ".join(key_cols)
    mets = list(metric_cols)
    order = ", ".join([seq_col] + mets)
    lists = ", ".join(
        f"list(CAST({m} AS DOUBLE) ORDER BY {order}) AS l_{i}"
        for i, m in enumerate(mets))
    sorts = ", ".join(
        f"list_sort(l_{i}[1 : pn]) AS s0_{i}" for i in range(len(mets)))
    means = ", ".join(
        f"CASE WHEN len(s0_{i}) = 0 THEN 0.0 "
        f"ELSE list_sum(s0_{i}) / len(s0_{i}) END AS m0_{i}"
        for i in range(len(mets)))
    out = [keys, "CAST(w AS BIGINT) AS minus_window_value",
           "CAST(pn AS BIGINT) AS num_count"]
    for i, m in enumerate(mets):
        ex = _stats_exprs("duckdb", f"s0_{i}", s=f"s0_{i}", m=f"m0_{i}")
        sd = f"sqrt({ex['var']})"
        out += [
            f"round(s0_{i}[1], 6) AS {m}_min",
            f"round(s0_{i}[len(s0_{i})], 6) AS {m}_max",
            f"round(m0_{i}, 6) AS {m}_mean",
            f"round({ex['q_at'](0.5)}, 6) AS {m}_median",
            f"round({sd}, 6) AS {m}_stddev",
            f"round({ex['q_at'](0.75)} - {ex['q_at'](0.25)}, 6) AS {m}_mad",
            f"round(CASE WHEN {sd} <> 0 THEN m0_{i} / {sd} "
            f"ELSE -1.0 END, 6) AS {m}_mean_over_stddev",
            f"round(CASE WHEN m0_{i} <> 0 THEN {sd} / m0_{i} "
            f"ELSE -1.0 END, 6) AS {m}_stddev_over_mean",
        ]
    inf_stage = ""
    if inference_col is not None:
        fi = mets.index(inference_col)
        mx = f"s0_{fi}[len(s0_{fi})]"
        inf_stage = (
            f", list_sort(list_transform(l_{fi}[pn + 1 : CAST(n AS INT)], "
            f"c -> CASE WHEN c > {mx} THEN "
            f"CASE WHEN {mx} > 0 THEN c / {mx} ELSE c END "
            "ELSE 0.0 END)) AS infs")
        out += [
            "round(CASE WHEN len(infs) > 0 THEN list_sum(infs) / len(infs) "
            "ELSE -1.0 END, 6) AS perc_over_max_mean",
            "round(CASE WHEN len(infs) > 0 THEN "
            "infs[CAST(floor(len(infs) * 0.5) AS INT) + 1] "
            "ELSE -1.0 END, 6) AS perc_over_max_median",
        ]
    proj = ",\n       ".join(out)
    return f"""
WITH qg AS (SELECT {keys}, {lists}, COUNT(*) AS n
            FROM {table} GROUP BY {keys}),
qe AS (SELECT *, unnest(range(0, {int(minus_window)} + 1)) AS w FROM qg),
qs AS (SELECT {keys}, w, CAST(n - w AS INT) AS pn, n,
              {", ".join(f"l_{i}" for i in range(len(mets)))}
       FROM qe WHERE n - w > 0),
qx AS (SELECT *, {sorts} FROM qs),
qm AS (SELECT *, {means}{inf_stage} FROM qx)
SELECT {proj} FROM qm
"""
