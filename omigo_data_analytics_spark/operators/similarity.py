"""Similarity search over embedding columns (array<float>).

Two paths, per the standard ANN playbook:
  * brute-force cosine top-k — the exactness baseline. Corpus stays
    partitioned; the (small) query set is broadcast; per-partition the dot
    products are pure SQL expressions (zip_with/aggregate — codegen, no
    Python); top-k per query via window rank. At 100 TB the cost is one
    scan of the corpus per query batch.
  * LSH-bucketed (random hyperplane signs) — the scale path: corpus and
    queries hash to sign-pattern buckets (map-side expressions), candidates
    are bucket-equijoins, exact cosine re-ranks candidates only.

Hyperplane constants come from a seeded PRNG so results are reproducible
(and oracle-checkable: the plane matrix can be inlined into SQL).
"""

# NOTE: no `from __future__ import annotations` here — pandas_udf reads
# real annotation objects to infer the UDF eval type, and the future
# import would stringify them.
import random

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..core.colutils import qcol, quote

from ..core.dataframe import OmigoDF

_rng = random.Random(20260813)
NUM_PLANES = 6      # planes per hash table (bucket id = sign pattern, 2^6 buckets)
NUM_TABLES = 8      # independent tables; candidate iff bucket-match in ANY table
MAX_DIM = 64
# NUM_TABLES * NUM_PLANES hyperplanes over MAX_DIM dims, values in [-1, 1)
HYPERPLANES = [[_rng.uniform(-1.0, 1.0) for _ in range(MAX_DIM)]
               for _ in range(NUM_TABLES * NUM_PLANES)]


def _dot_expr(a: str, b: str) -> str:
    """Dot product with strict left-to-right double accumulation (matches
    the DuckDB oracle's list_reduce order). An unrolled fixed-dim sum (64
    try_element_at terms) was measured 5-7x SLOWER than this higher-order
    form on 2M pairs — the interpreted aggregate runs one tight pass over
    the primitive array while unrolled element access pays per-term null
    checks and falls out of JIT inlining."""
    return (f"aggregate(zip_with(CAST({a} AS ARRAY<DOUBLE>), CAST({b} AS ARRAY<DOUBLE>), "
            f"(x, y) -> x * y), CAST(0 AS DOUBLE), (acc, v) -> acc + v)")


def _norm_expr(a: str) -> str:
    return f"sqrt({_dot_expr(a, a)})"


def cosine_expr(a: str, b: str, dim: int | None = None) -> str:
    """Zero-norm guard via nullif (r10 review): under Spark 4's default
    ANSI mode an unguarded division THROWS DIVIDE_BY_ZERO on the first
    all-zeros embedding, killing the job — a NULL cosine instead falls
    out of every >= threshold screen, and the nearest-centroid
    comparator falls through to the id tie-break (deterministic
    min-id assignment). The DuckDB twin applies the same nullif. `dim`
    is accepted for API stability but unused.

    The operators never inline this per pair: they score through
    ``_pair_cos`` with each side's norm hoisted by ``_vec_side``. The
    higher-order norm folds are CodegenFallback (interpreted per
    evaluation), so recomputing them per PAIR instead of per ROW
    multiplies the dominant cost of every similarity pass."""
    return (f"({_dot_expr(a, b)}) / "
            f"nullif(({_norm_expr(a)}) * ({_norm_expr(b)}), "
            f"CAST(0 AS DOUBLE))")


def _cos_with_norms(a: str, b: str, na: str, nb: str) -> str:
    """cosine_expr with both norms supplied as precomputed per-row
    columns — value-identical (same dot fold, same nullif zero guard,
    the norm columns are built from the same ``_norm_expr`` fold), but
    each side's norm is evaluated once per row instead of once per
    joined pair (r15, guide §1.2 per-task work)."""
    return (f"({_dot_expr(a, b)}) / "
            f"nullif(({na}) * ({nb}), CAST(0 AS DOUBLE))")


def _fold_dot_py(u, v) -> float:
    """Driver-side replica of ``_dot_expr``'s strict left-to-right
    double fold: Python floats ARE IEEE doubles and ``acc + x * y``
    performs the identical correctly-rounded ops in the identical
    order, so the result is bit-equal to evaluating the SQL fold on
    the same values."""
    acc = 0.0
    for x, y in zip(u, v):
        acc = acc + float(x) * float(y)
    return acc


# ---------------------------------------------------- the cosine skeleton
# Every cosine operator (the top-k family, embedding_dup_pairs, semdedup,
# decontaminate_semantic, k-means and the IVF quantizer) is built from
# these helpers: one way to hoist and screen a side (_vec_side), one pair
# score (_pair_cos), one nearest-centroid ranking (_nearest_lists) and
# one per-query top-k (_topk).

def _vec_side(df, keep: list, vec_col: str, v: str, n: str,
              checkpoint: bool = False):
    """One side of a cosine pair: the ``keep`` columns, the vector as
    ARRAY<DOUBLE> under the safe alias ``v`` and its norm as ``n`` — one
    ``_norm_expr`` fold per row, reused by every pair the row meets —
    and only the rows that can score.

    The one screen is ``n > 0 AND n - n = 0``: it drops NULL, zero-norm
    and non-finite vectors. A zero norm has no cosine (and an unguarded
    ANSI division would throw). A NaN cosine sorts above every double in
    Spark and DuckDB, so a corrupt vector would pass every ``>=
    threshold`` and top every ranking.

    Spark pushes the screen below the projection, so it re-evaluates the
    norm there: the screen let-binds it (the bare form would run the
    interpreted fold three times). ``checkpoint`` materializes the side
    (``localCheckpoint``) BEFORE the screen, which then reads the stored
    norm; a side whose vector is itself an expensive expression (a
    hash embedding) needs it, or the pushed screen re-runs that
    expression per row. The norm expression names the alias only, never
    the raw user column (hostile-name rule)."""
    from .text import let_spark
    side = (df.select(*keep, F.expr(f"CAST({quote(vec_col)} AS ARRAY<DOUBLE>)")
                      .alias(v))
            .withColumn(n, F.expr(_norm_expr(quote(v)))))
    if checkpoint:
        side = side.localCheckpoint(eager=False)
    return side.where(F.expr(let_spark(quote(n), "__s__",
                                       "__s__ > 0 AND __s__ - __s__ = 0")))


def _pair_cos(a: str, b: str, na: str, nb: str, precision: int):
    """The one pair score: ``_cos_with_norms`` over two ``_vec_side``
    columns and their norms, rounded to ``precision`` BEFORE any
    threshold or ranking (ties are decided on the published value)."""
    return F.round(F.expr(_cos_with_norms(a, b, na, nb)), precision)


def _nearest_lists(vec: str, cents: list, n: int) -> str:
    """SQL array of ``vec``'s ``n`` nearest centroids as (id, cos)
    structs: rounded cosine descending, ties on the lower centroid id.
    ``[0]`` of the n=1 slice is the k-means / IVF list assignment."""
    return (f"slice(array_sort({_ivf_cands_expr(vec, cents)}, {_IVF_SORT}), "
            f"1, {int(n)})")


def _probe_lists(df, vec: str, cents: list, nprobe: int,
                 out: str = "__list__"):
    """One row per (row of ``df``, probed list): the ids of ``vec``'s
    ``nprobe`` nearest centroids, exploded into ``out``."""
    return df.withColumn(out, F.explode(F.expr(
        f"transform({_nearest_lists(vec, cents, nprobe)}, s -> s.id)")))


def _topk(joined, k: int, id_col: str, precision: int,
          distinct: bool = False) -> OmigoDF:
    """Score the candidate pairs of ``joined`` (a corpus side ``__cv__``
    / ``__cn__`` joined to a query side ``query_id`` / ``__qv__`` /
    ``__qn__``) and keep each query's ``k`` best: cosine descending,
    ties on the corpus id. ``distinct`` drops repeated candidates (a
    pair that met in several LSH buckets)."""
    scored = joined.select("query_id", qcol(id_col),
                           _pair_cos("__cv__", "__qv__", "__cn__", "__qn__",
                                     precision).alias("cosine"))
    if distinct:
        scored = scored.dropDuplicates(["query_id", id_col])
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                               qcol(id_col).asc())
    return OmigoDF(
        scored.withColumn("rank", F.row_number().over(w))
              .where(F.col("rank") <= k)
              .select("query_id", qcol(id_col), "rank", "cosine"))


def _query_side(queries: OmigoDF, qid: str, vec_col: str):
    return _vec_side(queries.df, [qcol(qid).alias("query_id")], vec_col,
                     "__qv__", "__qn__")


def detect_dim(df, vec_col: str) -> int | None:
    """Embedding dimension from one row — a DRIVER JOB over the input
    plan, so the operator paths no longer call it (the dot/norm
    expressions never needed dim; each API call was paying one wasted
    full-plan evaluation). Kept as a public helper for callers that
    want the dimension."""
    row = df.select(F.size(qcol(vec_col)).alias("d")).first()
    return int(row["d"]) if row and row["d"] is not None and row["d"] > 0 else None


def cosine_topk(corpus: OmigoDF, queries: OmigoDF, k: int,
                id_col: str = "vec_id", vec_col: str = "embedding",
                query_id_col: str | None = None,
                precision: int = 6) -> OmigoDF:
    """Exact top-k cosine neighbors in `corpus` for each row of `queries`.

    Output: (query_id, vec_id, rank, cosine). Deterministic: cosine is
    rounded to `precision` BEFORE ranking and ties break on corpus id.
    NULL, zero-norm and non-finite vectors are screened on both sides
    (``_vec_side``): they never rank.
    """
    from .text import ensure_min_parallelism
    q = _query_side(queries, query_id_col or id_col, vec_col)
    c = _vec_side(ensure_min_parallelism(corpus.df), [qcol(id_col)], vec_col,
                  "__cv__", "__cn__")
    return _topk(c.crossJoin(F.broadcast(q)), k, id_col, precision)


def _buckets_col(vec_col: str, num_planes: int = NUM_PLANES,
                 num_tables: int = NUM_TABLES):
    """All hash-table bucket ids for a vector as ONE array column, via a
    vectorized Pandas UDF: the whole Arrow batch of vectors multiplies the
    plane matrix in one numpy matmul (BLAS), then sign bits pack into
    per-table ints offset by (table << num_planes). This replaced an
    inlined-SQL-expression version whose 48 higher-order dot products per
    row ran interpreted — the one hot spot where a vectorized UDF beats
    Catalyst expressions. Assumes uniform embedding dimension (true for
    any real embedding column)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    P = np.asarray(HYPERPLANES[:num_tables * num_planes], dtype=np.float64)
    weights = (1 << np.arange(num_planes)).astype(np.int64)
    offsets = (np.arange(num_tables) << num_planes).astype(np.int64)

    @pandas_udf(ArrayType(IntegerType()))
    def _buckets(v: pd.Series) -> pd.Series:
        # NULL vectors can't bucket: np.stack over a batch containing
        # None raised ValueError (r11 NULL sweep). Mask them out and
        # emit NULL bucket arrays — downstream explode() then drops the
        # rows from candidate generation, mirroring the norm>0 screens
        # on the exact paths.
        # non-finite vectors can't bucket either (r11 extreme sweep):
        # numpy's NaN >= 0 is False while SQL's NaN-is-greatest makes it
        # True, so a NaN component would hash to DIFFERENT buckets in
        # engine and oracle — and a corrupt vector has no meaningful
        # sign pattern anyway. Same exclusion as the exact paths'
        # finite-norm screens.
        # zero-LENGTH vectors too (r12 advice): isfinite([]).all() is
        # vacuously True, so an empty array passed the r11 mask and
        # np.stack then raised on the mixed dims — the same batch-kill
        # the mask exists to prevent. An empty embedding has no sign
        # pattern (it is the zero-norm case of the exact paths).
        mask = np.array([x is not None and len(x) > 0 and np.isfinite(
            np.asarray(x, dtype=np.float64)).all() for x in v],
            dtype=bool)
        if not mask.any():
            return pd.Series([None] * len(v), dtype=object)
        V = np.stack([np.asarray(x, dtype=np.float64) for x in v[mask]])
        Pt = P[:, :V.shape[1]]
        # dim-sequential accumulation, NOT a BLAS matmul: pairwise/SIMD
        # summation reorders float adds, while this loop is the exact
        # left-to-right order a SQL sum-of-products evaluates in — it
        # makes the bucket signs bit-reproducible by the DuckDB oracle
        # (still vectorized over the batch; 64 fused row ops, same speed
        # class as the matmul at these plane counts)
        acc = np.zeros((len(V), Pt.shape[0]))
        for i in range(V.shape[1]):
            acc += V[:, i:i + 1] * Pt[:, i][None, :]
        S = acc >= 0                                 # (n, T*P) sign bits
        B = (S.reshape(len(V), num_tables, num_planes) @ weights) + offsets
        vals = iter(list(B.astype(np.int32)))
        # positional rebuild, not boolean-mask setitem: pandas putmask
        # rejects ragged array-valued assignment
        return pd.Series([next(vals) if m else None for m in mask],
                         dtype=object)

    return _buckets(qcol(vec_col))


def cosine_topk_lsh(corpus: OmigoDF, queries: OmigoDF, k: int,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    query_id_col: str | None = None, num_planes: int = NUM_PLANES,
                    num_tables: int = NUM_TABLES, precision: int = 6) -> OmigoDF:
    """Approximate top-k: a vector is a candidate for a query iff they share
    a bucket in ANY of `num_tables` independent hyperplane tables (queries
    additionally probe every 1-bit-flipped bucket per table); exact cosine
    re-ranks candidates. The corpus is scanned once, emitting `num_tables`
    (bucket, id, vec) rows per vector; queries are broadcast, so the only
    shuffle is the final per-query top-k."""
    from .text import ensure_min_parallelism
    # probe buckets: per table, own bucket + each 1-bit flip (table offset
    # bits sit above the plane bits, so flips stay within the table).
    # Norms are hoisted per VECTOR, before the (table, bucket) explosion.
    q = (_query_side(queries, query_id_col or id_col, vec_col)
         .withColumn("__bs__", _buckets_col("__qv__", num_planes, num_tables))
         .withColumn("bucket", F.explode(F.expr(
             f"flatten(transform(__bs__, b -> array(b, "
             + ", ".join(f"b ^ {1 << p}" for p in range(num_planes)) + ")))")))
         .drop("__bs__"))
    c = (_vec_side(ensure_min_parallelism(corpus.df), [qcol(id_col)], vec_col,
                   "__cv__", "__cn__")
         .withColumn("__bs__", _buckets_col("__cv__", num_planes, num_tables))
         .withColumn("bucket", F.explode("__bs__")).drop("__bs__"))
    return _topk(c.join(F.broadcast(q), "bucket"), k, id_col, precision,
                 distinct=True)


# ------------------------------------------------------------------- IVF
IVF_CENTROIDS = 16   # coarse-quantizer size (C lists)
IVF_NPROBE = 4       # lists probed per query


def _ivf_cands_expr(vec_col: str, centroids: list) -> str:
    """Array of (centroid id, rounded cosine(row vec, centroid)) structs as
    ONE inlined expression: the coarse quantizer is driver-resident (like
    any real IVF index) and ships to executors as literals inside the plan,
    so list assignment is a map-only pass — no shuffle, no UDF.

    The higher-order dot/norm folds are CodegenFallback (interpreted per
    evaluation), so the r15 form evaluates exactly ONE fold per centroid
    (the dot): each centroid's norm is precomputed on the driver as a
    DOUBLE literal (``_fold_dot_py`` + ``math.sqrt`` reproduce the SQL
    fold and JVM sqrt bit-exactly — both are sequences of correctly-
    rounded IEEE-double ops in the same order), and the row's norm is
    evaluated once per ROW via a single-element transform binding
    instead of once per centroid. Measured 2.8x faster than the
    all-inline form on a 100k-row assignment pass, zero value diffs."""
    if not centroids:
        # empty array() literal types as VOID and every field access on it
        # is an AnalysisException far from the caller — fail loud here
        raise ValueError(
            "centroid list is empty — train centroids on a non-empty "
            "corpus (ivf_centroids/kmeans_centroids) before assignment")
    import math

    def _dlit(x: float) -> str:
        # the SQL fold overflows to ±Infinity on huge-but-finite
        # components (e.g. 1e154^2); render non-finite norms as the
        # tokens the parser accepts, not repr()'s bare `inf`/`nan`
        if math.isinf(x):
            return f"double('{'-' if x < 0 else ''}Infinity')"
        if math.isnan(x):
            return "double('NaN')"
        return f"CAST({x!r} AS DOUBLE)"

    elems = []
    for cid, vec in centroids:
        arr = "CAST(array(" + ", ".join(repr(float(x)) for x in vec) + ") AS ARRAY<DOUBLE>)"
        cn = math.sqrt(_fold_dot_py(vec, vec))
        elems.append(f"named_struct('id', CAST({int(cid)} AS BIGINT), 'v', {arr}, "
                     f"'n', {_dlit(cn)})")
    cents = "array(" + ", ".join(elems) + ")"
    cos = _cos_with_norms(quote(vec_col), "c.v", "__rn__", "c.n")
    # bind the row norm once per row: transform over a 1-element array is
    # the SQL let-binding — `__rn__` is evaluated once and captured by the
    # inner lambda, not re-evaluated per centroid
    return (f"transform(array({_norm_expr(quote(vec_col))}), "
            f"__rn__ -> transform({cents}, c -> named_struct("
            f"'id', c.id, 'cos', round({cos}, 6))))[0]")


_IVF_SORT = ("(l, r) -> if(l.cos > r.cos, -1, if(l.cos < r.cos, 1, "
             "if(l.id < r.id, -1, if(l.id > r.id, 1, 0))))")


def ivf_centroids(corpus: OmigoDF, num_centroids: int = IVF_CENTROIDS,
                  id_col: str = "vec_id", vec_col: str = "embedding") -> list:
    """Deterministic seed centroids: the `num_centroids` lowest-id corpus
    vectors (ORDER BY id LIMIT C — reproducible and oracle-expressible).
    A k-means-refined list plugs in here unchanged; only this list is
    driver-resident, never the corpus."""
    # seeds pass the cosine sides' one screen (_vec_side): a NULL or
    # non-finite seed renders as unparseable SQL (the bare token `nan`)
    # and poisons every cosine (r11 extreme-values sweep); a zero seed
    # has no cosine at all, so the id tie-break would hand it every row
    rows = (_vec_side(corpus.df, [qcol(id_col), qcol(vec_col)], vec_col,
                      "__sv__", "__sn__")
            .orderBy(qcol(id_col)).limit(num_centroids).collect())
    if not rows:
        # without this, downstream centroid-literal expressions build an
        # empty array() typed VOID and every consumer (kmeans_assign,
        # semdedup, IVF probes, clustered decontamination) dies with an
        # inscrutable INVALID_EXTRACT_BASE_FIELD_TYPE AnalysisException —
        # the r11 empty-input sweep's finding. An accidentally-empty
        # corpus (over-pruned scan, bad filter) should say so plainly.
        raise ValueError(
            "ivf_centroids: corpus has no rows — cannot seed centroids "
            "(check upstream filters/pruning; an empty corpus cannot be "
            "clustered)")
    return [(r[0], list(r[1])) for r in rows]


def train_ivf_centroids(corpus: OmigoDF,
                        num_centroids: int | None = IVF_CENTROIDS,
                        iters: int = 3, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        sample_fraction: float | None = None) -> list:
    """k-means (Lloyd) refinement of the IVF coarse quantizer — now a
    thin alias for ``kmeans_centroids`` (r8 unification), which means a
    trained/persisted IVF index is bit-reproducible at any partition
    count (the original float-avg update here was order-dependent:
    rebuilding the same index on the same data could place borderline
    vectors in different lists run-to-run).

    ``num_centroids=None`` derives k = clamp(√n, 2, 4096) from one
    corpus count — the standard IVF sizing rule (per-query probe cost
    k + nprobe·n/k minimizes near √n), same auto-k affordance as
    ``dedup.semdedup`` / ``curation.decontaminate_semantic`` (r11).
    The int default stays ``IVF_CENTROIDS`` because an index build is
    an explicit, documented-k API; None is the opt-in."""
    if num_centroids is None:
        from .curation import _auto_eval_k
        num_centroids = _auto_eval_k(corpus.df.count())
    return kmeans_centroids(corpus, num_centroids, iters, id_col,
                            vec_col, sample_fraction)


def cosine_topk_ivf(corpus: OmigoDF, queries: OmigoDF, k: int,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    query_id_col: str | None = None,
                    num_centroids: int = IVF_CENTROIDS, nprobe: int = IVF_NPROBE,
                    centroids: list | None = None, precision: int = 6) -> OmigoDF:
    """IVF-flat approximate top-k: corpus vectors are assigned map-side to
    their nearest centroid list; each query probes its `nprobe` nearest
    lists and exact cosine re-ranks only those lists' members.

    Scale shape: assignment is embarrassingly parallel (centroid literals
    ride the plan), the candidate join shuffles corpus rows by list id with
    the (small) probe set broadcast, and the only other shuffle is the
    final per-query top-k. Expected work per query ~ nprobe/C of the
    corpus vs 1.0 for brute force."""
    from .text import ensure_min_parallelism
    cents = centroids if centroids is not None else ivf_centroids(
        corpus, num_centroids, id_col, vec_col)
    c = (_vec_side(ensure_min_parallelism(corpus.df), [qcol(id_col)], vec_col,
                   "__cv__", "__cn__")
         .withColumn("__list__", F.expr(
             f"{_nearest_lists('__cv__', cents, 1)}[0].id")))
    q = _probe_lists(_query_side(queries, query_id_col or id_col, vec_col),
                     "__qv__", cents, nprobe)
    return _topk(c.join(F.broadcast(q), "__list__"), k, id_col, precision)


# ------------------------------------------------------ persisted IVF index
def build_ivf_index(corpus: OmigoDF, path: str,
                    num_centroids: int = IVF_CENTROIDS, iters: int = 3,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    sample_fraction: float | None = None) -> list:
    """Train the coarse quantizer and PERSIST the index: centroids as a
    tiny parquet at ``{path}/centroids`` and the corpus re-written at
    ``{path}/assignments`` partitioned by list id.

    This is the train-once / query-many shape of a real IVF deployment:
    probing ``nprobe`` of ``C`` lists becomes a *partition-pruned scan* —
    the unprobed lists are never read from storage, so per-query IO is
    nprobe/C of the corpus (vs. full-scan-then-filter if assignment were
    recomputed per query). Returns the centroid list."""
    spark = corpus.df.sparkSession
    cents = train_ivf_centroids(corpus, num_centroids, iters, id_col,
                                vec_col, sample_fraction)
    (spark.createDataFrame([(int(cid), [float(x) for x in vec])
                            for cid, vec in cents],
                           "centroid_id long, vec array<double>")
     .coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids"))
    assigned = corpus.df.withColumn("__list__", F.expr(
        f"{_nearest_lists(vec_col, cents, 1)}[0].id"))
    (assigned.write.mode("overwrite").partitionBy("__list__")
     .parquet(f"{path}/assignments"))
    return cents


def load_ivf_centroids(spark, path: str) -> list:
    rows = spark.read.parquet(f"{path}/centroids").collect()
    return sorted((int(r["centroid_id"]), list(r["vec"])) for r in rows)


def cosine_topk_ivf_indexed(spark, path: str, queries: OmigoDF, k: int,
                            id_col: str = "vec_id", vec_col: str = "embedding",
                            query_id_col: str | None = None,
                            nprobe: int = IVF_NPROBE,
                            precision: int = 6) -> OmigoDF:
    """Query a persisted IVF index (build_ivf_index): probe each query's
    ``nprobe`` nearest lists and scan ONLY those partitions of the
    assignments table — the `__list__ IN (...)` filter becomes a
    PartitionFilter, so unprobed lists cost zero IO. Exact cosine
    re-ranks the probed lists' members."""
    cents = load_ivf_centroids(spark, path)
    corpus = spark.read.parquet(f"{path}/assignments")
    q = _probe_lists(_query_side(queries, query_id_col or id_col, vec_col),
                     "__qv__", cents, nprobe)
    # collect the probed list ids (tiny: <= nprobe x |queries|) so the scan
    # prunes partitions at planning time
    probed = sorted({int(r["__list__"]) for r in
                     q.select("__list__").distinct().collect()})
    c = _vec_side(corpus.where(F.col("__list__").isin(probed)),
                  ["__list__", qcol(id_col)], vec_col, "__cv__", "__cn__")
    return _topk(c.join(F.broadcast(q), "__list__"), k, id_col, precision)


# ------------------------------------------------- feature-hash embeddings
def hash_embeddings(odf: OmigoDF, col: str = "text",
                    dim: int = 64, out_col: str = "embedding",
                    normalize: bool = True,
                    lowercase: bool = True) -> OmigoDF:
    """Signed feature-hash text embeddings (the hashing trick —
    Weinberger et al. 2009, ICML): token t adds ±1 to component
    ``portable_hash(t) % dim``, sign from an independent hash bit
    (unbiased in expectation), optionally L2-normalized. Bridges the
    text corpus to every embedding operator (semdedup / k-means / ANN)
    without an external model, and deterministically: the md5-based
    portable hash gives the SAME vector in Spark and DuckDB
    (``hash_embed_hs_sql_duck`` + ``hash_embed_vec_sql_duck`` — hs in a
    CTE, vec over the column), on any partition layout. NULL text is
    treated as the empty document (zero vector) in both dialects.

    Scale shape: ENTIRELY map-side — one md5 per token, then dim
    integer-compare folds per row; no explode, no shuffle, no UDF, no
    vocabulary state. The alternative (explode → groupBy(doc, bucket))
    pays a corpus-sized shuffle for nothing. All-empty documents yield
    the zero vector (normalization guards the 0-norm).

    The whole vector is ONE nested let-bound expression: hashing,
    vector and norm are each bound as lambda variables. Binding them as
    withColumn projections instead lets CollapseProject re-inline the
    hash expression into all ``dim`` bucket folds — md5 recomputed
    dim× per token (measured 93 s for 270k tokens at sf0.1; let-bound
    ~1 s of executor time)."""
    from .text import (WS_RUN_SPARK, ensure_min_parallelism, hash_spark,
                       let_spark)
    odf._resolve([col])
    lc = "lower" if lowercase else ""
    # coalesce: split(NULL) is NULL and would propagate to a dim-NULL
    # vector (diverging from the oracle's zero vector). WS_RUN class,
    # not \s: Java's \s includes U+000B, RE2's does not (r8 advice).
    toks = (f"filter(split({lc}(coalesce({quote(col)}, '')), '{WS_RUN_SPARK}'), "
            f"x -> x != '')")
    # one struct per token: bucket + sign (md5 computed once per token;
    # the per-bucket fold below then costs only integer compares)
    sign = ("IF(pmod(CAST(conv(substring(md5(t), 16, 1), 16, 10) AS BIGINT),"
            " 2) = 0, CAST(1 AS DOUBLE), CAST(-1 AS DOUBLE))")
    hs = (f"transform({toks}, t -> named_struct("
          f"'b', pmod({hash_spark('t')}, {dim}), 's', {sign}))")
    vec = (f"transform(sequence(0, {dim - 1}), i -> "
           f"aggregate(filter(hh, x -> x.b = i), CAST(0 AS DOUBLE), "
           f"(a, x) -> a + x.s))")
    if normalize:
        body = let_spark(vec, "vv", let_spark(
            _norm_expr("vv"), "nv",
            "IF(nv = 0, vv, transform(vv, v -> v / nv))"))
    else:
        body = vec
    # without the widen, a compacted single-file corpus runs the whole
    # interpreted fold single-task (measured 132 s for 5k docs at sf0.1)
    df = (ensure_min_parallelism(odf.df)
          .withColumn(out_col, F.expr(let_spark(hs, "hh", body))))
    return OmigoDF(df)


def hash_embed_hs_sql_duck(col: str = "text", dim: int = 64,
                           lowercase: bool = True) -> str:
    """DuckDB (bucket, sign) token-struct list — md5 once per token.
    Oracles should compute this in a CTE and feed the column name to
    ``hash_embed_vec_sql_duck`` so the hashing isn't re-run per bucket."""
    from .text import WS_RUN_DUCK, hash_duck
    lc = "lower" if lowercase else ""
    toks = (f"list_filter(string_split_regex({lc}(coalesce({col}, '')), "
            f"'{WS_RUN_DUCK}'), x -> x != '')")
    sign = ("CASE WHEN CAST(('0x' || substr(md5(t), 16, 1)) AS BIGINT) % 2 "
            "= 0 THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END")
    # DuckDB % can be negative only for negative operands; the portable
    # hash is non-negative, so plain % matches Spark's pmod here
    return (f"list_transform({toks}, t -> "
            f"{{'b': {hash_duck('t')} % {dim}, 's': {sign}}})")


def norm_sql_duck(v: str) -> str:
    """DuckDB L2 norm with the engine's exact left-to-right accumulation
    — the SINGLE source of this fragment (cosine_sql_duck, the hash
    embed oracles and entry oracles all splice it): textual identity
    across call sites IS the bit-parity guarantee. Callers pass an
    already-DOUBLE[] expression or wrap in CAST themselves."""
    return (f"sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), "
            f"list_transform({v}, x -> x * x)), (acc, v) -> acc + v))")


def hash_embed_vec_sql_duck(hs: str, dim: int = 64,
                            normalize: bool = True) -> str:
    """DuckDB vector from an ``hs`` token-struct reference — identical
    folds (left-to-right), identical 0-norm guard as the Spark side."""
    from .text import let_duck
    vec = (f"list_transform(range(0, {dim}), i -> "
           f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
           f"list_transform(list_filter({hs}, x -> x.b = i), x -> x.s)), "
           f"(a, s) -> a + s))")
    if not normalize:
        return vec
    return let_duck(vec, "vv", let_duck(
        norm_sql_duck("vv"), "nv",
        "CASE WHEN nv = 0 THEN vv ELSE list_transform(vv, v -> v / nv) END"))


# ------------------------------------------------- deterministic k-means
KMEANS_QUANT = 1_000_000  # micro-unit quantization of centroid updates


def kmeans_centroids(corpus: OmigoDF, k: int = 8, iters: int = 2,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     sample_fraction: float | None = None) -> list:
    """Spherical k-means (Lloyd with cosine assignment) whose trained
    model is BIT-REPRODUCIBLE — across partition counts AND across
    engines, so the trained assignment itself is oracle-checkable (the
    float-avg IVF trainer is not: float addition is non-associative, so
    a shuffled partial-agg mean depends on arrival order).

    The update step quantizes each member component to micro-units
    (``ROUND(x * 1e6) AS BIGINT`` — Spark and DuckDB both round half
    away from zero) and sums EXACT integers, which commute; the mean
    divides once in double. Quantization error (≤ 5e-7 per component
    per round) is noise at clustering granularity and buys exactness
    everywhere else. BIGINT headroom: |x| ≤ 1e3 supports ~9e9 members
    per cluster per dimension before overflow.

    Scale shape per iteration: one map-side assignment pass (the k
    centroid literals ride the plan — no shuffle, no UDF) plus one
    partial-agg shuffle whose reduce side is k*dim cells regardless of
    corpus size. Only k centroid vectors are ever driver-resident.
    Seeds = the k lowest-id corpus vectors (deterministic and
    oracle-expressible); a cluster that loses every member keeps its
    previous centroid; centroid ids stay the seed row ids (same
    conventions as the IVF coarse quantizer). At corpus scale pass
    ``sample_fraction`` — training the quantizer on a sample is
    standard practice."""
    from .text import ensure_min_parallelism
    df = corpus.df
    if sample_fraction:
        df = df.sample(fraction=sample_fraction, seed=7)
    cents = ivf_centroids(OmigoDF(df), k, id_col, vec_col)
    base = (ensure_min_parallelism(df)
            .select(F.expr(f"CAST({quote(vec_col)} AS ARRAY<DOUBLE>)").alias("__cv__"))
            # non-finite vectors are excluded from the model fit: the
            # micro-unit quantization CAST(ROUND(x*1e6) AS BIGINT) is an
            # ANSI overflow on NaN/Inf (both engines), and a corrupt
            # member would poison its centroid anyway. Assignment still
            # covers every row (kmeans_assign does not screen).
            .where(F.expr("forall(__cv__, x -> x - x = 0.0D)")))
    q = KMEANS_QUANT
    for _ in range(iters):
        assigned = base.withColumn("__c__", F.expr(
            f"{_nearest_lists('__cv__', cents, 1)}[0].id"))
        cells = (assigned
                 .select("__c__", F.posexplode("__cv__").alias("pos", "x"))
                 .groupBy("__c__", "pos")
                 .agg(F.expr(f"sum(CAST(round(x * {q}, 0) AS BIGINT))").alias("s"),
                      F.count(F.lit(1)).alias("n"))
                 .select("__c__", "pos", F.expr(
                     f"CAST(s AS DOUBLE) / CAST(n * {q}L AS DOUBLE)").alias("m"))
                 .groupBy("__c__")
                 .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
                 .select("__c__", F.expr("transform(pm, s -> s.m)").alias("vec"))
                 .collect())
        new = [(int(r["__c__"]), [float(x) for x in r["vec"]]) for r in cells]
        survivors = {cid for cid, _ in new}
        new += [c for c in cents if c[0] not in survivors]
        cents = sorted(new)
    return cents


def kmeans_assign(odf: OmigoDF, centroids: list,
                  vec_col: str = "embedding",
                  cluster_col: str = "cluster_id",
                  cos_col: str = "cluster_cos") -> OmigoDF:
    """Nearest-centroid assignment as ONE map-side expression: the
    centroid literals ride the plan, so the pass is shuffle-free and
    UDF-free (whole-stage codegen over the primitive arrays). Ties on
    the 6-decimal rounded cosine break by centroid id — the same rule
    as the IVF quantizer, so assignments are deterministic."""
    from .text import ensure_min_parallelism
    a = F.expr(f"{_nearest_lists(vec_col, centroids, 1)}[0]")
    return OmigoDF(ensure_min_parallelism(odf.df).withColumn("__a__", a)
                   .withColumn(cluster_col, F.col("__a__.id"))
                   .withColumn(cos_col, F.col("__a__.cos"))
                   .drop("__a__"))


def kmeans_cents_cte_duck(k: int = 8, iters: int = 2,
                          table: str = "embeddings",
                          id_col: str = "vec_id",
                          vec_col: str = "embedding") -> tuple[str, str]:
    """DuckDB WITH-clause fragments replicating ``kmeans_centroids``
    exactly (same seeds, same rounded-cosine argmin with id tiebreak,
    same BIGINT micro-unit update, same empty-cluster retention).
    Returns (cte_text, name_of_final_centroid_cte) — callers splice the
    text into their oracle's WITH list. Exact parity holds because the
    quantized integer sums commute (order-independent) and every float
    step (cast, multiply, divide, cosine accumulation order) is the
    same literal sequence in both dialects."""
    q = KMEANS_QUANT
    cos = cosine_sql_duck("e.v", "c.c_vec")
    parts = [
        f"km_pts AS (SELECT {id_col} AS vid, CAST({vec_col} AS DOUBLE[]) AS v "
        f"FROM {table})",
        # finite screen mirrors the engine (r11): NULL or NaN/Inf-
        # bearing vectors do not train; x - x <> 0 (or NULL component)
        # marks non-finite in duckdb exactly as the engine's
        # forall(x - x = 0) does in spark
        f"km_fin AS (SELECT vid, v FROM km_pts WHERE v IS NOT NULL AND "
        f"len(list_filter(v, x -> (x - x) != 0 OR x IS NULL)) = 0)",
        # seeds pass the cosine sides' one screen, as ivf_centroids does
        f"cent0 AS (SELECT vid AS c_id, v AS c_vec FROM km_fin "
        f"WHERE {screen_sql_duck('v')} ORDER BY vid LIMIT {k})",
    ]
    prev = "cent0"
    for i in range(1, iters + 1):
        parts += [
            f"asg{i} AS (SELECT e.vid, e.v, c.c_id, "
            f"row_number() OVER (PARTITION BY e.vid "
            f"ORDER BY ROUND({cos}, 6) DESC, c.c_id) AS rn "
            f"FROM km_fin e CROSS JOIN {prev} c)",
            f"mem{i} AS (SELECT vid, v, c_id FROM asg{i} WHERE rn = 1)",
            f"cell{i} AS (SELECT c_id, idx, "
            f"SUM(CAST(ROUND(val * {q}) AS BIGINT)) AS s, COUNT(*) AS n "
            f"FROM (SELECT c_id, unnest(v) AS val, "
            f"generate_subscripts(v, 1) AS idx FROM mem{i}) "
            f"GROUP BY c_id, idx)",
            f"mean{i} AS (SELECT c_id, list(CAST(s AS DOUBLE) / "
            f"CAST(n * {q} AS DOUBLE) ORDER BY idx) AS c_vec "
            f"FROM cell{i} GROUP BY c_id)",
            f"cent{i} AS (SELECT c_id, c_vec FROM mean{i} UNION ALL "
            f"SELECT c_id, c_vec FROM {prev} "
            f"WHERE c_id NOT IN (SELECT c_id FROM mean{i}))",
        ]
        prev = f"cent{i}"
    return ",\n".join(parts), prev


# --------------------------------------------------------------- oracle sql
def screen_sql_duck(v: str) -> str:
    """DuckDB twin of ``_vec_side``'s one screen: norm > 0 and finite. A
    NULL vector or component makes the norm NULL and fails it too."""
    n = norm_sql_duck(f"CAST({v} AS DOUBLE[])")
    return f"({n}) > 0 AND (({n}) - ({n})) = 0"


def cosine_sql_duck(a: str, b: str) -> str:
    """DuckDB-side cosine with the same left-to-right double accumulation
    (index-based zip; DuckDB lists are 1-indexed)."""
    ad, bd = f"CAST({a} AS DOUBLE[])", f"CAST({b} AS DOUBLE[])"
    dot = (f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
           f"list_transform(range(1, len({ad}) + 1), i -> ({ad})[i] * ({bd})[i])), "
           f"(acc, v) -> acc + v)")
    na, nb = norm_sql_duck(ad), norm_sql_duck(bd)
    # nullif: same zero-norm guard as cosine_expr (NULL cosine, no error)
    return f"({dot}) / nullif((({na}) * ({nb})), CAST(0 AS DOUBLE))"
