"""Deduplication operators for training-data pipelines: exact,
MinHash(+LSH), SimHash, and exact n-gram Jaccard.

Scale design:
  * Signatures (minhash/simhash/fingerprints) are pure per-row SQL
    expressions — map-side, no shuffle, codegen'd. At 100 TB this is the
    dominant cost and it's embarrassingly parallel.
  * Candidate generation shuffles only (band_key, doc_id) pairs — a tiny
    projection of the data — and joins within buckets.
  * Verification joins candidates back to shingle sets; candidates are a
    vanishing fraction of the corpus.

Determinism: all hashes use a portable polynomial hash (operators/text.py)
with module-constant seeds, so the DuckDB oracle reproduces signatures
bit-for-bit — the approximate pipeline itself is exactly checkable.
"""

from __future__ import annotations

import random
from functools import partial

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..core.colutils import aliased, qcol, quote

from ..core.dataframe import OmigoDF
from ..core.jobs import checkpoint_with_metrics, nonunique_counts
from .text import (HASH_MOD, ensure_min_parallelism, hash_duck, hash_spark,
                   let_duck, let_spark)

# MinHash seeds: k universal-hash functions h_j(x) = (a_j*x + b_j) mod p,
# constants fixed by a seeded PRNG so engine and oracle agree.
_rng = random.Random(20260813)
NUM_HASHES = 8
MINHASH_AB = [(_rng.randrange(1, HASH_MOD), _rng.randrange(0, HASH_MOD)) for _ in range(NUM_HASHES)]
SIMHASH_BITS = 16
SHINGLE_N = 3


# ------------------------------------------------------------ expressions
def _tokens(dialect: str, col: str) -> str:
    # spark side QUOTES the name (this expr receives real user column
    # names; dots/backticks would parse — r13 hostile-name sweep). The
    # duck side serves the fixed-name oracle views.
    if dialect == "spark":
        return f"filter(split({quote(col)}, ' +'), x -> x != '')"
    return f"list_filter(string_split_regex({col}, ' +'), x -> x != '')"


def shingles_expr(dialect: str, col: str = "text", n: int = SHINGLE_N) -> str:
    """Distinct word n-gram shingles; docs shorter than n tokens contribute
    their whitespace-NORMALIZED token join as one shingle (r10 review: the
    raw column value left 'alpha beta' and 'alpha  beta' — token-identical
    — with different shingles, so short near-dups could never match, while
    the >= n branch normalized them identically). NULL text stays a NULL
    shingle (array_join of a NULL array is NULL), so NULL docs still never
    band/match. The token array is let-bound so the tokenizing split
    evaluates once per row, not once per shingle element."""
    t = _tokens(dialect, col)
    if dialect == "spark":
        gram = "concat_ws(' ', " + ", ".join(f"element_at(t0, i + {j})" for j in range(n)) + ")"
        body = (f"array_distinct(CASE WHEN size(t0) >= {n} "
                f"THEN transform(sequence(1, size(t0) - {n - 1}), i -> {gram}) "
                f"ELSE array(array_join(t0, ' ')) END)")
        return let_spark(t, "t0", body)
    gram = "concat_ws(' ', " + ", ".join(f"t0[i + {j}]" for j in range(n)) + ")"
    # duck's array_to_string([]) is NULL where spark's array_join([]) is
    # '' — coalesce the EMPTY-list case only (NULL list stays NULL)
    join0 = ("CASE WHEN t0 IS NULL THEN NULL "
             "ELSE coalesce(array_to_string(t0, ' '), '') END")
    body = (f"list_distinct(CASE WHEN len(t0) >= {n} "
            f"THEN list_transform(range(1, len(t0) - {n - 2}), i -> {gram}) "
            f"ELSE [{join0}] END)")
    return let_duck(t, "t0", body)


def _shingles_spark(col: str, n: int = SHINGLE_N) -> str:
    return shingles_expr("spark", col, n)


def minhash_exprs(dialect: str, shingle_list: str, k: int = NUM_HASHES) -> list[str]:
    """k minhash values over a shingle-list expression."""
    if k > len(MINHASH_AB):
        raise ValueError(
            f"minhash_exprs: k={k} exceeds the {len(MINHASH_AB)} available "
            "seed pairs (MINHASH_AB) — extend the seed table to raise k")
    out = []
    for j in range(k):
        a, b = MINHASH_AB[j]
        if dialect == "spark":
            h = hash_spark("s")
            out.append(f"array_min(transform({shingle_list}, s -> ({a}L * ({h}) + {b}L) % {HASH_MOD}L))")
        else:
            h = hash_duck("s")
            out.append(f"list_min(list_transform({shingle_list}, s -> ({a} * ({h}) + {b}) % {HASH_MOD}))")
    return out


def simhash_expr(dialect: str, col: str = "text", bits: int = SIMHASH_BITS) -> str:
    """bits-wide SimHash over token hashes, as one pure expression."""
    t = _tokens(dialect, col)
    if dialect == "spark":
        # token-hash array let-bound like the duck branch: inlining it
        # into every per-bit aggregate re-evaluates the md5-per-token
        # transform `bits` times per row (r10 review)
        hs = f"transform({t}, tok -> {hash_spark('tok')})"
        parts = []
        for b in range(bits):
            s = (f"aggregate(h0, 0L, (acc, h) -> acc + "
                 f"(CASE WHEN (shiftright(h, {b}) & 1) = 1 THEN 1 ELSE -1 END))")
            parts.append(f"(CASE WHEN ({s}) > 0 THEN {1 << b}L ELSE 0L END)")
        return let_spark(hs, "h0", "CAST(" + " + ".join(parts) + " AS BIGINT)")
    hs = f"list_transform({t}, tok -> {hash_duck('tok')})"
    parts = []
    for b in range(bits):
        s = (f"list_sum(list_transform(h0, h -> "
             f"CASE WHEN ((h >> {b}) & 1) = 1 THEN 1 ELSE -1 END))")
        parts.append(f"(CASE WHEN ({s}) > 0 THEN {1 << b} ELSE 0 END)")
    return let_duck(hs, "h0", "CAST(" + " + ".join(parts) + " AS BIGINT)")


# ----------------------------------------------------------------- engine
def dedup_exact(odf: OmigoDF, cols, keep_col: str = "doc_id") -> OmigoDF:
    """Exact dedup: one row per distinct `cols` tuple, keeping the minimum
    keep_col (deterministic winner). Single hash-aggregate shuffle."""
    use = odf._resolve(cols)
    # qcol, not the bracket accessor: df[c] PARSES the name (r13)
    return OmigoDF(
        odf.df.groupBy(*[qcol(c) for c in use])
              .agg(F.min(qcol(keep_col)).alias(keep_col),
                   F.count(F.lit(1)).alias("dup_count")))


def minhash_struct_expr(col: str = "text", k: int = NUM_HASHES,
                        n: int = SHINGLE_N) -> str:
    """named_struct(mh_0..mh_{k-1}) Spark expression: the md5-based hash
    runs ONCE per shingle into a let-bound array; the k minhashes are k
    cheap affine folds over it. Emit through inline(array(...)) so the
    fields become real attributes (no recompute per column) — shared by
    batch minhash_signatures and the streaming LSH operator."""
    hs_val = f"transform({_shingles_spark(col, n)}, s -> {hash_spark('s')})"
    fields = []
    for j in range(k):
        a, b = MINHASH_AB[j]
        fields.append(f"'mh_{j}', array_min(transform(h0, h -> ({a}L * h + {b}L) % {HASH_MOD}L))")
    return let_spark(hs_val, "h0", "named_struct(" + ", ".join(fields) + ")")


def minhash_signatures(odf: OmigoDF, col: str = "text", k: int = NUM_HASHES,
                       n: int = SHINGLE_N) -> OmigoDF:
    """Append mh_0..mh_{k-1} minhash columns. Pure map-side expressions."""
    gen = F.expr(minhash_struct_expr(col, k, n))
    return OmigoDF(ensure_min_parallelism(odf.df).select("*", F.inline(F.array(gen))))


def simhash(odf: OmigoDF, col: str = "text", new_col: str = "simhash",
            bits: int = SIMHASH_BITS) -> OmigoDF:
    """Delegates to simhash_expr('spark') — one definition of the math
    (both were identical once the expr variant gained the same let-bound
    token-hash array, r10 review)."""
    expr = simhash_expr("spark", col, bits)
    return OmigoDF(ensure_min_parallelism(odf.df).withColumn(new_col, F.expr(expr)))


# ------------------------------------------------ sparse-key self-join kit
# MinHash-LSH, exact n-gram Jaccard and duplicate spans are one shape: a
# stream of (id, key) rows, a per-key aggregate, and a self-join on the
# key. Each decision of that shape is made here, once, with the id quoted.
def _key_stream(df, id_col: str, keys, gen=F.explode, **carry):
    """The (id, key) stream: ``df`` widened, projected to the quoted id
    and the ``keys`` array, then one row per element as ``key``
    (``gen=F.posexplode`` adds its index as ``pos``; ``gen=None`` keeps
    the whole array as ``key``). ``carry`` maps a column name to a
    function of the array, computed per document before the explode.
    Lazily checkpointed: the per-key aggregate, both self-join sides and
    any semi-join probe read materialized rows, so the key expression
    runs once, not once per consumer."""
    arr = F.col("__keys__")
    base = ensure_min_parallelism(df).select(qcol(id_col), keys.alias("__keys__"))
    if carry:
        base = base.withColumns({c: f(arr) for c, f in carry.items()})
    names = ("pos", "key") if gen is F.posexplode else ("key",)
    out = (arr if gen is None else gen(arr)).alias(*names)
    return base.select(qcol(id_col), *carry, out).localCheckpoint(eager=False)


def _per_key(ks, id_col: str | None = None):
    """The per-key aggregate of a key stream. Without ``id_col``: every
    key's row count ``__df__`` (the document frequency the DF and band
    caps test). With it: the keys held by two or more distinct ids, with
    the smallest as ``__own__`` — a min/max partial aggregate, so a key
    shared by millions of documents is still four values of state."""
    grp = ks.groupBy("key")
    if id_col is None:
        return grp.agg(F.count(F.lit(1)).alias("__df__"))
    return (grp.agg(F.min(qcol(id_col)).alias("__own__"),
                    F.max(qcol(id_col)).alias("__mx__"))
            .where(F.col("__own__") != F.col("__mx__")))


def _key_self_join(ks, id_col: str, *carry):
    """The key self-join: one row per key shared by ids ``id_a < id_b``,
    with each ``carry`` column c of both sides as ``c_a`` and ``c_b``."""
    a, b = partial(aliased, "a"), partial(aliased, "b")
    sides = [x for c in carry for x in (a(c).alias(c + "_a"), b(c).alias(c + "_b"))]
    return (ks.alias("a").join(ks.alias("b"),
                               on=[a("key") == b("key"), a(id_col) < b(id_col)])
            .select(a(id_col).alias("id_a"), b(id_col).alias("id_b"), *sides))


def _nonunique_ids(df, id_col: str) -> str | None:
    """None when ``id_col`` identifies the rows of ``df``, else
    ``"(n rows, d distinct ids)"`` (``nonunique_counts``: a NULL id is
    not a distinct id)."""
    counts = nonunique_counts(df, qcol(id_col))
    return None if counts is None else "(%d rows, %d distinct ids)" % counts


def lsh_candidate_pairs(odf: OmigoDF, id_col: str = "doc_id", col: str = "text",
                        k: int = NUM_HASHES, rows_per_band: int = 2,
                        max_band_df: int | None = None) -> OmigoDF:
    """MinHash-LSH candidates: band the signature, bucket-join within bands.

    Shuffle footprint: (band, band_key, id) triples only. Output: distinct
    (id_a < id_b) candidate pairs.

    NULL-signature docs (NULL text → every minhash NULL → an empty band
    key) are excluded up front: they can never VERIFY as near-dups
    (NULL shingle sets give NULL jaccard), so their single shared ''
    bucket was pure quadratic cost — 1M NULL docs would have emitted
    ~10^12 join rows (r10 review). Result-identical for the verified
    pipelines.

    ``max_band_df`` (opt-in, r10): drop band buckets shared by more than
    this many docs before the self-join — f docs in a bucket emit f²
    candidate rows, so boilerplate-heavy corpora explode exactly like
    ngram_jaccard's max_shingle_df documents. This is a RECALL trade
    (a dropped bucket loses its candidates unless another band catches
    the pair — with multiple bands, near-identical docs almost always
    band together elsewhere); default None keeps exact parity with the
    banding math."""
    if k % rows_per_band != 0:
        raise ValueError(
            f"lsh_candidate_pairs: k={k} not divisible by "
            f"rows_per_band={rows_per_band} — the trailing "
            f"{k % rows_per_band} minhashes would be silently unbanded")
    # one key per band, a (band, band_key) struct, through a single
    # explode — NOT a union of per-band selects, which would re-evaluate
    # the md5-heavy signature expression once per band per join side
    mh = [qcol(f"mh_{j}") for j in range(k)]
    bands = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.concat_ws("_", *[m.cast("string") for m in
                                    mh[b * rows_per_band:(b + 1) * rows_per_band]])
                 .alias("band_key"))
        for b in range(k // rows_per_band)])
    # '' key <=> every minhash in the band was NULL (the NULL-text case;
    # real keys are '_'-joined bigints) — see the docstring's
    # quadratic-bucket rationale
    ks = _key_stream(minhash_signatures(odf, col, k).df, id_col,
                     F.filter(bands, lambda s: s["band_key"] != ""))
    if max_band_df is not None:
        over = (_per_key(ks).where(F.col("__df__") > int(max_band_df))
                .select(F.col("key").alias("__over__")))
        ks = ks.join(F.broadcast(over), F.col("key") == F.col("__over__"),
                     "left_anti")
    return OmigoDF(_key_self_join(ks, id_col).distinct())


SPAN_N = 8


def wide_hash(dialect: str, expr: str, bits: int = 60) -> str:
    """md5-prefix hash key: identical in Spark and DuckDB. Used where the
    key SPACE matters (span keys): the 1e9+7 modulus of hash_spark/
    hash_duck collides at the birthday bound (~sqrt(2^30) ≈ 3e4 keys)
    over any real corpus.

    ``bits=60`` (BIGINT, 8-byte shuffle key): expected colliding PAIRS at
    g distinct grams ≈ g²/2^61 — negligible below ~1e9 grams, but NOT
    zero at corpus scale: at the 100 TB design point (~1e13 span grams)
    that is ≈ 4e7 collisions, a ~4e-6 fraction. Fine for MEASUREMENT
    (duplicate_span_stats over-counts dup coverage by ppm), not for
    MUTATION: remove_duplicate_spans would silently strip tens of
    millions of false-positive spans.

    ``bits=120`` (the 30-hex-char md5 prefix as a STRING key): expected
    collisions at 1e13 grams ≈ 4e-11 — effectively zero at any feasible
    corpus. A two-BIGINT struct key would shave ~14 bytes/key of shuffle
    width, but complicates every downstream groupBy/join; the span-key
    shuffle is ~12% of the scan at n=8, so the string overhead is
    marginal — use 120 for removal, 60 for stats."""
    if bits == 60:
        if dialect == "spark":
            return f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"
        return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"
    if bits == 120:
        if dialect == "spark":
            return f"substring(md5({expr}), 1, 30)"
        return f"substr(md5({expr}), 1, 30)"
    raise ValueError(f"wide_hash: bits must be 60 or 120, got {bits}")


def span_grams_expr(dialect: str, col: str = "text", n: int = SPAN_N,
                    key_bits: int = 60) -> str:
    """POSITIONAL (non-distinct) n-gram key array in token order — element i
    is the ``key_bits``-wide key of tokens[i..i+n); docs shorter than n
    tokens yield an empty array. The token array is let-bound so the
    split runs once."""
    if key_bits not in (60, 120):
        raise ValueError(
            f"span_grams_expr: key_bits must be 60 or 120, got {key_bits}")
    empty_t = {60: ("ARRAY<BIGINT>", "BIGINT[]"),
               120: ("ARRAY<STRING>", "VARCHAR[]")}[key_bits]
    if dialect == "spark":
        gram = "concat_ws(' ', " + ", ".join(f"element_at(t0, i + {j})" for j in range(n)) + ")"
        body = (f"CASE WHEN size(t0) >= {n} "
                f"THEN transform(sequence(1, size(t0) - {n - 1}), i -> {wide_hash('spark', gram, key_bits)}) "
                f"ELSE CAST(array() AS {empty_t[0]}) END")
        return let_spark(_tokens("spark", col), "t0", body)
    gram = "concat_ws(' ', " + ", ".join(f"t0[i + {j}]" for j in range(n)) + ")"
    body = (f"CASE WHEN len(t0) >= {n} "
            f"THEN list_transform(range(1, len(t0) - {n - 2}), i -> {wide_hash('duckdb', gram, key_bits)}) "
            f"ELSE CAST([] AS {empty_t[1]}) END")
    return let_duck(_tokens("duckdb", col), "t0", body)


def duplicate_span_stats(odf: OmigoDF, id_col: str = "doc_id",
                         col: str = "text", n: int = SPAN_N,
                         scope: str = "cross_doc",
                         check_unique: bool = False) -> OmigoDF:
    """Exact duplicate-SPAN statistics: for every document, how much of it
    is covered by token n-grams that also occur elsewhere in the corpus.
    The distributed re-expression of exact substring deduplication (Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models Better",
    which uses a single-node suffix array): a span key here is a length-n
    token window, and a key is "duplicated" when it appears in ≥2 distinct
    documents (``scope='cross_doc'``, the contamination-relevant default)
    or ≥2 times anywhere including within one document (``scope='any'``).

    Output: one row per input row — id, n_tokens, dup_spans (number of
    duplicated window starts), dup_tokens (tokens covered by the union of
    those windows), dup_ratio (coverage / n_tokens, 6dp).

    Scale shape (the plan, in order):
      * span keys are map-side codegen'd SQL (let-bound token array, one
        md5 per window) — at 100 TB this is the dominant compute and it is
        embarrassingly parallel;
      * ONE corpus-sized shuffle keyed on the 60-bit span key, carrying
        (key, id, pos); duplicated keys fall out of a partial-aggregated
        min(id)<>max(id) test — no countDistinct Expand, and a boilerplate
        key shared by millions of docs is still just (key, min, max, count)
        of aggregate state, so hot keys cannot skew the reduce;
      * the (id, pos, key) stream semi-joins the duplicated-key set on the
        same key — AQE picks the strategy, and when dup keys are few the
        join side broadcasts;
      * coverage is a per-document window over HIT rows only (a vanishing
        fraction of the corpus): windows all have length n, so the union
        of intervals is exactly sum(min(n, next_start - start)) over
        starts in order — one pass, no interval machinery.
    The final left join back to (id, n_tokens) re-reads the source, but
    Catalyst prunes the span-key expressions out of that branch — it costs
    a tokenize+size, not a re-hash.
    """
    if scope not in ("cross_doc", "any"):
        raise ValueError(f"scope must be 'cross_doc' or 'any', got {scope!r}")
    df = ensure_min_parallelism(odf.df)
    # id_col MUST uniquely identify rows: duplicate ids interleave their
    # positions in the coverage window (lead(pos)-pos collapses to 0 on
    # ties, undercounting dup_tokens) and 'cross_doc' treats the copies
    # as ONE document, reporting their mutual duplication as 0. Opt-in
    # verification: one per-id counting job (_nonunique_ids).
    if check_unique and (counts := _nonunique_ids(df, id_col)):
        import warnings
        warnings.warn(
            f"duplicate_span_stats: {id_col!r} does not uniquely "
            f"identify rows {counts} — coverage undercounts on interleaved "
            "positions and same-id copies are treated as one document",
            UserWarning, stacklevel=2)
    # the (id, pos, key) stream feeds BOTH the dup-key aggregate and the
    # semi-join probe side, so the md5 window pass runs once
    pos = _key_stream(df, id_col, F.expr(span_grams_expr("spark", col, n)),
                      F.posexplode)
    dup = (_per_key(pos, id_col) if scope == "cross_doc"
           else _per_key(pos).where(F.col("__df__") >= 2))
    hits = pos.join(dup.select("key"), on="key", how="leftsemi")
    w = Window.partitionBy(qcol(id_col)).orderBy("pos")
    cov = (hits
           .withColumn("__cover__",
                       F.least(F.lit(n),
                               F.coalesce(F.lead("pos").over(w) - F.col("pos"),
                                          F.lit(n))))
           .groupBy(qcol(id_col))
           .agg(F.count(F.lit(1)).alias("dup_spans"),
                F.sum("__cover__").cast("bigint").alias("dup_tokens")))
    n_tokens = F.size(F.expr(_tokens("spark", col))).cast("bigint")
    out = (df.select(qcol(id_col), n_tokens.alias("n_tokens"))
           .join(cov, on=id_col, how="left")
           .select(qcol(id_col), "n_tokens",
                   F.expr("COALESCE(dup_spans, 0L) AS dup_spans"),
                   F.expr("COALESCE(dup_tokens, 0L) AS dup_tokens"),
                   F.expr("ROUND(CAST(COALESCE(dup_tokens, 0) AS DOUBLE)"
                          " / GREATEST(n_tokens, 1L), 6) AS dup_ratio")))
    return OmigoDF(out)


def remove_duplicate_spans(odf: OmigoDF, id_col: str = "doc_id",
                           col: str = "text", n: int = SPAN_N,
                           key_bits: int = 120,
                           check_unique: bool = False) -> OmigoDF:
    """The removal half of exact substring dedup: every cross-document
    duplicated n-gram span keeps ONE occurrence — in its owner document,
    the minimum id containing the span — and the covered tokens are
    stripped from every other document. Returns the input rows with `col`
    replaced by the cleaned text plus a `removed_tokens` count.

    ``key_bits`` defaults to 120 here (vs 60 in duplicate_span_stats):
    this operator MUTATES data on key equality, and a 60-bit key's
    expected ~4e7 collisions at the 100 TB design point (~1e13 grams)
    would each silently strip a non-duplicated span — see wide_hash for
    the birthday math. Pass ``key_bits=60`` to trade that ppm-level
    false-removal rate for an 8-byte BIGINT shuffle key.

    Scale shape: same key shuffle as duplicate_span_stats (the owner falls
    out of the SAME min/max partial aggregate that detects duplication);
    removal starts come back as one per-doc array (bounded by that doc's
    span count), and the token filter is a map-side expression doing n
    O(1) map lookups per token — never a per-token join. The final join
    touches only docs that lose tokens; everything else passes through the
    left join unchanged.

    ``id_col`` MUST uniquely identify rows: a shared id merges two
    documents' removal-start lists, which at best strips tokens from the
    wrong row and at worst crashes map_from_arrays with an opaque
    DUPLICATE_MAP_KEY error (r10 review — this MUTATING operator had no
    guard while the read-only duplicate_span_stats did). Pass
    ``check_unique=True`` to spend one counting job verifying it; a
    ``ValueError`` names the real cause instead of the map error."""
    df = ensure_min_parallelism(odf.df)
    if check_unique and (counts := _nonunique_ids(df, id_col)):
        raise ValueError(
            f"remove_duplicate_spans: id_col '{id_col}' does not uniquely "
            f"identify rows {counts} — a shared id merges removal lists "
            "across documents; dedupe ids first")
    pos = _key_stream(df, id_col,
                      F.expr(span_grams_expr("spark", col, n, key_bits)),
                      F.posexplode)
    own = _per_key(pos, id_col).select("key", "__own__")
    rm = (pos.join(own, on="key")
          .where(qcol(id_col) != F.col("__own__"))
          .groupBy(qcol(id_col))
          .agg(F.collect_list("pos").alias("__starts__")))
    j = df.join(rm, on=id_col, how="left")
    # token i is removed iff some start s in [i-n+1, i] is in the starts
    # set — n map lookups, not a scan of the starts array per token
    lookups = " OR ".join(f"map_contains_key(m0, i - {k})" for k in range(n))
    kept = f"filter(t0, (x, i) -> NOT ({lookups}))"
    # output text is token-normalized (single-space rejoin) for EVERY row,
    # removals or not — the invariant the oracle's string_agg re-derivation
    # checks; a no-removal doc runs the same path over an empty starts set
    starts = "COALESCE(__starts__, CAST(array() AS ARRAY<INT>))"
    cleaned = let_spark(
        f"map_from_arrays({starts}, array_repeat(1, size({starts})))", "m0",
        let_spark(_tokens("spark", col), "t0",
                  let_spark(kept, "k0",
                            "struct(concat_ws(' ', k0) AS txt, "
                            "size(t0) - size(k0) AS rm)")))
    keep = [c for c in df.columns if c != col]
    out = (j.select(*[qcol(c) for c in keep], F.expr(cleaned).alias("__c__"))
           .select(*[qcol(c) for c in keep],
                   F.col("__c__.txt").alias(col),
                   F.col("__c__.rm").cast("bigint")
                   .alias("removed_tokens")))
    return OmigoDF(out)


def remove_duplicate_spans_sql_duck(table: str = "documents",
                                    id_col: str = "doc_id",
                                    col: str = "text",
                                    n: int = SPAN_N,
                                    key_bits: int = 120) -> str:
    """DuckDB oracle for remove_duplicate_spans — relational re-derivation
    (positions table + NOT EXISTS over removal intervals + ordered
    string_agg), deliberately a different algorithm than the engine's
    map-lookup filter so agreement checks semantics, not implementation."""
    return f"""
WITH toksrc AS (
  SELECT *, ({_tokens('duckdb', col)}) AS t FROM {table}),
grams AS (
  SELECT {id_col}, {span_grams_expr('duckdb', col, n, key_bits)} AS g FROM toksrc),
pos AS (
  SELECT {id_col}, unnest(g) AS key, generate_subscripts(g, 1) - 1 AS pos
  FROM grams WHERE len(g) > 0),
own AS (
  SELECT key, MIN({id_col}) AS own FROM pos GROUP BY key
  HAVING MIN({id_col}) <> MAX({id_col})),
rm AS (
  SELECT p.{id_col}, p.pos FROM pos p JOIN own o USING (key)
  WHERE p.{id_col} <> o.own),
toks AS (
  SELECT {id_col}, unnest(t) AS tok, generate_subscripts(t, 1) - 1 AS j
  FROM toksrc),
kept AS (
  SELECT tk.{id_col}, tk.j, tk.tok FROM toks tk
  WHERE NOT EXISTS (SELECT 1 FROM rm r WHERE r.{id_col} = tk.{id_col}
                    AND tk.j BETWEEN r.pos AND r.pos + {n - 1})),
agg AS (
  SELECT {id_col}, string_agg(tok, ' ' ORDER BY j) AS txt,
         CAST(COUNT(*) AS BIGINT) AS n_kept
  FROM kept GROUP BY {id_col}),
ntok AS (SELECT {id_col}, CAST(len(t) AS BIGINT) AS n_tok FROM toksrc)
SELECT s.* EXCLUDE ({col}, t), COALESCE(a.txt, '') AS {col},
       nt.n_tok - COALESCE(a.n_kept, 0) AS removed_tokens
FROM toksrc s
LEFT JOIN agg a USING ({id_col})
JOIN ntok nt USING ({id_col})
"""


def duplicate_span_stats_sql_duck(table: str = "documents",
                                  id_col: str = "doc_id", col: str = "text",
                                  n: int = SPAN_N,
                                  scope: str = "cross_doc") -> str:
    """DuckDB oracle for duplicate_span_stats — same algebra, same keys."""
    having = ("HAVING MIN(doc_id) <> MAX(doc_id)" if scope == "cross_doc"
              else "HAVING COUNT(*) >= 2").replace("doc_id", id_col)
    return f"""
WITH grams AS (
  SELECT {id_col},
         CAST(len(({_tokens('duckdb', col)})) AS BIGINT) AS n_tokens,
         {span_grams_expr('duckdb', col, n)} AS g
  FROM {table}),
pos AS (
  SELECT {id_col}, unnest(g) AS key, generate_subscripts(g, 1) AS pos
  FROM grams WHERE len(g) > 0),
dupk AS (SELECT key FROM pos GROUP BY key {having}),
hits AS (SELECT p.{id_col}, p.pos FROM pos p JOIN dupk USING (key)),
win AS (
  SELECT {id_col},
         LEAST({n}, COALESCE(LEAD(pos) OVER (PARTITION BY {id_col} ORDER BY pos) - pos, {n})) AS cover
  FROM hits),
cov AS (
  SELECT {id_col}, CAST(COUNT(*) AS BIGINT) AS dup_spans,
         CAST(SUM(cover) AS BIGINT) AS dup_tokens
  FROM win GROUP BY {id_col})
SELECT b.{id_col}, b.n_tokens,
       COALESCE(c.dup_spans, CAST(0 AS BIGINT)) AS dup_spans,
       COALESCE(c.dup_tokens, CAST(0 AS BIGINT)) AS dup_tokens,
       ROUND(CAST(COALESCE(c.dup_tokens, 0) AS DOUBLE)
             / GREATEST(b.n_tokens, 1), 6) AS dup_ratio
FROM grams b LEFT JOIN cov c USING ({id_col})
"""


def ngram_jaccard_pairs(odf: OmigoDF, id_col: str = "doc_id", col: str = "text",
                        n: int = SHINGLE_N, min_shared: int = 1,
                        threshold: float = 0.0,
                        max_shingle_df: int | None = 10000,
                        warn_candidate_pairs: int | None = 10_000_000) -> OmigoDF:
    """Exact n-gram Jaccard similarity for every pair sharing ≥ min_shared
    shingles. explode→self-join on shingle→count; the join key is the
    shingle so co-occurring docs co-locate in one shuffle.

    ``max_shingle_df`` caps the self-join blowup: a shingle appearing in f
    docs emits f² join rows, so boilerplate shared by millions of docs
    goes quadratic. Shingles with document frequency above the cap are
    dropped from candidate generation (standard DF-capping; the Jaccard
    denominator keeps the full shingle counts, so reported similarity is
    conservative for affected pairs). None disables the cap.

    The cap cannot save a GENUINELY self-similar corpus: the measured
    40× scale-up (SCALE.md §Measured 20-40× scale-up) hit 2.2 BILLION
    candidate pairs with every shingle df under the cap — the
    quadratic was the workload, and the LSH path handled the same
    input ~20× faster. ``warn_candidate_pairs`` warns with the
    estimated pair count and the LSH remedy when Σ df·(df-1)/2 over the
    shingles that survive the cap exceeds the given count. Default-ON
    at 10M since r11 (r10 verdict: the one operator with a measured
    208× quadratic cliff should not be silent); pass None to opt out.

    Per-shingle DF is counted ONCE. With the warning on, that count is
    one eager job at construction, before the quadratic join runs: it
    localCheckpoints the over-cap shingle set and observes both the
    estimate and the over-cap count on the same job. No shingle over the
    cap means the anti-join is left out of the plan; otherwise both
    self-join sides anti-join the checkpointed set instead of
    re-aggregating. With the warning off, the cap stays a lazy
    anti-join and construction submits no job."""
    # the (id, sh_n, shingle) stream feeds the DF census and BOTH
    # self-join sides, so tokenization and explode run once
    ex = _key_stream(odf.df, id_col, F.expr(_shingles_spark(col, n)),
                     sh_n=F.size)
    dfs = _per_key(ex)
    df_n = F.col("__df__")
    # only a non-NULL shingle can be removed: the anti-join's equality
    # never matches the NULL-text group, which therefore stays in the
    # estimate whatever its df
    over_cap = (F.lit(False) if max_shingle_df is None
                else (df_n > max_shingle_df) & F.col("key").isNotNull())
    hot = None
    if warn_candidate_pairs is not None:
        pairs = F.sum(F.when(~over_cap, df_n * (df_n - 1) / 2))
        if max_shingle_df is None:
            est = dfs.agg(pairs.alias("p")).first()["p"]
        else:
            hot, m = checkpoint_with_metrics(
                dfs, {"p": pairs, "hot": F.count_if(over_cap)},
                keep=over_cap)
            est = m["p"]
            if m["hot"] == 0:
                hot = None
        if (est or 0) > warn_candidate_pairs:
            import warnings
            warnings.warn(
                f"ngram_jaccard_pairs: ~{int(est):,} candidate pairs "
                f"(> {warn_candidate_pairs:,}) — the corpus is "
                "self-similar enough that exact all-pairs Jaccard goes "
                "quadratic even under max_shingle_df; use the LSH path "
                "(lsh_candidate_pairs / dedup_near) at this scale",
                UserWarning, stacklevel=2)
    elif max_shingle_df is not None:
        hot = dfs.where(over_cap)
    if hot is not None:
        ex = ex.join(hot.select("key"), on="key", how="left_anti")
    shared = (_key_self_join(ex, id_col, "sh_n")
              .groupBy("id_a", "id_b", "sh_n_a", "sh_n_b")
              .agg(F.count(F.lit(1)).alias("shared")))
    out = (shared
           .withColumn("jaccard", F.round(F.col("shared").cast("double")
                                          / (F.col("sh_n_a") + F.col("sh_n_b")
                                             - F.col("shared")), 6))
           .where(f"shared >= {min_shared} AND jaccard >= {threshold}")
           .select("id_a", "id_b", "shared", "jaccard"))
    return OmigoDF(out)


def embedding_dup_pairs(odf: OmigoDF, threshold: float = 0.9,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        method: str = "lsh", precision: int = 6) -> OmigoDF:
    """Embedding-cosine near-dup pairs: (id_a < id_b, cosine >= threshold).

    method='lsh' (default — the 100 TB path): both sides bucket by
    random-hyperplane signs (multi-table, vectorized Pandas UDF from
    operators.similarity), candidates are bucket self-equijoins, exact
    cosine verifies candidates only; shuffle carries (bucket, id, vec)
    rows instead of the n^2 cross product. Approximate: pairs landing in
    no common bucket are missed (recall grows with tables/probes).

    method='exact': full O(n²) self-comparison — the correctness baseline
    for oracle checks and small corpora only (cosine is a pure codegen
    expression; Spark picks broadcast-nested-loop when one side is
    small). Do not use at scale."""
    from .similarity import _buckets_col, _pair_cos, _vec_side
    # norms hoisted out of the pair loop (O(n) folds, not O(n^2)); the
    # screen keeps zero-norm and NaN/Inf-corrupted vectors out of PAIR
    # GENERATION only (see _vec_side)
    base = _vec_side(ensure_min_parallelism(odf.df), [qcol(id_col)], vec_col,
                     "__v__", "__n__")
    if method == "exact":
        a = base.select(qcol(id_col).alias("id_a"), F.col("__v__").alias("__va__"),
                        F.col("__n__").alias("__na__"))
        b = base.select(qcol(id_col).alias("id_b"), F.col("__v__").alias("__vb__"),
                        F.col("__n__").alias("__nb__"))
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    elif method == "lsh":
        # NOT checkpointed: the bucketed projection carries the full
        # vectors, so materializing it costs more than re-running the
        # BLAS-vectorized bucket UDF on each join side (measured 2-6x
        # slower with a localCheckpoint here)
        ex = base.select(qcol(id_col), "__v__", "__n__",
                         F.explode(_buckets_col("__v__")).alias("bucket"))
        a = ex.select("bucket", qcol(id_col).alias("id_a"), F.col("__v__").alias("__va__"),
                      F.col("__n__").alias("__na__"))
        b = ex.select("bucket", qcol(id_col).alias("id_b"), F.col("__v__").alias("__vb__"),
                      F.col("__n__").alias("__nb__"))
        pairs = (a.join(b, on=[a["bucket"] == b["bucket"], F.col("id_a") < F.col("id_b")])
                 .select("id_a", "id_b", "__va__", "__na__", "__vb__", "__nb__")
                 .dropDuplicates(["id_a", "id_b"]))
    else:
        raise ValueError(f"embedding_dup_pairs: unknown method: {method}")
    cos = _pair_cos("__va__", "__vb__", "__na__", "__nb__", precision)
    return OmigoDF(pairs.select("id_a", "id_b", cos.alias("cosine"))
                   .where(F.col("cosine") >= threshold))


def dedup_embedding(odf: OmigoDF, threshold: float = 0.9,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    method: str = "lsh") -> OmigoDF:
    """Drop the higher id of every embedding near-dup pair (greedy
    min-representative, same keep-rule as dedup_near)."""
    dup_ids = (embedding_dup_pairs(odf, threshold, id_col, vec_col, method)
               .df.select(F.col("id_b").alias(id_col)).distinct())
    return OmigoDF(odf.df.join(dup_ids, on=id_col, how="left_anti"))


def connected_components(pairs: OmigoDF, id_a: str = "id_a",
                         id_b: str = "id_b", max_iter: int = 20,
                         on_nonconverged: str = "raise") -> OmigoDF:
    """Connected components over an undirected edge list: returns
    (id, cluster_id) for every endpoint, cluster_id = min node id in the
    component (deterministic canonical representative).

    Distributed min-label propagation: each round every node takes the
    minimum label among itself and its neighbors — one shuffle per round
    (join on the edge, then min-agg on the node), converging in
    O(diameter) rounds. Near-dup components are shallow (dup clusters are
    cliques or stars from LSH banding), so 2-4 rounds is typical; the
    loop stops as soon as a round changes nothing. Labels are
    localCheckpointed each round to cut the growing lineage. For
    adversarially long chains the alternating large-star/small-star
    variant halves diameter per round; the simple variant keeps the
    per-round plan to one join + one aggregate, which is the better
    constant factor for dedup-shaped graphs.

    If the signature has not converged after ``max_iter`` rounds the
    labels are PARTIAL (a component with diameter > max_iter would get
    split labels); ``on_nonconverged`` controls what happens then:
    'raise' (default — silent wrong clusters are worse than a retry
    with connected_components_star or a larger max_iter) or 'warn'."""
    if on_nonconverged not in ("raise", "warn"):
        raise ValueError(
            f"connected_components: on_nonconverged={on_nonconverged!r}")
    e = pairs.df if isinstance(pairs, OmigoDF) else pairs
    # LAZY checkpoints (r14): the first _sig aggregate below materializes
    # edges AND labels in one stacked job — each eager checkpoint was its
    # own job submission, pure scheduling overhead (blocks land either way)
    edges = (e.select(qcol(id_a).alias("src"), qcol(id_b).alias("dst"))
              .unionByName(e.select(qcol(id_b).alias("src"),
                                    qcol(id_a).alias("dst")))
              .distinct().localCheckpoint(eager=False))
    labels = (edges.select(F.col("src").alias("id"))
              .distinct().withColumn("lab", F.col("id"))
              .localCheckpoint(eager=False))

    def _sig(lab_df):
        # order-insensitive label-set signature: labels converged iff the
        # signature repeats — one tiny aggregate instead of a per-round
        # join against the previous labels
        row = lab_df.agg(F.expr("bit_xor(xxhash64(id, lab))").alias("h"),
                         F.count(F.lit(1)).alias("n")).first()
        return (row["h"], row["n"])

    sig = _sig(labels)
    converged = False
    for _ in range(max_iter):
        # EAGER round checkpoint on purpose (r14 adjudication): the lazy
        # variant (checkpoint materialized by the _sig aggregate) read
        # +55% on dedup_cluster in clean-box isolated A/B — the round
        # frame is consumed by both _sig and the NEXT round's plan
        # construction (AQE stage materialization), and deferring the
        # materialization makes those consumers redo work. Only the
        # single-consumer ENTRY checkpoints above stay lazy. The
        # convergence signature now rides the eager checkpoint's OWN
        # materialization job via observe() (r15) — one job per round,
        # no separate full scan of the just-landed blocks.
        neigh = (edges.join(labels, edges["dst"] == labels["id"])
                 .select(F.col("src").alias("id"), F.col("lab")))
        labels, m = checkpoint_with_metrics(
            labels.select("id", "lab").unionByName(neigh)
                  .groupBy("id").agg(F.min("lab").alias("lab")),
            {"h": F.expr("bit_xor(xxhash64(id, lab))"),
             "n": F.count(F.lit(1))})
        new_sig = (m["h"], m["n"])
        if new_sig == sig:
            converged = True
            break
        sig = new_sig
    if not converged:
        msg = (f"connected_components: label propagation did not converge "
               f"in max_iter={max_iter} rounds — a component's diameter "
               f"exceeds max_iter and its labels are split; use "
               f"connected_components_star (O(log n) rounds) or raise "
               f"max_iter")
        if on_nonconverged == "raise":
            raise RuntimeError(msg)
        import warnings
        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return OmigoDF(labels.select(F.col("id"), F.col("lab").alias("cluster_id")))


def connected_components_star(pairs: OmigoDF, id_a: str = "id_a",
                              id_b: str = "id_b", max_iter: int = 40,
                              on_nonconverged: str = "raise") -> OmigoDF:
    """Connected components via alternating large-star / small-star
    rounds — O(log n) rounds on ANY graph shape, including the long
    chains where plain min-label propagation needs O(diameter) rounds.

    Each round is two grouped aggregations + joins over the edge list
    (public algorithm: Kiveris et al., "Connected Components in
    MapReduce and Beyond"): large-star points every neighbor larger
    than u at u's minimum neighborhood label; small-star re-points the
    small neighbors. The edge list contracts toward star graphs whose
    centers are the component minima. Convergence is detected by an
    order-insensitive (count, hash-sum) signature of the canonical edge
    set — one tiny aggregate, no edge-set equality join.

    Same output contract as connected_components: (id, cluster_id) with
    cluster_id = min node id in the component — including the same
    ``on_nonconverged`` guard (r10 review): the final min-neighbor
    labeling assumes the edge set reached star shape, so exiting the
    loop un-converged would SILENTLY return split cluster labels. The
    alternating algorithm's proven round bound is O(log^2 n), so a
    pathological chain can exhaust max_iter; 'raise' (default) beats
    silent wrong clusters, 'warn' opts into the partial labels."""
    if on_nonconverged not in ("raise", "warn"):
        raise ValueError(
            f"connected_components_star: on_nonconverged={on_nonconverged!r}")
    e0 = pairs.df if isinstance(pairs, OmigoDF) else pairs
    nodes = (e0.select(qcol(id_a).alias("id"))
             .unionByName(e0.select(qcol(id_b).alias("id"))).distinct()
             .localCheckpoint(eager=False))
    # symmetric, loop-free working edge list
    # lazy (r14): the first _sig aggregate materializes it in its own job
    e = (e0.select(qcol(id_a).alias("u"), qcol(id_b).alias("v"))
         .unionByName(e0.select(qcol(id_b).alias("u"),
                                qcol(id_a).alias("v")))
         .where(F.col("u") != F.col("v"))
         .distinct().localCheckpoint(eager=False))

    def _star(edges, large: bool, with_sig: bool = False):
        m = (edges.groupBy("u")
             .agg(F.min("v").alias("__mn__"))
             .select("u", F.least(F.col("__mn__"), F.col("u")).alias("m")))
        j = edges.join(m, "u")
        keep = (F.col("v") > F.col("u")) if large else (F.col("v") <= F.col("u"))
        out = (j.where(keep).select(F.col("v").alias("a"), F.col("m").alias("b"))
               .unionByName(m.select(F.col("u").alias("a"),
                                     F.col("m").alias("b"))))
        # re-symmetrize the contracted edge set for the next round.
        # EAGER round checkpoint on purpose (r14 adjudication): the lazy
        # variant regressed the consuming queries ~50% — a round frame
        # that the next round's plan construction (AQE stage
        # materialization) and the _sig aggregate both consume must be
        # materialized once, not recomputed under each consumer. When
        # the caller needs the round's convergence signature, it rides
        # the checkpoint's own materialization job via observe() (r15).
        sym = (out.where(F.col("a") != F.col("b"))
               .select(F.col("a").alias("u"), F.col("b").alias("v")))
        sym_u = (sym.unionByName(sym.select(F.col("v").alias("u"),
                                            F.col("u").alias("v")))
                 .distinct())
        if not with_sig:
            return sym_u.localCheckpoint(eager=True)
        ck, m = checkpoint_with_metrics(sym_u, {
            "n": F.count(F.when(F.col("u") < F.col("v"), 1)),
            "h": F.expr("bit_xor(CASE WHEN u < v THEN xxhash64(u, v) END)")})
        return ck, (m["n"], m["h"])

    def _sig(edges):
        row = (edges.where(F.col("u") < F.col("v"))
               .agg(F.count(F.lit(1)).alias("n"),
                    F.expr("bit_xor(xxhash64(u, v))").alias("h")).first())
        return (row["n"], row["h"])

    sig = _sig(e)
    converged = False
    for _ in range(max_iter):
        # the small-star checkpoint carries the round's signature via
        # observe() (r15) — the separate _sig scan per round is gone
        e, new_sig = _star(_star(e, large=True), large=False,
                           with_sig=True)
        if new_sig == sig:
            converged = True
            break
        sig = new_sig
    if not converged:
        msg = (f"connected_components_star: edge set still changing after "
               f"{max_iter} rounds — labels would be split/partial; raise "
               "max_iter")
        if on_nonconverged == "raise":
            raise RuntimeError(msg)
        import warnings
        warnings.warn(msg, UserWarning, stacklevel=2)
    # stars: every node's component min is its smallest neighbor (or self)
    lab = (e.groupBy("u").agg(F.min("v").alias("mn"))
           .select(F.col("u").alias("id"),
                   F.least(F.col("mn"), F.col("u")).alias("cluster_id")))
    out = (nodes.join(lab, "id", "left")
           .select("id", F.coalesce("cluster_id", F.col("id")).alias("cluster_id")))
    return OmigoDF(out)


def cluster_near_dups(odf: OmigoDF, id_col: str = "doc_id",
                      col: str = "text", threshold: float = 0.7,
                      algorithm: str = "propagation",
                      collapse_exact: bool | str = "auto") -> OmigoDF:
    """Full near-dup clustering: LSH candidates → exact-Jaccard verify →
    connected components → every doc labeled with its cluster's min doc
    id (singletons label themselves). Unlike dedup_near's greedy
    pair-drop, the transitive closure keeps exactly one representative
    per dup *cluster* (a~b, b~c collapses all three).

    ``algorithm``: 'propagation' (default — one join+agg per round,
    best constants for the shallow star/clique components dedup
    produces) or 'star' (large-star/small-star, O(log n) rounds on any
    shape — the safe choice if components may chain arbitrarily deep).

    ``collapse_exact`` (r11 — same tri-state, census, and exactness
    argument as ``dedup_near``): byte-identical docs collapse to their
    min-id representative before LSH; components run over
    representatives only; members inherit their representative's
    cluster (representatives are group MINIMA, so the component min —
    the cluster id — is unchanged). The pathological probe (5,000
    identical docs) measured 70.6 s → ~3 s with identical labels;
    ``"auto"`` (default) collapses only when the cheap duplicate
    census says it pays."""
    if _should_collapse(odf.df, col, collapse_exact, threshold):
        mapping = _exact_rep_mapping(odf.df, id_col, col) \
            .localCheckpoint(eager=False)
        rep_rows = OmigoDF(odf.df.join(
            mapping.where(qcol(id_col) == F.col("__rep__"))
                   .select(qcol(id_col)), id_col, "left_semi"))
        verified = OmigoDF(_verified_dup_pairs(rep_rows, id_col, col,
                                               threshold))
        cc_fn = (connected_components_star if algorithm == "star"
                 else connected_components)
        cc = cc_fn(verified).df.withColumnRenamed("id", "__rep__")
        out = (odf.df
               .join(mapping, on=id_col, how="left")
               .join(cc, on="__rep__", how="left")
               .withColumn("cluster_id",
                           F.coalesce(F.col("cluster_id"),
                                      F.col("__rep__"), qcol(id_col)))
               .drop("__rep__"))
        return OmigoDF(out)
    verified = OmigoDF(_verified_dup_pairs(odf, id_col, col, threshold))
    cc_fn = (connected_components_star if algorithm == "star"
             else connected_components)
    cc = cc_fn(verified).df.withColumnRenamed("id", id_col)
    out = (odf.df.join(cc, on=id_col, how="left")
           .withColumn("cluster_id",
                       F.coalesce(F.col("cluster_id"), qcol(id_col))))
    return OmigoDF(out)


def _auto_num_clusters(n: int, floor: int = 8, ceil: int = 4096) -> int:
    """SemDeDup auto-k: k = clamp(n/1000, floor, ceil) — the docstring's
    own prescription (expected cluster size ~1e3 keeps the within-cluster
    pair work (n/k)^2 bounded). Measured at the 40x scale rig (SCALE.md):
    the old fixed k=8 default degenerated 2.5 s -> 804 s while k=n/1000
    ran 62 s on the same input."""
    return min(max(int(n) // 1000, floor), ceil)


def semdedup(odf: OmigoDF, threshold: float = 0.9,
             num_clusters: int | None = None, iters: int = 2,
             centroids: list | None = None,
             id_col: str = "vec_id", vec_col: str = "embedding",
             cluster_col: str = "cluster_id",
             precision: int = 6) -> OmigoDF:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication made tractable by bounding the near-dup search to
    k-means clusters — pairwise cosine runs WITHIN each cluster only,
    so total pair work is ~n²/k instead of n² (the paper's point: at
    corpus scale you raise ``num_clusters`` so clusters stay small;
    they used 110k clusters on LAION).

    Steps: (1) spherical k-means (``similarity.kmeans_centroids`` —
    bit-reproducible training, or pass a pre-trained ``centroids``
    list to skip training); (2) map-side nearest-centroid assignment;
    (3) within-cluster pair join (both sides shuffle once on the
    cluster key; the exchange is reused across the two sides);
    (4) greedy keep-lowest-id: a row is dropped iff some SMALLER-id
    row in ITS cluster has rounded cosine >= threshold (the same
    keep-rule as dedup_near/dedup_embedding, deterministic and
    oracle-expressible as NOT EXISTS).

    Returns the survivors with ``cluster_col`` and ``cluster_cos``
    attached. Approximate by construction: a near-dup pair split
    across two clusters is missed — that is SemDeDup's documented
    trade, not an implementation gap. Skew note: one giant cluster
    re-creates the n² corner; at scale pick num_clusters so expected
    cluster size stays ~1e4, and train on a sample
    (kmeans_centroids(sample_fraction=...)).

    ``num_clusters=None`` (the default since r11) derives
    k = clamp(n/1000, 8, 4096) from one cheap corpus count, so the
    within-cluster pair work stays ~n·1000 instead of n²/8 — the fixed
    k=8 default was a measured scale-killer (804 s vs 62 s at the 40×
    rig, SCALE.md). Pass an explicit k (or ``centroids``) to pin the
    clustering exactly — the oracle-checked registry query does."""
    from .similarity import (_pair_cos, _vec_side, kmeans_assign,
                             kmeans_centroids)
    if centroids is None and num_clusters is None:
        num_clusters = _auto_num_clusters(odf.df.count())
    cents = centroids if centroids is not None else kmeans_centroids(
        odf, num_clusters, iters, id_col, vec_col)
    # kmeans_assign applies ensure_min_parallelism itself — no outer wrap
    assigned = kmeans_assign(odf, cents, vec_col=vec_col,
                             cluster_col=cluster_col)
    # norms hoisted out of the pair loop; screened rows (zero-norm,
    # NaN/Inf) are excluded from pair generation only and stay in the
    # OUTPUT via assigned
    base = _vec_side(assigned.df, [qcol(id_col), qcol(cluster_col)], vec_col,
                     "__v__", "__n__", checkpoint=True)
    a = base.select(qcol(cluster_col), qcol(id_col),
                    F.col("__v__").alias("__va__"), F.col("__n__").alias("__na__"))
    b = base.select(qcol(cluster_col), qcol(id_col).alias("__idb__"),
                    F.col("__v__").alias("__vb__"), F.col("__n__").alias("__nb__"))
    cos = _pair_cos("__va__", "__vb__", "__na__", "__nb__", precision)
    dropped = (a.join(b, on=cluster_col)
               .where(F.col("__idb__") < qcol(id_col))
               .where(cos >= threshold)
               .select(qcol(id_col)).distinct())
    return OmigoDF(assigned.df.join(dropped, on=id_col, how="left_anti"))


def _verified_dup_pairs(odf: OmigoDF, id_col: str, col: str,
                        threshold: float):
    """LSH candidates → exact-Jaccard verify, shared by dedup_near and
    cluster_near_dups (r10 review: the ten-line block was duplicated
    and would have drifted). Returns the verified (id_a, id_b) pairs.
    The (id, shingles) projection is checkpointed so the tokenizing
    expr runs once, not once per join side. The jaccard denominator
    is >= 1 by construction: a candidate pair shares >= 1 band, hence
    >= 1 shingle."""
    cands = lsh_candidate_pairs(odf, id_col, col).df
    sh = _key_stream(odf.df, id_col, F.expr(_shingles_spark(col)), gen=None)

    def side(s):
        return sh.select(qcol(id_col).alias("id_" + s), F.col("key").alias("sh_" + s))

    j = cands.join(side("a"), "id_a").join(side("b"), "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter.cast("double") / (F.size("sh_a") + F.size("sh_b") - inter)
    return j.where(jac >= threshold).select("id_a", "id_b")


def _exact_rep_mapping(df, id_col: str, col: str):
    """(id, __rep__) for every non-NULL-text row: __rep__ = the min id
    among rows with byte-identical text (hash-keyed, so the shuffle
    carries fixed-width fingerprints, never the text). One window over
    one exchange — a groupBy+join-back shape costs a second shuffle for
    the same answer. NULL-text rows are left out: they can never
    band/match (NULL shingles) and must survive near-dedup untouched,
    exactly as without the collapse.

    The fingerprint is md5 ++ xxhash64 ++ length, not md5 alone (r12
    advice): the collapse contract is 'EXACTLY the no-collapse result',
    and md5 collisions are adversarially constructible — a crafted
    colliding pair under md5 alone would silently merge two distinct
    documents. A pair colliding under md5 AND the structurally
    unrelated xxhash64 simultaneously has no known construction.
    F.concat (not concat_ws) so a NULL text NULL-propagates through
    the fingerprint and the isNotNull screen still excludes it."""
    fp = F.concat(F.md5(qcol(col)), F.lit("|"),
                  F.xxhash64(qcol(col)).cast("string"), F.lit("|"),
                  F.length(qcol(col)).cast("string"))
    w = Window.partitionBy("__fp__")
    return (df.select(qcol(id_col), fp.alias("__fp__"))
            .where(F.col("__fp__").isNotNull())
            .withColumn("__rep__", F.min(qcol(id_col)).over(w))
            .select(qcol(id_col), "__rep__"))


COLLAPSE_MIN_DUP_FRAC = 0.05
_COLLAPSE_CENSUS_FRACTION = 0.1


def _should_collapse(df, col: str, collapse_exact, threshold) -> bool:
    """Resolve the collapse_exact tri-state. 'auto' runs one SAMPLED
    duplicate census (md5 over ~10% of rows, one tiny agg) and collapses
    iff the sampled exact-duplicate fraction crosses
    COLLAPSE_MIN_DUP_FRAC. Corpus shape has to pick the path — measured:
    collapsing is 5-17× FASTER on a 5k-identical probe but 3× SLOWER on
    200k near-unique docs (the representative semi-join re-shuffles the
    full text for nothing). A sample suffices because only LARGE
    identical groups cause the g² candidate cliff the collapse exists
    for, and large groups are exactly what a 10% sample cannot miss;
    scattered small-group duplication it underestimates is also the
    duplication the collapse barely helps.

    Tri-state is ENFORCED (r12 advice): any value other than
    True/False/'auto' raises — previously 'always'/'yes'/1.5 fell
    through to the census silently — and an explicit True overridden
    by the threshold>1.0 guard warns instead of being ignored."""
    if collapse_exact is not True and collapse_exact is not False \
            and collapse_exact != "auto":
        raise ValueError(
            f"collapse_exact must be True, False or 'auto', got "
            f"{collapse_exact!r}")
    if threshold > 1.0:
        if collapse_exact is True:
            import warnings
            warnings.warn(
                "collapse_exact=True ignored: threshold > 1.0 means no "
                "pair can verify, so collapsing would over-drop; taking "
                "the no-collapse path", UserWarning, stacklevel=3)
        return False
    if collapse_exact is False:
        return False
    if collapse_exact is True:
        return True
    s = (df.select(F.md5(qcol(col)).alias("__fp__"))
         .where(F.col("__fp__").isNotNull())
         .sample(fraction=_COLLAPSE_CENSUS_FRACTION, seed=20260816))
    stats = s.agg(F.count(F.lit(1)).alias("n"),
                  F.count_distinct("__fp__").alias("u")).first()
    n, u = stats["n"] or 0, stats["u"] or 0
    return n > 0 and (n - u) / n >= COLLAPSE_MIN_DUP_FRAC


def dedup_near(odf: OmigoDF, id_col: str = "doc_id", col: str = "text",
               threshold: float = 0.7,
               collapse_exact: bool | str = "auto") -> OmigoDF:
    """LSH candidates → exact-Jaccard verification → drop the higher id of
    each confirmed near-dup pair (connected via min-representative).

    ``collapse_exact`` (r11): byte-identical documents can be collapsed
    to their min-id representative first, with only representatives
    entering LSH. Identical docs share every band and verify at Jaccard
    1.0, so the result is EXACTLY the no-collapse result — but the
    candidate-pair work drops from O(Σ gᵢ²) over identical groups to
    O(distinct²-ish). The trade is corpus-shaped: 5-17× faster on a
    duplicate-heavy probe (5,000 identical docs: 40.6 s → ~4 s), but 3×
    SLOWER on a 200k near-unique corpus (the representative semi-join
    re-shuffles the full text for nothing). Default ``"auto"`` decides
    with one cheap sampled census over an md5 projection (stats only —
    the collapse mapping itself keys on md5 ++ xxhash64 ++ length,
    collision-resistant); True / False pin either path.
    threshold > 1 always takes the no-collapse path (nothing verifies
    there, so collapsing would over-drop)."""
    df = odf.df
    if _should_collapse(df, col, collapse_exact, threshold):
        mapping = _exact_rep_mapping(df, id_col, col) \
            .localCheckpoint(eager=False)
        reps = mapping.where(qcol(id_col) == F.col("__rep__")) \
                      .select(qcol(id_col))
        rep_rows = OmigoDF(df.join(reps, id_col, "left_semi"))
        dup_reps = (_verified_dup_pairs(rep_rows, id_col, col, threshold)
                    .select(F.col("id_b").alias(id_col)))
        non_reps = mapping.where(qcol(id_col) != F.col("__rep__")) \
                          .select(qcol(id_col))
        dropped = dup_reps.unionByName(non_reps).distinct()
        return OmigoDF(df.join(dropped, on=id_col, how="left_anti"))
    dup_ids = (_verified_dup_pairs(odf, id_col, col, threshold)
               .select(F.col("id_b").alias(id_col)).distinct())
    return OmigoDF(df.join(dup_ids, on=id_col, how="left_anti"))
