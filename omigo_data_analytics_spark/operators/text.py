"""Text-analysis operators for large-scale training-data pipelines:
tokenization stats, quality scoring, language-ID heuristic, document
fingerprinting.

Design: every metric is a pure SQL expression evaluated per row — no UDFs,
no shuffle, whole-stage codegen all the way. The same formula is emitted in
two dialects (Spark SQL for the engine, DuckDB SQL for the correctness
oracle) from one definition, so the oracle checks the exact semantics the
engine runs. At 100 TB these are embarrassingly parallel map-side
expressions over the scan.
"""

from __future__ import annotations

import re

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..core.colutils import qcol, quote
from ..core.dataframe import OmigoDF, _hash, _row_key
from ..core.jobs import nonunique_counts

# ------------------------------------------------------------------ shared
# Tokens: whitespace split, empties dropped. Both dialects agree.
_TOKENS_SPARK = "filter(split({col}, ' +'), x -> x != '')"
_TOKENS_DUCK = "list_filter(string_split_regex({col}, ' +'), x -> x != '')"

# Portable whitespace run for the regex tokenizers/normalizers — ONE
# definition, two dialects. NOT \s: Java's \s is [ \t\n\x0B\f\r] while
# RE2's (DuckDB) omits U+000B, so a corpus containing a vertical tab
# would tokenize differently between the engine and its oracle (verified:
# DuckDB string_split_regex keeps 'x\x0By' as one token where Spark
# splits it). The explicit class compiles to the identical automaton in
# both engines; U+000B consistently counts as a NON-space character on
# both sides (it joins the punctuation run in the BPE pre-tokenizer).
# The Spark variant doubles the backslashes because Spark's SQL string
# parser consumes one escape level (and its unescape knows only a fixed
# escape set — a single-backslash '\f' would silently become the letter
# f); DuckDB '...' literals keep backslashes for RE2 to interpret.
WS_RUN = r"[ \t\n\f\r]+"
WS_RUN_SPARK = WS_RUN.replace("\\", "\\\\")
WS_RUN_DUCK = WS_RUN

# Tiny per-language stopword marker sets for the n-gram/stopword language
# heuristic (public-knowledge common words).
LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "es": ("el", "la", "de"),
    "de": ("der", "die", "und"),
    "fr": ("le", "la", "et"),
    "zh": ("de", "shi", "bu"),
}
STOPWORDS = ("the", "a", "of", "and", "to", "in")

# Portable string hash: identical value in Spark SQL and DuckDB.
#   h(s) = first 60 bits of md5(s), mod 1000000007.
# md5 is a single native (hash-throughput) call in both engines — unlike a
# per-character lambda fold, which runs interpreted (no codegen for
# higher-order functions) and dominated the map cost at scale.
HASH_MOD = 1000000007


# SQL "let-binding": evaluate `val` once, reference it as `var` inside
# `body`. Implemented as a single-element higher-order transform, so the
# bound value is a lambda variable — Catalyst's CollapseProject cannot
# re-inline it into every reference (which would re-evaluate an O(tokens)
# expression per array element). Identical trick works in DuckDB.
def let_spark(val: str, var: str, body: str) -> str:
    return f"element_at(transform(array({val}), {var} -> {body}), 1)"


def let_duck(val: str, var: str, body: str) -> str:
    return f"(list_transform([{val}], {var} -> {body}))[1]"


# The exact shuffle-exchange alternation in executedPlan().toString()
# (module-level so the version-pin test asserts against THE production
# regex, not a copy). Only shuffle exchanges count — see the docstring.
_SHUFFLE_EXCHANGE_RE = (
    r"(?<![A-Za-z])Exchange (hashpartitioning|rangepartitioning|"
    r"RoundRobinPartitioning|SinglePartition)")


def ensure_min_parallelism(df, min_parts: int | None = None):
    """Repartition up to the session's default parallelism when the SCAN
    yielded fewer splits (small/compacted files are single row groups, so
    maxPartitionBytes cannot split them). Expression-heavy map operators
    call this so one task never serializes the whole corpus.

    The physical probe (``df.rdd.getNumPartitions()``) runs ONLY on
    SHUFFLE-free plans (bare scans / map chains / broadcast joins),
    where finalizing the plan is pure driver work. On a shuffled plan
    the probe would finalize AQE query stages — eagerly executing every
    upstream shuffle before the operator's own action — and the
    repartition it guards would discard AQE's coalesced partitioning.
    There the plan is returned untouched, and parallelism is NOT
    guaranteed: the shuffle writes ``spark.sql.shuffle.partitions``
    partitions, but AQE partition coalescing may merge small ones
    (below ``spark.sql.adaptive.coalescePartitions.minPartitionSize``)
    down to a single reduce task. Widening there would cost an eager
    stage run per call, so the trade is accepted; a caller that needs
    the width after a small shuffle repartitions explicitly.
    Only shuffle exchanges count: a BroadcastExchange never
    repartitions the probe side (a corpus scan broadcast-joined to a
    small dim is still single-task if the scan was one split), so the
    match is the exact shuffle-partitioning alternation, not the bare
    'Exchange' substring (which would also false-positive on plan
    literals containing the word).
    """
    # streaming plans: .rdd is illegal and micro-batch parallelism is the
    # source's concern — pass through so stateless map operators
    # (hash_embeddings, text metrics, ...) compose with readStream
    if df.isStreaming:
        return df
    target = min_parts or df.sparkSession.sparkContext.defaultParallelism
    try:
        # executedPlan (NOT sparkPlan: with AQE, EnsureRequirements only
        # inserts exchanges at the executedPlan stage) — its toString is
        # pure driver-side planning, verified job-free in the tests.
        plan = df._jdf.queryExecution().executedPlan().toString()
        derived = re.search(_SHUFFLE_EXCHANGE_RE, plan) is not None
    except Exception:
        # plan introspection unavailable: return the plan UNTOUCHED. The
        # old fallback (run the eager probe anyway) silently reintroduced
        # the AQE stage-finalizing regression this gate exists to prevent
        # whenever introspection broke — the probe is an optimization for
        # tiny-scan corpora, and skipping it is always correct (r8
        # advice). The plan-string format this regex assumes is pinned by
        # a version-sensitive test (test_shuffle_exchange_regex_matches_
        # this_spark_version) so a Spark upgrade that drifts the format
        # fails loudly instead of silently disabling the widen.
        return df
    if derived:
        return df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def hash_spark(expr: str) -> str:
    return (f"(CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"
            f" % {HASH_MOD}L)")


def hash_duck(expr: str) -> str:
    return (f"(CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"
            f" % {HASH_MOD})")


def _in_list(sql_items) -> str:
    return "(" + ", ".join(f"'{w}'" for w in sql_items) + ")"


# The marker sets counted per document: the stopwords, then one per
# language. In the Spark dialect one fold over the tokens counts them all
# (``_spark_counts``).
_MARKER_SETS = {"stop": STOPWORDS, **LANG_MARKERS}


def _spark_counts(toks: str) -> str:
    """One ``aggregate`` fold over ``toks``: a struct of the summed token
    length (``len``) and the hits of each of ``_MARKER_SETS``. A fold per
    count would walk the tokens once each, interpreted (higher-order
    functions have no codegen)."""
    zero = ", ".join([f"'{k}', 0" for k in _MARKER_SETS])
    step = ", ".join(
        [f"'{k}', a.{k} + IF(x IN {_in_list(words)}, 1, 0)"
         for k, words in _MARKER_SETS.items()])
    return (f"aggregate({toks}, named_struct('len', 0L, {zero}), "
            f"(a, x) -> named_struct('len', a.len + length(x), {step}))")


def _spark_bind(col: str, body: str) -> str:
    """``body`` over the let-bound tokens ``t0`` of ``col`` and their
    let-bound counts ``c0`` (``_spark_counts``), split and folded once per
    row."""
    return let_spark(_TOKENS_SPARK.format(col=quote(col)), "t0",
                     let_spark(_spark_counts("t0"), "c0", body))


def _metric_exprs(dialect: str, col: str = "text") -> dict[str, str]:
    """One definition, two dialects. Keys are output column names. A Spark
    expression reads the tokens as ``t0`` and their counts as ``c0``, so
    it holds only inside ``_spark_bind``."""
    if dialect == "spark":
        toks = "t0"
        size, distinct = "size", "array_distinct"
        sumlen = "c0.len"

        def count_in(name):
            return f"c0.{name}"
    else:
        toks = _TOKENS_DUCK.format(col=col)
        size, distinct = "len", "list_distinct"
        sumlen = f"list_sum(list_transform({toks}, x -> length(x)))"

        def count_in(name):
            return (f"len(list_filter({toks}, "
                    f"x -> x in {_in_list(_MARKER_SETS[name])}))")

    n = f"{size}({toks})"
    # Ratio denominator: empty/whitespace-only documents have n = 0, and
    # under Spark 4's default ANSI mode an unguarded division THROWS
    # DIVIDE_BY_ZERO — one empty doc in the corpus kills the whole job
    # (r10 review; real corpora always contain empty docs). nullif makes
    # every ratio NULL for token-less docs, which is exactly what DuckDB
    # already returned naturally (x/0 → NULL), so the oracle parity is
    # unchanged; applied in both dialects for one-definition symmetry.
    nz = f"nullif({n}, 0)"
    uniq = f"{size}({distinct}({toks}))"
    stop = count_in("stop")
    exprs = {
        "token_count": f"CAST({n} AS BIGINT)",
        "uniq_token_count": f"CAST({uniq} AS BIGINT)",
        "type_token_ratio": f"round(CAST({uniq} AS DOUBLE) / {nz}, 6)",
        "avg_token_len": f"round(CAST({sumlen} AS DOUBLE) / {nz}, 6)",
        "stopword_ratio": f"round(CAST({stop} AS DOUBLE) / {nz}, 6)",
    }
    # quality: length credit + lexical diversity − stopword dominance
    exprs["quality_score"] = (
        f"round(0.3 * least(CAST({n} AS DOUBLE) / 100.0, 1.0)"
        f" + 0.4 * (CAST({uniq} AS DOUBLE) / {nz})"
        f" + 0.3 * (1.0 - CAST({stop} AS DOUBLE) / {nz}), 6)")
    # language-ID: argmax of marker-set hit counts, deterministic tie
    # order. The zero-signal guard comes FIRST: without it the argmax
    # CASE always matches some language (every score ties at 0 and the
    # first in order wins), so 'und' was unreachable and out-of-set
    # documents were all labeled 'en'
    scores = {lang: count_in(lang) for lang in LANG_MARKERS}
    order = list(LANG_MARKERS)
    all_scores = ", ".join(scores[lang] for lang in order)
    case = f"CASE WHEN greatest({all_scores}) = 0 THEN 'und' "
    for i, lang in enumerate(order):
        conds = [f"{scores[lang]} >= {scores[o]}" for o in order[i + 1:]]
        conds += [f"{scores[lang]} > {scores[o]}" for o in order[:i]]
        cond = " AND ".join(conds) if conds else "TRUE"
        case += f"WHEN {cond} THEN '{lang}' "
    case += "ELSE 'und' END"
    exprs["lang_guess"] = case
    return exprs


METRICS = list(_metric_exprs("spark"))


# ------------------------------------------------------------------ engine
def text_metrics(odf: OmigoDF, col: str = "text", metrics=None) -> OmigoDF:
    """Append text metric columns. Pure expressions — map-side only."""
    names = list(metrics or METRICS)
    exprs = _metric_exprs("spark", col)
    struct = "named_struct(" + ", ".join(f"'{m}', {exprs[m]}" for m in names) + ")"
    # inline() makes the metrics generator outputs real attributes: the
    # token array and its counts are let-bound (once per row) and
    # project-collapse cannot duplicate the computation into each column.
    gen = _spark_bind(col, struct)
    out = ensure_min_parallelism(odf.df).select("*", F.expr(f"inline(array({gen}))"))
    return OmigoDF(out)


_ASCII_UP = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_ASCII_LO = "abcdefghijklmnopqrstuvwxyz"


def fingerprint(odf: OmigoDF, col: str = "text", new_col: str = "fingerprint",
                case_fold: str = "full") -> OmigoDF:
    """Document fingerprint: md5 of whitespace-normalized lowercase text.
    (The rolling/shingle variants live in dedup.py.)

    Known cross-engine Unicode boundary (r11 probe): ``lower`` follows
    each engine's Unicode library, and the two disagree ONLY on
    SpecialCasing one-to-many mappings — the JVM lowers U+0130 'İ' to
    'i'+U+0307 (combining dot) where DuckDB/utf8proc yields plain 'i';
    ditto upper('ß')→'SS' vs 'ẞ' and ligature expansion. Both are valid
    Unicode; fingerprints are self-consistent within the engine (what
    dedup needs), but a fingerprint computed here won't byte-match one
    computed by a utf8proc-based tool for text containing those few
    codepoints. Same boundary applies to every lowercasing tokenizer
    (token_counts/tfidf/inverted_index).

    ``case_fold`` (r12, the r11 verdict's optional knob):
    - ``"full"`` (default, unchanged) — the engine's Unicode lower.
    - ``"ascii"`` — fold ONLY A-Z via translate. ASCII casing has no
      SpecialCasing, so the fingerprint is byte-stable across JVM,
      utf8proc/DuckDB and any other tool — the portable choice when
      fingerprints are exchanged between engines. Non-ASCII case
      variants of the same word then fingerprint differently; that is
      the documented trade."""
    if case_fold not in ("full", "ascii"):
        raise ValueError(
            f"fingerprint: case_fold must be 'full' or 'ascii', got "
            f"{case_fold!r}")
    base = F.regexp_replace(F.trim(qcol(col)), WS_RUN, " ")
    norm = F.lower(base) if case_fold == "full" else \
        F.translate(base, _ASCII_UP, _ASCII_LO)
    return OmigoDF(odf.df.withColumn(new_col, F.md5(norm)))


def chunk_documents(odf: OmigoDF, col: str = "text", max_tokens: int = 64,
                    overlap: int = 8, chunk_col: str = "chunk",
                    idx_col: str = "chunk_idx",
                    n_tokens_col: str = "chunk_n_tokens") -> OmigoDF:
    """Split documents into overlapping token-window chunks — the standard
    pre-tokenization step of an LLM training pipeline (context-sized
    pieces with `overlap` tokens of continuity between neighbors).

    One chunk starts every (max_tokens - overlap) tokens; every token
    position belongs to at least one chunk and the final chunk may be
    short. Pure map-side expressions (split once per row, sequence →
    slice → explode): no shuffle, rows fan out in place, so a 100 TB
    corpus chunks at scan speed. Tokenization is the token-count
    metric's (runs of whitespace collapse, empty tokens dropped) — a
    bare split(' ') would count phantom empty tokens on double spaces
    and shift chunk boundaries."""
    if overlap >= max_tokens:
        raise ValueError(f"overlap ({overlap}) must be < max_tokens ({max_tokens})")
    from .dedup import _tokens
    step = max_tokens - overlap
    d = odf.df.withColumn("__toks__", F.expr(_tokens("spark", col)))
    gen = (f"posexplode(transform("
           f"sequence(0, greatest(size(__toks__) - 1, 0), {step}), "
           f"s -> struct("
           f"concat_ws(' ', slice(__toks__, s + 1, {max_tokens})) AS c, "
           f"size(slice(__toks__, s + 1, {max_tokens})) AS n)))")
    out = (ensure_min_parallelism(d)
           .select("*", F.expr(gen).alias("__pos__", "__chunk__"))
           .withColumn(idx_col, F.col("__pos__").cast("bigint"))
           .withColumn(chunk_col, F.col("__chunk__.c"))
           .withColumn(n_tokens_col, F.col("__chunk__.n").cast("bigint"))
           .drop("__toks__", "__pos__", "__chunk__"))
    return OmigoDF(out)


def token_counts(odf: OmigoDF, col: str = "text", min_count: int = 1,
                 lowercase: bool = True) -> OmigoDF:
    """Corpus token statistics — the vocabulary step of tokenizer
    training: (token, count, doc_freq) over whitespace tokens.

    Plan: map-side explode of the token array (with a per-row distinct
    for doc_freq computed from the same split), one hash aggregation on
    token — partial/final combine keeps the shuffle at vocabulary size,
    not corpus size. `min_count` prunes the long tail after the agg."""
    toks = F.split(F.lower(qcol(col)) if lowercase else qcol(col), " ")
    d = (ensure_min_parallelism(odf.df)
         .select(F.explode(toks).alias("token"),
                 F.lit(1).alias("__occ__"))
         .where(F.col("token") != ""))
    per_doc = (ensure_min_parallelism(odf.df)
               .select(F.explode(F.array_distinct(toks)).alias("token"))
               .where(F.col("token") != "")
               .groupBy("token").agg(F.count(F.lit(1)).alias("doc_freq")))
    counts = d.groupBy("token").agg(F.sum("__occ__").alias("count"))
    out = (counts.join(per_doc, "token")
           .where(F.col("count") >= min_count))
    return OmigoDF(out)


def tfidf_top_terms(odf: OmigoDF, id_col: str = "doc_id", col: str = "text",
                    k: int = 3, lowercase: bool = True) -> OmigoDF:
    """Top-k terms per document by tf-idf (idf = ln(N / df), natural log,
    df = docs containing the term). Ties break by term ascending, so the
    ranking is total and both engines agree.

    Plan shape at scale: one explode + (term) agg for document
    frequencies, one explode + (doc, term) agg for term frequencies, an
    equi-join on term (df side is vocabulary-sized — AQE broadcasts it
    for real corpora), then a per-doc window top-k. Shuffles carry
    (term) and (doc, term) tuples, never full documents."""
    toks = F.split(F.lower(qcol(col)) if lowercase else qcol(col), " ")
    base = ensure_min_parallelism(odf.df).select(
        qcol(id_col), toks.alias("__toks__"))
    n_docs = base.count()
    tf = (base.select(qcol(id_col), F.explode("__toks__").alias("term"))
          .where(F.col("term") != "")
          .groupBy(qcol(id_col), "term").agg(F.count(F.lit(1)).alias("tf")))
    df_ = (base.select(F.explode(F.array_distinct("__toks__")).alias("term"))
           .where(F.col("term") != "")
           .groupBy("term").agg(F.count(F.lit(1)).alias("df")))
    scored = (tf.join(df_, "term")
              .withColumn("tfidf",
                          F.round(F.col("tf")
                                  * F.log(F.lit(float(n_docs)) / F.col("df")),
                                  6)))
    w = Window.partitionBy(qcol(id_col)).orderBy(
        F.col("tfidf").desc(), F.col("term").asc())
    out = (scored.withColumn("__rk__", F.row_number().over(w))
           .where(F.col("__rk__") <= k)
           .select(qcol(id_col), "term", "tf", "df", "tfidf",
                   F.col("__rk__").alias("rank")))
    return OmigoDF(out)


def inverted_index(odf: OmigoDF, id_col: str = "doc_id", col: str = "text",
                   max_postings: int = 100, lowercase: bool = True) -> OmigoDF:
    """Token → postings index: (term, doc_freq, postings) where postings
    is the comma-joined ascending doc-id list, truncated to the first
    ``max_postings`` ids (doc_freq keeps the full count).

    Plan (r10 rewrite, r13 de-skew): the r10 shape capped the agg
    BUFFER (truncate before collect) but computed doc_freq as an
    unordered count window over the same term partition — and that
    full-partition count DEFEATS WindowGroupLimit (the map-side
    pre-limit would break the count), so a stopword term still landed
    its entire posting list in ONE window task (r13 window audit:
    wgl=False). Now doc_freq comes from a partial-aggregated
    groupBy(term) count joined back on term (structurally skew-free),
    and the rank window carries ONLY the row_number + filter —
    WindowGroupLimit engages, so every map task emits at most
    max_postings rows per term BEFORE the exchange: the stopword's
    billion rows never cross the wire. Costs one extra corpus scan for
    the count (map-parallel, cheap at scale) — the straggler and the
    unbounded shuffle are gone. Output identical."""
    toks = F.split(F.lower(qcol(col)) if lowercase else qcol(col), " ")
    ex = (ensure_min_parallelism(odf.df)
          .select(F.explode(F.array_distinct(toks)).alias("term"),
                  qcol(id_col))
          .where(F.col("term") != ""))
    w_rank = Window.partitionBy("term").orderBy(qcol(id_col).asc())
    ranked = (ex.withColumn("__rk__", F.row_number().over(w_rank))
              .where(F.col("__rk__") <= max_postings))
    dfreq = ex.groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
    # struct under a SANITIZED field name: F.struct("__rk__", id_col)
    # parses the raw name and the transform expr would interpolate it
    # unquoted — dotted/backticked id columns broke here while every
    # other entry point was quoted (r13 advice)
    posts = (ranked.groupBy("term")
             .agg(F.array_sort(F.collect_list(
                 F.struct(F.col("__rk__"), qcol(id_col).alias("__pid__"))))
                  .alias("__rows__")))
    out = (posts.join(dfreq, on="term")
           .select("term", "doc_freq",
                   F.concat_ws(",", F.expr(
                       "transform(__rows__, r -> CAST(r.__pid__ AS STRING))"))
                   .alias("postings")))
    return OmigoDF(out)


# PII patterns kept to the regex subset Java (Spark) and RE2 (DuckDB)
# treat identically: no backrefs, no lookaround.
PII_PATTERNS = [
    # order matters: specific shapes before the permissive phone pattern
    # (an SSN is also a valid phone-shaped digit run)
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b"),
    # 10-15 DIGITS with single optional separators — the earlier
    # \d[\d -]{7,14}\d shape also matched ISO dates ('2026-08-14') and
    # numeric ranges ('1000 - 2000'), silently mangling non-PII text
    ("phone", r"\b\+?(?:\d[ -]?){9,14}\d\b"),
]


def redact_pii(odf: OmigoDF, col: str = "text", new_col: str | None = None,
               kinds=None) -> OmigoDF:
    """Replace email / IPv4 / phone-number / SSN-shaped spans with
    ``<KIND>`` tokens — the standard curation scrub before a corpus
    becomes training data. Pure chained regexp_replace expressions:
    map-side, codegen, no shuffle; patterns are anchored to the
    Java∩RE2 regex subset so the DuckDB oracle applies the identical
    automaton."""
    out_col = new_col or col
    use = [(k, p) for k, p in PII_PATTERNS
           if kinds is None or k in set(kinds)]
    expr = qcol(col)
    for kind, pat in use:
        expr = F.regexp_replace(expr, pat, f"<{kind.upper()}>")
    return OmigoDF(odf.df.withColumn(out_col, expr))


def redact_pii_sql_duck(col: str = "text", kinds=None) -> str:
    use = [(k, p) for k, p in PII_PATTERNS
           if kinds is None or k in set(kinds)]
    expr = col
    for kind, pat in use:
        lit = pat.replace("'", "''")  # DuckDB '...' takes backslashes literally
        expr = f"regexp_replace({expr}, '{lit}', '<{kind.upper()}>', 'g')"
    return expr


# ------------------------------------------------------------------ oracle
def metric_sql(dialect: str, metric: str, col: str = "text") -> str:
    expr = _metric_exprs(dialect, col)[metric]
    return _spark_bind(col, expr) if dialect == "spark" else expr


def fingerprint_sql_duck(col: str = "text", case_fold: str = "full") -> str:
    base = f"regexp_replace(trim({col}), '{WS_RUN_DUCK}', ' ', 'g')"
    low = f"lower({base})" if case_fold == "full" else \
        f"translate({base}, '{_ASCII_UP}', '{_ASCII_LO}')"
    return f"md5({low})"


# ------------------------------------------------- training-batch packing
def pack_sequences(odf: OmigoDF, token_col: str, budget: int,
                   key_cols, seed: int = 0, n_buckets: int = 256,
                   bin_col: str = "bin_id",
                   check_unique: bool = False) -> OmigoDF:
    """Assign every document to a fixed-token-budget training bin —
    contiguous greedy packing in a deterministic portable-hash order.
    The concatenated token stream partitions into budget-sized offset
    ranges and a document belongs to the range its start offset falls
    in (bin = floor(exclusive_cumsum / budget)). ``key_cols`` MUST
    uniquely identify rows: the hash order breaks ties on the key, so
    duplicate-key rows are interchangeable under the sort and which one
    precedes the other in the cumsum is partition-order-dependent —
    their bin ids (and every later row's start offset) can differ
    between runs/engines. Pass ``check_unique=True`` to spend one
    counting job verifying that — a ``UserWarning`` fires on duplicate
    keys (opt-in: the check is a full-input aggregate, so it isn't free
    at 100 TB). When every document is
    smaller than ``budget``, bin ids are contiguous and each bin's
    assigned token volume deviates from ``budget`` by at most the
    largest single document (a straddling document overshoots its own
    bin and consumes the next bin's range); a document LARGER than the
    budget occupies several ranges and skips the bin ids its body
    covers. The contiguous approximation — exact per-bin capacity
    capping is inherently sequential. The order is hash(key, seed), so the
    packing is reproducible across runs and engines — NOT stable under
    corpus growth (a global prefix sum shifts by construction; repack
    per training snapshot).

    Scale: NO global window. The classic two-level distributed prefix
    sum: docs land in ``n_buckets`` hash-order buckets; per-bucket token
    totals (a ``n_buckets``-row aggregate) turn into exclusive bucket
    offsets via a tiny window over n_buckets rows, broadcast back; the
    within-bucket running sum is a window partitioned BY BUCKET. Every
    shuffle is either n_buckets rows or hash-partitioned by bucket —
    nothing single-partition, any corpus size."""
    tks = odf._resolve([token_col])[0]
    gcols = odf._resolve(key_cols)
    if budget <= 0:
        raise ValueError("pack_sequences: budget must be positive")
    tie = F.expr(_row_key(gcols))  # the key identity
    if check_unique and (counts := nonunique_counts(odf.df, tie)):
        import warnings
        warnings.warn(
            f"pack_sequences: key_cols {gcols} does not uniquely "
            f"identify rows ({counts[0]} rows, {counts[1]} distinct "
            "keys) — duplicate-key rows' relative cumsum order (and so "
            "bin assignment) is partition-order-dependent",
            UserWarning, stacklevel=2)
    d = (odf.df
         .withColumn("__h__", _hash(_row_key(gcols, seed)))
         .withColumn("__bkt__", F.pmod(F.col("__h__"), F.lit(n_buckets))))
    per_bucket = (d.groupBy("__bkt__")
                  .agg(F.sum(qcol(tks).cast("long")).alias("__btot__")))
    woff = (Window.orderBy("__bkt__")
            .rowsBetween(Window.unboundedPreceding, -1))
    offsets = per_bucket.select(
        "__bkt__",
        F.coalesce(F.sum("__btot__").over(woff), F.lit(0)).alias("__boff__"))
    win = (Window.partitionBy("__bkt__").orderBy(F.col("__h__").asc(),
                                                 tie.asc())
           .rowsBetween(Window.unboundedPreceding, -1))
    out = (d.join(F.broadcast(offsets), "__bkt__")
           .withColumn("__start__",
                       F.col("__boff__")
                       + F.coalesce(F.sum(qcol(tks).cast("long")).over(win),
                                    F.lit(0)))
           .withColumn(bin_col,
                       F.floor(F.col("__start__") / F.lit(budget))
                       .cast("long"))
           .drop("__h__", "__bkt__", "__boff__", "__start__"))
    return OmigoDF(out)


def pack_sequences_sql_duck(table: str, token_col: str, budget: int,
                            key_cols, seed: int = 0,
                            n_buckets: int = 256,
                            bin_col: str = "bin_id",
                            select: str = "d.*") -> str:
    """DuckDB replay: one global exclusive cumsum in (bucket, hash, key)
    order — semantically identical to the two-level distributed form."""
    key = "concat_ws(chr(9), " + ", ".join(
        f"coalesce(CAST({c} AS VARCHAR), '')"
        for c in key_cols) + f", '{seed}')"
    h = hash_duck(key)
    tie = "concat_ws(chr(9), " + ", ".join(
        f"coalesce(CAST({c} AS VARCHAR), '')"
        for c in key_cols) + ")"
    return f"""
SELECT {select},
       CAST(FLOOR(COALESCE(SUM(CAST({token_col} AS BIGINT)) OVER (
                ORDER BY ({h}) % {n_buckets}, {h}, {tie}
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            / {budget}) AS BIGINT) AS {bin_col}
FROM {table} d
"""


# --------------------------------------------------- BPE-ish token estimate
# GPT-2-style pre-tokenizer pieces, lookahead-free so the SAME pattern
# runs under Java regex (Spark) and RE2 (DuckDB): contractions, a
# space-prefixed letter run, a space-prefixed digit run, a
# space-prefixed punctuation run, or a whitespace run. Whitespace is the
# explicit WS_RUN class, not \s (Java's \s includes U+000B, RE2's does
# not — see WS_RUN above); U+000B lands in the punctuation-run class on
# BOTH engines. Residual cross-engine assumption: \p{L}/\p{N} read each
# engine's Unicode property tables, which agree on every assigned
# codepoint of the scripts real corpora use but can differ for
# codepoints added between the JVM's and RE2's Unicode versions — a
# documented edge, not worth forfeiting Unicode-aware letter runs over.
BPE_PRETOKEN_RE = (r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+"
                   r"| ?[^ \t\n\f\r\p{L}\p{N}]+|" + WS_RUN)


def token_estimate_exprs(dialect: str, col: str = "text",
                         chars_per_subword: int = 4) -> dict[str, str]:
    """One definition, two dialects (the `_metric_exprs` pattern):

    * ``pretoken_count``  — number of GPT-2-style pre-tokenizer pieces.
      Whitespace splitting undercounts LLM tokens badly on code and
      punctuation-dense text ("foo.bar(x)" is 1 whitespace token but 6
      pre-tokenizer pieces); this is the standard first-order correction.
    * ``token_estimate``  — estimated BPE token count: each piece
      contributes max(1, ceil(len/chars_per_subword)) subwords (the
      ~4-chars-per-token rule of thumb). An ESTIMATE for budgeting and
      mixture math, not a tokenizer: real BPE merges depend on the
      trained vocab, which is model-specific.

    Map-side pure SQL either way — at 100 TB the cost is the scan."""
    cps = f"CAST({chars_per_subword} AS DOUBLE)"
    if dialect == "spark":
        pat = BPE_PRETOKEN_RE.replace("\\", "\\\\").replace("'", "\\'")
        arr = f"regexp_extract_all({quote(col)}, '{pat}', 0)"
        est = (f"aggregate(a0, 0L, (a, x) -> a + greatest(1L, "
               f"CAST(ceil(length(trim(x)) / {cps}) AS BIGINT)))")
        return {
            "pretoken_count": f"CAST(size({arr}) AS BIGINT)",
            "token_estimate": let_spark(arr, "a0", est),
        }
    pat = BPE_PRETOKEN_RE.replace("'", "''")
    arr = f"regexp_extract_all({col}, '{pat}')"
    # list_sum([]) is NULL in DuckDB while Spark's aggregate of an empty
    # array is the 0 seed — coalesce, but only under a non-NULL input
    est = (f"CASE WHEN {col} IS NULL THEN NULL ELSE "
           f"CAST(COALESCE(list_sum(list_transform(a0, x -> greatest(1, "
           f"CAST(ceil(length(trim(x)) / {cps}) AS BIGINT)))), 0) "
           f"AS BIGINT) END")
    return {
        "pretoken_count": f"CAST(len({arr}) AS BIGINT)",
        "token_estimate": let_duck(arr, "a0", est),
    }


def token_estimates(odf: OmigoDF, col: str = "text",
                    chars_per_subword: int = 4) -> OmigoDF:
    """Append ``pretoken_count`` and ``token_estimate`` (see
    ``token_estimate_exprs``). Completes the token-counting family:
    whitespace counts live in ``text_metrics`` (token_count), this is
    the BPE-ish estimate an LLM-pipeline budget actually needs."""
    odf._resolve(col)
    df = ensure_min_parallelism(odf.df)
    exprs = token_estimate_exprs("spark", col, chars_per_subword)
    return OmigoDF(df.select(
        "*", *[F.expr(e).alias(name) for name, e in exprs.items()]))
