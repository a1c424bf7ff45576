"""Time-series relational operators Spark lacks natively: as-of join,
interval (range) join, and gap-based sessionization.

The reference engine's workloads are event/telemetry tables (its window
aggregate DF:5105-5180 and time-ordered graph filters GT:214-300 both
assume per-key time ordering); these operators complete that family with
the three standard time-series joins a training-data / analytics pipeline
needs.

Scale design (the point of each implementation):

* ``asof_join`` — NOT a range join. Both sides are tagged and unioned,
  then a single window pass per key carries the most recent right-side
  row forward. One shuffle on the join key, no inequality join, no
  candidate blowup: cost is O(n log n) per key regardless of how far back
  the match is. This is the plan you want at 100 TB; a naive
  ``t_left >= t_right`` join is quadratic per key.
* ``range_join`` — inequality joins have no hash strategy in any engine;
  the distributed answer is binning: quantize the point side and explode
  the interval side into the bins it overlaps, equi-join on
  (key, bin), then re-check the exact predicate. Shuffle is
  O(rows x avg_bins); pick ``bin_width`` near the typical interval
  length so avg_bins stays ~2.
* ``sessionize`` — two window functions over ONE sort: lag to flag gap
  breaks, running sum over the same (key, time) order to number
  sessions. Catalyst plans both in a single Exchange+Sort pair.

Hot-key routing. The four ordered carries (``asof_join``,
``sessionize``, ``rolling_aggregate``, ``merge_intervals``) run a window
partitioned by the key, so a skewed key is ONE task — the shuffle-skew
class AQE cannot split. Each carry normalizes and checks its arguments
once, then hands two builders to ``_ordered_carry``, the one dispatcher:
the plain single-window plan and an exact bucketed plan over (key,
time-bucket) partitions. The dispatcher alone checks
``time_buckets_sec`` and picks the plan. Without ``time_buckets_sec``
the plain plan runs, and ``hot_key_rows`` arms a zero-extra-job hot-key
warning on it (``_watch_hot_keys``). With it, ``hot_key_rows=None``
buckets every key without a census; any other value lets
``_route_hot_keys`` send only the hot keys to the bucketed plan. One
eager census job counts rows per key (for ``asof_join`` over the
combined left and right keys, so an as-of pair never splits across the
two plans); it localCheckpoints the hot-key set and observes the
distinct and hot key counts on the same job, and those counts decide
the plan. No hot key (empty input included): the plain plan alone.
Every key hot: the bucketed plan alone. Only a mixed census splits
every input by the hot set with a null-safe semi/anti join, runs hot
rows bucketed and cold rows plain, and unions the results
hot-then-cold. At ``hot_key_rows`` of 1 or less every present key is
hot, so an emptiness probe (one job; each task stops at its first row)
stands in for the census. ``hot_key_rows`` is the threshold (``"auto"`` = 262,144
rows, an int pins it) for the census and for the plain plan's watch
alike, cold side included.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..core.colutils import aliased, qcol
from ..core.dataframe import OmigoDF
from ..core.jobs import checkpoint_with_metrics, observe_async


def _df(x) -> DataFrame:
    return x.df if isinstance(x, OmigoDF) else x


def _epoch_sec(df: DataFrame, col: str, ref: Column | None = None) -> Column:
    """Time column as epoch-seconds double, whatever its type: TIMESTAMP /
    TIMESTAMP_NTZ go through unix_micros (NTZ casts to session-TZ
    timestamp first — NTZ cannot cast straight to numeric), numerics and
    strings cast directly. ``ref`` supplies a dataframe-QUALIFIED column
    for join conditions where a bare F.col(name) would be ambiguous."""
    dt = df.schema[col].dataType.typeName()
    c = ref if ref is not None else qcol(col)
    if dt.startswith("timestamp"):
        return (F.unix_micros(c.cast("timestamp")) / F.lit(1e6))
    return c.cast("double")


def _bucket_join(lhs, rhs, keys, how: str = "inner"):
    """Join ``lhs`` to ``rhs`` on ``keys + ["__b__"]``, NULL-SAFE: plain
    ``on=`` equality would DROP the NULL-key / NULL-bucket groups the
    single-window plans keep. The sides are aliased because one usually
    derives from the other, so bare names would be ambiguous. Returns
    ``(joined, lc, rc)``; ``lc(c)`` / ``rc(c)`` name a side's column."""
    lc, rc = partial(aliased, "__jl__"), partial(aliased, "__jr__")
    cond = [lc(c).eqNullSafe(rc(c)) for c in keys + ["__b__"]]
    joined = lhs.alias("__jl__").join(rhs.alias("__jr__"), on=cond, how=how)
    return joined, lc, rc


_MAX_BUCKET = (1 << 63) - 1


def _time_bucket(t, span: float):
    """floor(t/span) with NaN pinned to the LAST bucket. Spark's
    floor(NaN/span) is 0, but NaN sorts GREATER than every double in
    the plain windows' order — bucket 0 would silently misplace NaN
    rows relative to the single-window plan (r13 extreme-values sweep
    caught this on merge_intervals; sessionize/rolling/asof share the
    bucket expression). ±Inf already floors to Long.MAX/MIN, which
    sort consistently; +Inf sharing the MAX bucket with NaN is fine —
    the in-bucket (t, ...) order stays exact."""
    return F.when(F.isnan(t), F.lit(_MAX_BUCKET)).otherwise(
        F.floor(t / F.lit(float(span))))


def _bucket_frame(d, keys, t_col: str, span: float):
    """``(d with __b__, ws)``: ``__b__`` is the time bucket of column
    ``t_col``, and ``ws`` orders each key's (key, bucket) summary frame
    by bucket. NULL times bucket to NULL, which sorts FIRST in ``ws``,
    exactly as a NULL time sorts first in the single-window plans'
    ascending order."""
    return (d.withColumn("__b__", _time_bucket(F.col(t_col), span)),
            Window.partitionBy(*map(qcol, keys))
            .orderBy(F.col("__b__").asc_nulls_first()))


def _ordered_carry(op: str, inputs, keys, time_buckets_sec, hot_key_rows,
                   plain, bucketed) -> OmigoDF:
    """The one plain/bucketed/routed dispatch of the ordered carries
    (module docstring). ``plain(*frames, hot_key_rows)`` builds the
    single-window plan, its hot-key watch armed at ``hot_key_rows``;
    ``bucketed(*frames, span)`` builds the bucketed plan. Both take one
    frame per input, in order."""
    if time_buckets_sec is None:
        return plain(*inputs, hot_key_rows)
    if time_buckets_sec <= 0:
        raise ValueError(f"{op}: time_buckets_sec must be positive")
    span = float(time_buckets_sec)
    if hot_key_rows is None:
        return bucketed(*inputs, span)
    return _route_hot_keys(inputs, keys, hot_key_rows,
                           lambda *d: bucketed(*d, span),
                           lambda *d: plain(*d, hot_key_rows))


def asof_join(left, right, on: list[str] | str, left_time: str,
              right_time: str | None = None, suffix: str = "r",
              tolerance_sec: float | None = None,
              direction: str = "backward",
              tiebreak_cols: list[str] | None = None,
              time_buckets_sec: float | None = None,
              hot_key_rows: int | str | None = "auto") -> OmigoDF:
    """For each left row, attach the latest right row whose time is <= the
    left row's time (``direction='backward'``, inclusive — the default) or
    the earliest right row whose time is >= it (``'forward'``), matching
    on `on` keys.

    Implementation: tag right rows 0 / left rows 1, union by name, and
    window ``last(payload, ignoreNulls) OVER (PARTITION BY on ORDER BY
    time, side ROWS UNBOUNDED PRECEDING..CURRENT)``. Right rows sort
    before left rows at equal times, so same-timestamp matches are
    visible. Forward is the same single-shuffle plan on negated time.
    ``tolerance_sec`` drops matches further than the given horizon
    (checked after the carry, map-side).

    Right payload columns come back as ``{suffix}:{col}``; rows with no
    match keep nulls (left join semantics).

    Two RIGHT rows sharing (on, right_time) leave the carried payload
    partition-order dependent — the carry window's order is not total
    there (same hazard rolling_aggregate documents, r10 review). Pass
    ``tiebreak_cols`` (right-side payload columns completing a total
    order; the MAX tiebreak tuple wins among equal-time rows, in every
    direction) when right (on, time) can repeat; the default None means
    the caller asserts it is unique.

    The winning right row is carried ATOMICALLY: all payload columns
    ride one struct through a single ``last(ignorenulls=True)``, so a
    NULL cell in the winning row stays NULL in the output (r11 advice
    fix — per-column carries used to backfill such a cell from an
    EARLIER right row, tearing the result across two source rows).

    ``time_buckets_sec`` (the hot-key scale path, see the module
    docstring; ``hot_key_rows`` likewise): the carry runs inside (key,
    time-bucket) partitions; each bucket's LAST right row (struct +
    match time, max (t, tiebreaks) — the same winner the window would
    pick) aggregates into a per-bucket summary, a tiny per-key running
    carry propagates it across bucket boundaries, and one null-safe
    join feeds it back as the carry-in for rows with no in-bucket
    match. Exact — identical to the single-window plan (equal times
    share a bucket, so tie semantics are untouched; property-tested).
    The census counts the COMBINED left+right rows per key.
    'nearest' runs the same bucketed carry in both directions before
    its pick."""
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"asof_join: unknown direction: {direction}")
    ldf, rdf = _df(left), _df(right)
    keys = [on] if isinstance(on, str) else list(on)
    rt = right_time or left_time
    r_payload = [c for c in rdf.columns if c not in keys]
    # validated BEFORE the empty-payload return, in every direction:
    # invalid tiebreak_cols raise even with nothing to carry
    tb = _asof_tiebreak(tiebreak_cols, r_payload)

    if not r_payload:
        # right has no payload beyond the keys — nothing to carry. The
        # router stays off (no census job); the span is still checked.
        def same(lf, _arg):
            return OmigoDF(lf)
        return _ordered_carry("asof_join", [ldf], keys, time_buckets_sec,
                              None, same, same)

    proj = keys + [c for c in ldf.columns if c not in keys]

    def carry(lf, rf, span, hot_key_rows):
        if direction == "nearest":
            u = _asof_union(lf, rf, keys, left_time, rt, r_payload)
            carried, pick = _asof_nearest(u, keys, tb, tolerance_sec, span,
                                          hot_key_rows)
        else:
            # forward as-of is backward as-of on negated time
            sign = F.lit(1.0) if direction == "backward" else F.lit(-1.0)
            u = _asof_union(lf, rf, keys, left_time, rt, r_payload, sign)
            # tiebreak cols order AFTER (__t__, __side__): they only
            # order right rows among themselves (left rows carry NULL
            # payload and sort as a block behind the side tag), so the
            # inclusive same-time semantics are untouched; last() then
            # deterministically picks the max tuple
            if span is not None:
                carried = _asof_carry_bucketed(u, keys, tb, span)
            else:
                w_base = Window.partitionBy(*map(qcol, keys)).orderBy(
                    "__t__", "__side__", *tb)
                w = w_base.rowsBetween(Window.unboundedPreceding,
                                       Window.currentRow)
                carried = u.select(
                    "*",
                    F.last("__r__", ignorenulls=True).over(w).alias("__c__"),
                    F.last(F.when(F.col("__side__") == 0, F.col("__t__")),
                           ignorenulls=True).over(w).alias("__match_t__"))
                carried = _watch_hot_keys(carried, w_base, "asof_join",
                                          hot_key_rows)
            carried = carried.where(F.col("__side__") == 1)
            if tolerance_sec is not None:
                keep = (F.col("__match_t__")
                        >= F.col("__t__") - F.lit(tolerance_sec))
                carried = carried.withColumn("__c__",
                                             F.when(keep, F.col("__c__")))
            pick = F.col("__c__")
        return OmigoDF(carried.select(
            *map(qcol, proj),
            *[pick.getField(c).alias(f"{suffix}:{c}") for c in r_payload]))

    return _ordered_carry(
        "asof_join", [ldf, rdf], keys, time_buckets_sec, hot_key_rows,
        lambda lf, rf, hkr: carry(lf, rf, None, hkr),
        lambda lf, rf, span: carry(lf, rf, span, None))


def _asof_union(ldf, rdf, keys, left_time, right_time, r_payload,
                sign: Column | None = None):
    """The as-of carries' input: left rows tagged ``__side__`` 1 with a
    NULL payload, right rows tagged 0, both timed as ``__t__`` (times
    ``sign`` when given), unioned by name. The WHOLE right payload rides
    one ``__r__`` struct so a carry picks a single right row atomically
    — a non-NULL struct with NULL fields is still non-NULL, so
    last(ignorenulls) never mixes cells from different right rows (r11
    advice fix)."""
    def timed(df, col):
        t = _epoch_sec(df, col)
        return df.withColumn("__t__", t if sign is None else sign * t)

    pay_struct = F.struct(*[qcol(c).alias(c) for c in r_payload])
    r_typed = rdf.select(pay_struct.alias("__r__")).schema["__r__"].dataType
    l_tagged = (timed(ldf, left_time)
                .withColumn("__side__", F.lit(1))
                .withColumn("__r__", F.lit(None).cast(r_typed)))
    # NULL-time right rows sort FIRST under the window's ascending order
    # (NULLs first), so their payload would be carried into every left
    # row with no earlier real match — a phantom match whose __match_t__
    # is NULL (r10 review, confirmed both directions). They can never be
    # a legitimate as-of match; drop them before the union.
    r_tagged = (timed(rdf, right_time)
                .where(F.col("__t__").isNotNull())
                .withColumn("__side__", F.lit(0))
                .withColumn("__r__", pay_struct))
    for c in ldf.columns:
        if c not in r_tagged.columns:
            r_tagged = r_tagged.withColumn(
                c, F.lit(None).cast(ldf.schema[c].dataType))
    cols = keys + ["__t__", "__side__", "__r__"] \
        + [c for c in ldf.columns if c not in keys]
    return (l_tagged.select(*map(qcol, cols))
            .unionByName(r_tagged.select(*map(qcol, cols))))


def _asof_carry_bucketed(u, keys, tb, span: float,
                         out_c: str = "__c__",
                         out_mt: str = "__match_t__"):
    """Bucketed directional as-of carry over the tagged union ``u``
    (see asof_join): local carry inside (key, time-bucket) windows; a
    per-bucket aggregate picks each bucket's LAST right row — max
    (__t__, tiebreaks) among side=0 rows, exactly the window's winner —
    and a per-key running carry over the (tiny) bucket frame feeds
    rows with no in-bucket match. Buckets partition the (signed) time
    order and equal times share a bucket, so local-order = global-order
    restricted to the bucket and the result is identical to the
    single-window carry. NULL-time left rows land in the NULL bucket,
    which sorts FIRST (no carry-in) — the same nothing-precedes-them
    the NULLS-FIRST window gives."""
    u2, ws = _bucket_frame(u, keys, "__t__", span)
    wl = (Window.partitionBy(*map(qcol, keys), "__b__")
          .orderBy("__t__", "__side__", *tb)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    local = u2.select(
        "*",
        F.last("__r__", ignorenulls=True).over(wl).alias("__lc__"),
        F.last(F.when(F.col("__side__") == 0, F.col("__t__")),
               ignorenulls=True).over(wl).alias("__lmt__"))
    # per-bucket final right row: max (t, tiebreaks) among right rows —
    # max_by over a lexicographic struct = the window's last() pick
    summ = (u2.where(F.col("__side__") == 0)
            .groupBy(*map(qcol, keys), "__b__")
            .agg(F.max_by(F.col("__r__"),
                          F.struct(F.col("__t__"), *tb)).alias("__lr__"),
                 F.max("__t__").alias("__lt__")))
    buckets = u2.select(*map(qcol, keys), "__b__").distinct()
    bf, lc, rc = _bucket_join(buckets, summ, keys, how="left")
    bf = bf.select(*[lc(c).alias(c) for c in keys + ["__b__"]],
                   rc("__lr__").alias("__lr__"),
                   rc("__lt__").alias("__lt__"))
    wb = ws.rowsBetween(Window.unboundedPreceding, -1)
    carry = bf.select(
        *map(qcol, keys), "__b__",
        F.last("__lr__", ignorenulls=True).over(wb).alias("__cin__"),
        F.last("__lt__", ignorenulls=True).over(wb).alias("__cint__"))
    keep = [c for c in local.columns if c not in ("__lc__", "__lmt__")]
    joined, lc, rc = _bucket_join(local, carry, keys)
    return (joined
            .select(*[lc(c).alias(c) for c in keep],
                    F.coalesce(lc("__lc__"), rc("__cin__")).alias(out_c),
                    F.coalesce(lc("__lmt__"), rc("__cint__"))
                    .alias(out_mt))
            .drop("__b__"))


def _asof_tiebreak(tiebreak_cols, r_payload):
    """Validated window-order suffix for duplicate right (on, time) rows:
    the caller's tiebreak columns read out of the unioned __r__ payload
    struct (present on both sides — a NULL struct on left rows yields
    NULL fields, which the side tag already orders)."""
    if not tiebreak_cols:
        return []
    missing = [c for c in tiebreak_cols if c not in r_payload]
    if missing:
        raise ValueError(
            f"asof_join: tiebreak_cols {missing} are not right-side "
            f"payload columns (have {r_payload})")
    return [F.col("__r__").getField(c) for c in tiebreak_cols]


def _asof_nearest(u, keys, tb, tolerance_sec, span, hot_key_rows):
    """Nearest-match as-of over the tagged union ``u``: both directional
    carries over ONE union — the backward and forward windows share the
    hash partitioning (one Exchange, two Sorts) — then a map-side pick
    of the closer match (ties prefer the backward/earlier row, pandas
    merge_asof style). Returns (left rows, picked payload struct).

    Given a bucket ``span`` the two carries each run through the
    bucketed plan (_asof_carry_bucketed): the forward carry is the
    backward carry on NEGATED time — (-t asc, side, tb) is exactly the
    (t desc, side, tb) window order, and max_by over the negated
    struct picks the same winner — so one helper serves both; the pick
    logic is unchanged.

    Without a span, ``hot_key_rows`` arms the hot-key watch as on the
    directional carry; its row counter rides the backward window
    (computed last, so the counter's Window collapses into it and needs
    no Sort of its own)."""
    if span is not None:
        c1 = _asof_carry_bucketed(u, keys, tb, span,
                                  out_c="__bk__", out_mt="__bkt__")
        c1n = c1.withColumn("__t__", -F.col("__t__"))
        c2 = _asof_carry_bucketed(c1n, keys, tb, span,
                                  out_c="__fk__", out_mt="__fkt__")
        carried = (c2.withColumn("__t__", -F.col("__t__"))
                   .select("*",
                           F.col("__bk__").alias("__b__"),
                           F.col("__fk__").alias("__f__"),
                           F.col("__bkt__").alias("__bt__"),
                           (-F.col("__fkt__")).alias("__ft__"))
                   .drop("__bk__", "__fk__", "__bkt__", "__fkt__")
                   .where(F.col("__side__") == 1))
    else:
        frame = (Window.unboundedPreceding, Window.currentRow)
        # tiebreak ASC in BOTH windows: among equal-time right rows,
        # last() picks the max tiebreak tuple in each direction, so the
        # backward and forward carries agree on the winner of a tie
        wb_base = (Window.partitionBy(*map(qcol, keys))
                   .orderBy("__t__", "__side__", *tb))
        wb = wb_base.rowsBetween(*frame)
        wf = (Window.partitionBy(*map(qcol, keys))
              .orderBy(F.col("__t__").desc(), "__side__", *tb)
              .rowsBetween(*frame))
        rt_col = F.when(F.col("__side__") == 0, F.col("__t__"))
        carried = (u.select(
            "*",
            F.last("__r__", ignorenulls=True).over(wf).alias("__f__"),
            F.last(rt_col, ignorenulls=True).over(wf).alias("__ft__"))
            .select(
            "*",
            F.last("__r__", ignorenulls=True).over(wb).alias("__b__"),
            F.last(rt_col, ignorenulls=True).over(wb).alias("__bt__")))
        carried = _watch_hot_keys(carried, wb_base, "asof_join",
                                  hot_key_rows).where(F.col("__side__") == 1)

    bd = F.col("__t__") - F.col("__bt__")
    fd = F.col("__ft__") - F.col("__t__")
    # a NULL-TIME left row can be "near" nothing: without this screen
    # it sorts LAST in the forward (desc) window, sees every right row,
    # and phantom-matches the EARLIEST one in the no-tolerance case —
    # the same silent-wrong class as the r10 NULL-time-right fix
    # (surfaced r12 when the bucketed carry, whose NULL bucket sorts
    # first in both directions, correctly produced no match)
    t_ok = F.col("__t__").isNotNull()
    if tolerance_sec is not None:
        b_ok = t_ok & F.col("__bt__").isNotNull() & (bd <= F.lit(tolerance_sec))
        f_ok = t_ok & F.col("__ft__").isNotNull() & (fd <= F.lit(tolerance_sec))
    else:
        b_ok = t_ok & F.col("__bt__").isNotNull()
        f_ok = t_ok & F.col("__ft__").isNotNull()
    use_b = b_ok & (~f_ok | (bd <= fd))   # tie -> backward
    return carried, F.when(use_b, F.col("__b__")).when(f_ok, F.col("__f__"))


def range_join(points, intervals, point_col: str, start_col: str,
               end_col: str, on: list[str] | None = None,
               bin_width: float = 86400.0, how: str = "inner") -> OmigoDF:
    """Join point rows to interval rows where
    ``start <= point <= end`` (plus optional equi-keys ``on``).

    Distributed strategy: quantize. Points get one bin
    ``floor(point / bin_width)``; intervals explode to every bin they
    overlap; the join is a plain equi-join on (keys, bin) and the exact
    range predicate rides IN the join condition (not a post-join filter,
    which would silently drop a left join's unmatched NULL rows and
    degrade it to inner). Duplicate hits (an interval spans many bins
    but each point lives in exactly one) cannot occur: each point
    carries a single bin.

    ``how`` is 'inner' or 'left' (points-preserving). 'right'/'full'
    are rejected: bin explosion duplicates an unmatched interval once
    per bin it spans; call with the sides swapped instead.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"range_join: how={how!r} unsupported — bin explosion would "
            "duplicate unmatched intervals; use 'inner' or 'left' "
            "(swap sides for an interval-preserving join)")
    pdf, idf = _df(points), _df(intervals)
    keys = list(on or [])
    # reject shared non-key names up front (the __join rule): the output
    # would carry duplicate column names that break every by-name select
    # downstream, and the range predicate would be ambiguous to compile
    dup_names = [c for c in idf.columns
                 if c in set(pdf.columns) and c not in keys]
    if dup_names:
        raise ValueError(
            f"range_join: columns {dup_names} exist on both sides — only "
            "the equi-keys `on` may be shared; rename one side first")

    # alias-qualified QUOTED refs, not the bracket accessor (p[k] PARSES
    # the name — a dot or backtick in a user column breaks; r13
    # hostile-name sweep)
    pc, ic = partial(aliased, "__rp__"), partial(aliased, "__ri__")
    p = pdf.withColumn(
        "__bin__", F.floor(_epoch_sec(pdf, point_col) / bin_width)) \
        .alias("__rp__")
    i = idf.withColumn(
        "__bin__",
        F.explode(F.sequence(
            F.floor(_epoch_sec(idf, start_col) / bin_width),
            F.floor(_epoch_sec(idf, end_col) / bin_width)))) \
        .alias("__ri__")

    cond = [pc("__bin__") == ic("__bin__")]
    for k in keys:
        cond.append(pc(k) == ic(k))
    pt = _epoch_sec(pdf, point_col, pc(point_col))
    cond.append(pt >= _epoch_sec(idf, start_col, ic(start_col)))
    cond.append(pt <= _epoch_sec(idf, end_col, ic(end_col)))
    joined = p.join(i, cond, how)
    dup = set(keys) | {"__bin__"}
    out = joined.select(
        *[pc(c).alias(c) for c in pdf.columns],
        *[ic(c).alias(c) for c in idf.columns if c not in dup])
    return OmigoDF(out)


AUTO_HOT_KEY_ROWS = 262_144


# Below this row threshold the census is NOT provably small (threshold=1
# makes it every distinct key), so the explicit broadcast hint — which
# bypasses AQE's size check and can OOM the driver — is withheld and AQE
# decides from the materialized size (r12 advice).
BROADCAST_HINT_MIN_THRESHOLD = 1024


def _hot_threshold(hot_key_rows) -> int:
    """Rows per key at which a key is hot: ``"auto"`` means
    AUTO_HOT_KEY_ROWS, an int pins it."""
    return AUTO_HOT_KEY_ROWS if hot_key_rows == "auto" else int(hot_key_rows)


def _route_hot_keys(inputs, keys, hot_key_rows, run_hot, run_cold) -> OmigoDF:
    """The one hot-key router of the ordered carries (module docstring):
    census the keys of all ``inputs`` combined, then let the census
    decide the plan. No hot key (empty input included): ``run_cold`` on
    the inputs as they are. Every key hot: ``run_hot`` on them. Only a
    mixed census splits every input by the one hot-key set, runs
    ``run_hot`` on the hot parts and ``run_cold`` on the cold parts (one
    frame per input, in order), and unions the results hot-then-cold.
    At a threshold of 1 or less every present key is hot, so a one-job
    emptiness probe takes the census's place."""
    thr = _hot_threshold(hot_key_rows)
    counted = inputs[0]
    if len(inputs) > 1:
        counted = counted.select(*map(qcol, keys))
        for d in inputs[1:]:
            counted = counted.unionByName(d.select(*map(qcol, keys)))
    if thr <= 1:
        return run_cold(*inputs) if counted.isEmpty() else run_hot(*inputs)
    hot_keys, n = _hot_keys_census(counted, keys, thr)
    if n["hot"] == 0:
        return run_cold(*inputs)
    if n["hot"] == n["keys"]:
        return run_hot(*inputs)
    hot, cold = zip(*[_hot_key_split(d, keys, thr, hot_keys)
                      for d in inputs])
    return OmigoDF(run_hot(*hot).df.unionByName(run_cold(*cold).df))


def _watch_hot_keys(df, w_base, op_name: str, hot_key_rows):
    """Default-on hot-key detector for the PLAIN single-window carries
    (r13 verdict #3, via the observe() design r14 verdict #5 asked for):
    a row_number over the SAME partition/order rides the op's existing
    Window evaluation (zero extra jobs or scans at construct OR action),
    its global max rides the caller's first action as an observe()
    metric, and a shared daemon poller warns — naming time_buckets_sec
    as the remedy — when any key group reaches the census threshold.
    ``hot_key_rows=None`` disables the watch (matching its meaning on
    the bucketed path: no hot/cold routing)."""
    if hot_key_rows is None:
        return df
    thr = _hot_threshold(hot_key_rows)

    def _cb(m):
        mx = m.get("max_key_rows")
        if mx is not None and mx >= thr:
            import warnings
            warnings.warn(
                f"{op_name}: a key group holds {mx:,} rows (threshold "
                f"{thr:,}) — the ordered carry runs it in ONE task, the "
                f"shuffle-skew class AQE cannot split; pass "
                f"time_buckets_sec=... to run hot keys bucketed",
                RuntimeWarning, stacklevel=2)

    out = df.withColumn("__hk_rn__", F.row_number().over(w_base))
    out = observe_async(out, {"max_key_rows": F.max("__hk_rn__")}, _cb)
    return out.drop("__hk_rn__")


def _hot_key_split(d, keys, threshold: int, hot_keys):
    """(hot_rows, cold_rows): rows whose key is in ``hot_keys`` (the
    ``_hot_keys_census`` frame at ``threshold``) vs the rest, by a
    null-safe semi/anti join (NULL keys are real groups and can be hot —
    plain `on=` equality would silently misroute them to cold). One
    census splits several inputs by the SAME key set (asof splits left
    and right by the combined census). The broadcast hint applies only
    when ``threshold`` bounds the census to <= n/1024 keys; below that
    AQE picks the strategy from the census's real size. The probe side
    ``d`` is scanned once by each of the two joins — callers with an
    expensive upstream plan (not a plain scan) should
    persist/localCheckpoint it before routing; the census itself is
    localCheckpointed so its aggregation runs exactly once."""
    dl = d.alias("__dd__")
    hk = hot_keys.alias("__hk__")
    if threshold >= BROADCAST_HINT_MIN_THRESHOLD:
        hk = F.broadcast(hk)
    cond = [aliased("__dd__", c).eqNullSafe(aliased("__hk__", c))
            for c in keys]
    return dl.join(hk, on=cond, how="left_semi"), \
        dl.join(hk, on=cond, how="left_anti")


def _hot_keys_census(d, keys, threshold: int):
    """``(hot_keys, counts)``: the keys holding >= ``threshold`` rows,
    localCheckpointed, and ``{"keys": distinct keys, "hot": hot keys}``
    observed on the checkpoint's own job (the counts see every key
    group; the checkpoint holds only the hot ones)."""
    # localCheckpoint: the census feeds 2-4 semi/anti joins (4 for asof's
    # shared left+right split) — without it each join re-evaluates the
    # full input lineage through the aggregation (r12 advice). Bounded
    # output (<= n/threshold keys), so materializing is cheap. EAGER on
    # purpose (r14 adjudication): a lazy census is first materialized
    # UNDER its multiple consumer joins inside one action, which read
    # consistently slower (+5..+14%) in clean-box isolated A/B than
    # materializing once up front; the construct-time job it costs is
    # census-sized, not input-sized, and its counts decide the plan.
    is_hot = F.col("__kc__") >= F.lit(int(threshold))
    ck, counts = checkpoint_with_metrics(
        d.groupBy(*map(qcol, keys)).agg(F.count(F.lit(1)).alias("__kc__")),
        {"keys": F.count(F.lit(1)), "hot": F.count_if(is_hot)},
        keep=is_hot)
    return ck.select(*map(qcol, keys)), counts


def sessionize(odf, key_cols: list[str] | str, time_col: str,
               gap_sec: float = 1800.0,
               session_col: str = "session_id",
               time_buckets_sec: float | None = None,
               hot_key_rows: int | str | None = "auto") -> OmigoDF:
    """Assign gap-based session numbers per key: a new session starts
    whenever the time since the previous event exceeds ``gap_sec``.
    Adds ``{session_col}`` (1-based per key) — one shuffle on the key,
    both window functions share the same sort order.

    ``time_buckets_sec`` (the hot-key scale path, see the module
    docstring; ``hot_key_rows`` likewise; measured 2.1× at 30% skew on
    a skew probe): passing a bucket span switches to an exact two-phase
    plan: (1) sessionize WITHIN (key, time-bucket) windows —
    parallelism = buckets per key, so the hot key spreads over
    span/bucket tasks; (2) a per-(key, bucket) summary (first/last
    event time, local session count) merges sessions across bucket
    boundaries on a bucket-counted frame orders of magnitude smaller
    than the data; (3) one join back on (key, bucket). That join does
    NOT reuse the phase-1 exchange: the final AQE plan holds 3 hash
    exchanges and no ReusedExchange, even for key+time-only input, so
    phase 1 runs twice. The result is IDENTICAL to the single-window
    plan (property-tested, including NULL times and
    boundary-straddling sessions); pick a span well above ``gap_sec``
    so most sessions close within one bucket."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    d = _df(odf)
    t: Column = _epoch_sec(d, time_col)

    def plain(d, hot_key_rows):
        # the order key is MATERIALIZED as a column before the windows:
        # ordering by the raw epoch-cast EXPRESSION gives every Window
        # node its own internal `_w0` projection, so the lag,
        # running-sum and hot-key-counter windows would each pay a
        # separate Sort pass and never collapse (3 Sort + 3 Window).
        # Over a real column the specs share attributes: one Sort, the
        # counter fuses into the running-sum Window (CollapseWindow),
        # and the values — hence results — are identical.
        w = Window.partitionBy(*map(qcol, keys)).orderBy("__ot__")
        ot = F.col("__ot__")
        is_break = (ot - F.lag(ot).over(w) > F.lit(gap_sec)).cast("bigint")
        out = (d.withColumn("__ot__", t)
               .withColumn("__brk__", F.coalesce(is_break, F.lit(0)))
               .withColumn(session_col,
                           (F.sum("__brk__").over(
                               w.rowsBetween(Window.unboundedPreceding,
                                             Window.currentRow)) + 1)))
        out = _watch_hot_keys(out, w, "sessionize", hot_key_rows)
        return OmigoDF(out.drop("__brk__", "__ot__"))

    return _ordered_carry(
        "sessionize", [d], keys, time_buckets_sec, hot_key_rows, plain,
        lambda d, span: _sessionize_bucketed(d, keys, t, gap_sec,
                                             session_col, span))


def _sessionize_bucketed(d, keys, t, gap_sec, session_col,
                         span: float) -> OmigoDF:
    """Exact two-phase sessionize (see sessionize) over time buckets of
    ``t``: local sessions per (key, bucket), merged across bucket
    boundaries on the per-bucket summary frame."""
    cols = list(d.columns)
    d2, ws = _bucket_frame(d.withColumn("__t__", t), keys, "__t__", span)
    wl = Window.partitionBy(*map(qcol, keys), "__b__").orderBy("__t__")
    brk = (F.col("__t__") - F.lag("__t__").over(wl)
           > F.lit(gap_sec)).cast("bigint")
    local = (d2.withColumn("__brk__", F.coalesce(brk, F.lit(0)))
             .withColumn("__lid__", F.sum("__brk__").over(
                 wl.rowsBetween(Window.unboundedPreceding,
                                Window.currentRow)) + 1))
    summ = (local.groupBy(*map(qcol, keys), "__b__")
            .agg(F.min("__t__").alias("__ft__"),
                 F.max("__t__").alias("__lt__"),
                 F.max("__lid__").alias("__ns__")))
    has_prev = F.lag(F.lit(1)).over(ws).isNotNull()
    # boundary gap NULL (either side's time NULL) = continue, matching
    # the single-window plan's NULL-gap-is-not-a-break rule
    gap_break = F.col("__ft__") - F.lag("__lt__").over(ws) > F.lit(gap_sec)
    merge = F.when(has_prev & ~F.coalesce(gap_break, F.lit(False)),
                   F.lit(1)).otherwise(F.lit(0))
    summ = (summ.withColumn("__mrg__", merge)
            .withColumn("__P__", F.coalesce(
                F.sum(F.col("__ns__") - F.col("__mrg__")).over(
                    ws.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0))))
    joined, lc, rc = _bucket_join(
        local, summ.select(*map(qcol, keys), "__b__", "__mrg__", "__P__"),
        keys)
    out = joined.withColumn(
        session_col, rc("__P__") + lc("__lid__") - rc("__mrg__")) \
        .select(*[lc(c).alias(c) for c in cols], qcol(session_col))
    return OmigoDF(out)


def rolling_aggregate(odf, key_cols: list[str] | str, order_col: str,
                      agg_cols, agg_funcs, window_rows: int = 5,
                      precision: int = 6,
                      tiebreak_cols: list[str] | None = None,
                      time_buckets_sec: float | None = None,
                      hot_key_rows: int | str | None = "auto") -> OmigoDF:
    """Per-key rolling-window features over the trailing ``window_rows``
    rows (current row inclusive) in ``order_col`` order — the moving
    mean/min/max/sum shape of time-series feature engineering.

    One shuffle on the key; every requested aggregate shares the same
    window frame, so Catalyst plans a single Exchange+Sort+Window.
    Output columns: ``<col>:rolling_<func>``. Sums/means go through
    DECIMAL so results are add-order deterministic.

    A ROW-based frame over a non-total order is partition-order
    dependent: rows sharing an ``order_col`` value can enter the frame
    in either order, so their rolling values may differ between runs
    (r10 review). Pass ``tiebreak_cols`` — columns completing a total
    order per key — when ``(key, order_col)`` can repeat; with the
    default None the caller asserts the order is already total.

    ``time_buckets_sec`` (the hot-key scale path, see the module
    docstring; ``hot_key_rows`` likewise; measured 2.4× at 30% skew on
    a skew probe): passing a bucket span runs the window inside (key,
    time-bucket) partitions with a HALO: the last ``window_rows - 1``
    rows of each bucket are replicated into the key's NEXT non-empty
    bucket (successor by per-key bucket order, so empty buckets cannot
    break the chain), the frame is computed over local+halo rows, and
    halo outputs are dropped. Exact — identical to the single-window
    plan (property-tested) — PROVIDED every interior bucket holds at
    least ``window_rows - 1`` rows, which one cheap summary check
    enforces (raises with the pick-a-bigger-span remedy otherwise; a
    boundary row would silently miss predecessors two buckets back).
    Ties never straddle buckets (equal times share a bucket), so the
    tiebreak contract is unchanged. Cold keys keep the single-window
    plan: their sparse buckets would trip the density guard."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    d = _df(odf)

    def plain(d, hot_key_rows):
        # order key materialized as a column (see sessionize): an
        # expression orderBy denies Sort sharing and Window collapse, so
        # the hot-key counter would pay its own Sort + Window pass
        order = [F.col("__ot__")] + [qcol(c) for c in (tiebreak_cols or [])]
        w_base = Window.partitionBy(*map(qcol, keys)).orderBy(*order)
        w = w_base.rowsBetween(-(window_rows - 1), Window.currentRow)
        out = d.withColumn("__ot__", _epoch_sec(d, order_col))
        for name, expr in _rolling_exprs(w, agg_cols, agg_funcs, precision):
            out = out.withColumn(name, expr)
        return OmigoDF(_watch_hot_keys(out, w_base, "rolling_aggregate",
                                       hot_key_rows).drop("__ot__"))

    return _ordered_carry(
        "rolling_aggregate", [d], keys, time_buckets_sec, hot_key_rows,
        plain,
        lambda d, span: _rolling_bucketed(d, keys, order_col, agg_cols,
                                          agg_funcs, window_rows, precision,
                                          tiebreak_cols, span))


def _rolling_exprs(w, agg_cols, agg_funcs, precision):
    """(name, expr) pairs for the rolling aggregates over window ``w``
    — shared by the single-window and bucketed plans so both compute
    the literally identical expressions."""
    res = []
    for c, fn in zip(list(agg_cols), list(agg_funcs)):
        x = qcol(c).try_cast("double")
        xd = qcol(c).try_cast("decimal(28,8)")
        # overflow guard (the normalize() rule): a value that parses as
        # double but overflows DECIMAL(28,8) NULLs out of the window sum
        # while count(x) still includes it — the sum/mean would be
        # silently wrong. Fail loudly instead.
        overflow = ((F.count(x).over(w) > F.count(xd).over(w))
                    | (F.sum(xd).over(w).isNull()
                       & (F.count(xd).over(w) > 0)))
        boom = F.raise_error(F.lit(
            f"rolling_aggregate: decimal overflow on column '{c}' "
            "(|x| too large for DECIMAL(28,8)) — pre-scale the column"
        )).cast("double")
        if fn == "mean":
            expr = F.when(overflow, boom).otherwise(
                F.round((F.sum(xd).over(w).cast("double")
                         / F.count(x).over(w)), precision))
        elif fn == "sum":
            expr = F.when(overflow, boom).otherwise(
                F.round(F.sum(xd).over(w).cast("double"), precision))
        elif fn == "min":
            expr = F.min(x).over(w)
        elif fn == "max":
            expr = F.max(x).over(w)
        elif fn == "count":
            expr = F.count(x).over(w)
        else:
            raise ValueError(f"rolling_aggregate: unknown func: {fn}")
        res.append((f"{c}:rolling_{fn}", expr))
    return res


def _rolling_bucketed(d, keys, order_col, agg_cols, agg_funcs,
                      window_rows, precision, tiebreak_cols,
                      span: float) -> OmigoDF:
    """Halo two-phase rolling (see rolling_aggregate docstring): local
    windows inside (key, time-bucket) partitions, with each bucket's
    last ``window_rows - 1`` rows replicated into the key's successor
    bucket so boundary frames are complete; halo outputs dropped."""
    cols = list(d.columns)
    d2, ws = _bucket_frame(d.withColumn("__t__", _epoch_sec(d, order_col)),
                           keys, "__t__", span)
    summ = d2.groupBy(*map(qcol, keys), "__b__").agg(
        F.count(F.lit(1)).alias("__cnt__"))
    summ = (summ.withColumn("__nxt__", F.lead("__b__").over(ws))
            .withColumn("__haspred__",
                        F.lag(F.lit(1)).over(ws).isNotNull()))
    if window_rows > 1:
        # exactness guard: a boundary frame reaches at most one bucket
        # back through the halo, so every INTERIOR bucket (one with
        # both a predecessor and a successor) must hold >= W-1 rows —
        # otherwise the first rows of its successor would silently
        # miss predecessors from two buckets back.
        # The guard rides IN-PLAN: a construct-time probe would be a
        # separate full-input aggregation job whose result nothing
        # reuses. As a broadcast 1-row scalar it shares the
        # summary's groupBy exchange with the main plan
        # (ReusedExchange) and raises when its broadcast stage
        # materializes (raise-parity with the nb_classify/dsir/
        # mix_sources in-plan guards). The fold point is the FINAL
        # halo-drop filter, not the halo join's __nxt__: under count()
        # column pruning collapses the windows, the __halo__==0 filter
        # then pushes into the union and constant-folds the halo
        # branch (__halo__=lit(1)) to an empty relation, pruning the
        # whole join subtree — a guard riding there silently vanishes
        # (observed). The final filter decides output cardinality, so
        # NO action can prune it; `__halo__ + __bad__ == 0` is
        # data-dependent on both sides of the crossJoin and cannot be
        # split or folded. The `+ __bad__` fold is an identity on
        # every surviving plan (__bad__ == 0).
        bad = (summ.where(F.col("__haspred__")
                          & F.col("__nxt__").isNotNull()
                          & (F.col("__cnt__") < F.lit(window_rows - 1)))
               .agg(F.count(F.lit(1)).alias("__bad__"))
               .select(F.when(F.col("__bad__") == 0, F.col("__bad__"))
                       .otherwise(F.raise_error(F.lit(
                           "rolling_aggregate: time_buckets_sec too "
                           "small — an interior (key, bucket) holds "
                           f"fewer than window_rows-1={window_rows - 1} "
                           "rows, so a bucket-boundary frame would be "
                           "silently incomplete; increase "
                           "time_buckets_sec")))
                       .alias("__bad__")))
    else:
        bad = None
    order_local = [F.col("__t__")] + [qcol(c)
                                      for c in (tiebreak_cols or [])]
    wdesc = Window.partitionBy(*map(qcol, keys), "__b__").orderBy(
        *[o.desc() for o in order_local])
    halo_src = (d2.withColumn("__rdesc__", F.row_number().over(wdesc))
                .where(F.col("__rdesc__") <= F.lit(window_rows - 1))
                .drop("__rdesc__"))
    joined, lc, rc = _bucket_join(
        halo_src, summ.select(*map(qcol, keys), "__b__", "__nxt__"), keys)
    halo = (joined.where(rc("__nxt__").isNotNull())
            .select(*[lc(c).alias(c) for c in cols + ["__t__"]],
                    rc("__nxt__").alias("__b__"))
            .withColumn("__halo__", F.lit(1)))
    ucols = cols + ["__t__", "__b__", "__halo__"]
    u = (d2.withColumn("__halo__", F.lit(0)).select(*map(qcol, ucols))
         .unionByName(halo.select(*map(qcol, ucols))))
    wu = (Window.partitionBy(*map(qcol, keys), "__b__").orderBy(*order_local)
          .rowsBetween(-(window_rows - 1), Window.currentRow))
    out = u
    for name, expr in _rolling_exprs(wu, agg_cols, agg_funcs, precision):
        out = out.withColumn(name, expr)
    if bad is not None:
        out = (out.crossJoin(F.broadcast(bad))
               .where((F.col("__halo__") + F.col("__bad__")) == 0)
               .drop("__t__", "__b__", "__halo__", "__bad__"))
    else:
        out = (out.where(F.col("__halo__") == 0)
               .drop("__t__", "__b__", "__halo__"))
    return OmigoDF(out)


def merge_intervals(odf, key_cols: list[str] | str, start_col: str,
                    end_col: str,
                    time_buckets_sec: float | None = None,
                    hot_key_rows: int | str | None = "auto") -> OmigoDF:
    """Union overlapping/touching [start, end] intervals per key into
    maximal disjoint islands (gaps-and-islands): one output row per
    island with its bounds and member count.

    Window plan: order intervals by (start, end), carry the running max
    end; an island starts where start > max(previous ends); the island
    number is the running sum of those breaks. Both windows and the
    final collapse share one hash partitioning on the key.

    ``time_buckets_sec`` (the hot-key scale path, see the module
    docstring; ``hot_key_rows`` likewise): buckets rows by
    ``floor(start / span)`` and runs the carry in two exact phases. The
    running max-end is ASSOCIATIVE, so a per-(key, bucket) summary
    (max end) rolls up into a per-key running carry-in over the tiny
    bucket frame; joined back on (key, bucket) — the final AQE plan
    runs phase 1 once per consumer, three times with no ReusedExchange
    (see sessionize) — it recomputes every break against
    ``greatest(local_prev_max_end, carry_in)``, which equals the
    single window's full-prefix max exactly. Island numbers come from
    the sessionize-style prefix sum: per-bucket break counts prefix-
    summed over the bucket frame + the in-bucket running break count.
    Exact for ANY bucket span (no density requirement — an interval
    spanning many buckets is covered by the running max); equal starts
    share a bucket, so tie order is untouched. Property-tested
    bit-identical to the single-window plan."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    d = _df(odf)

    # canonicalize -0.0 -> +0.0 on ingest (r14 parity-hunt find): Spark's
    # min/max keep the FIRST-SEEN of an IEEE-equal pair, so an island
    # holding both -0.0 and 0.0 starts would report island_start as
    # whichever representative the accumulation order met first — a
    # plan-shape-dependent output that made the bucketed two-phase plan
    # diverge from the plain window plan on str()-level canon (trial 21,
    # tools/parity_hunt.py). The WHEN guard (not `+ 0.0`, which a future
    # identity-fold could erase) maps both zeros to +0.0 and leaves
    # NULL/NaN/±Inf untouched; comparisons are unaffected (-0.0 == 0.0
    # already), only the emitted representative becomes deterministic.
    def _c0(c):
        return F.when(c == F.lit(0.0), F.lit(0.0)).otherwise(c)

    s = _c0(qcol(start_col).cast("double"))
    e = _c0(qcol(end_col).cast("double"))

    def plain(d, hot_key_rows):
        # order keys materialized as columns (see sessionize): ordering
        # by the canonicalized-double EXPRESSIONS denies Sort sharing
        # and Window collapse — the prev-max, running-sum and
        # hot-key-counter windows would each pay their own Sort pass.
        # The aggregates read the same materialized values, so results
        # are identical.
        s0, e0 = F.col("__s0__"), F.col("__e0__")
        w = Window.partitionBy(*map(qcol, keys)).orderBy(s0, e0)
        prev_max_end = F.max(e0).over(
            w.rowsBetween(Window.unboundedPreceding, -1))
        brk = (F.when(prev_max_end.isNull() | (s0 > prev_max_end), 1)
               .otherwise(0))
        tagged = (d.withColumn("__s0__", s).withColumn("__e0__", e)
                  .withColumn("__brk__", brk)
                  .withColumn("__island__",
                              F.sum("__brk__").over(
                                  w.rowsBetween(Window.unboundedPreceding,
                                                Window.currentRow)))
                  .drop("__brk__"))
        tagged = _watch_hot_keys(tagged, w, "merge_intervals", hot_key_rows)
        return OmigoDF(
            tagged.groupBy(*map(qcol, keys), "__island__")
            .agg(F.min(s0).alias("island_start"),
                 F.max(e0).alias("island_end"),
                 F.count(F.lit(1)).alias("n_intervals"))
            .withColumnRenamed("__island__", "island_id"))

    return _ordered_carry(
        "merge_intervals", [d], keys, time_buckets_sec, hot_key_rows, plain,
        lambda d, span: _merge_intervals_bucketed(d, keys, s, e, span))


def _merge_intervals_bucketed(d, keys, s, e, span: float) -> OmigoDF:
    """Exact two-phase gaps-and-islands (see merge_intervals): local
    windows only ever partition by (key, time-bucket); cross-bucket
    state is a per-bucket (max end, break count) summary frame orders
    of magnitude smaller than the data. NULL starts land in the NULL
    bucket, which sorts first — the same place the single window's
    NULLS-FIRST order puts them."""
    # phase 1: ONE stacked window evaluation computes the local prefix-
    # max of ends, the LOCAL break flag (break ignoring cross-bucket
    # carry) and the local running break count, all over the same
    # Exchange+Sort on (key, bucket). Every window touching data rows
    # lives HERE, before the carry-in join, and the global island id is
    # pure per-row arithmetic after the joins (see below): for
    # duplicate (s, e) rows the pairing of a break flag with its
    # running-sum position never relies on a join preserving tie order.
    d2, ws = _bucket_frame(d.withColumn("__s__", s).withColumn("__e__", e),
                           keys, "__s__", span)
    wl = Window.partitionBy(*map(qcol, keys), "__b__").orderBy(
        "__s__", "__e__")
    pme = F.max("__e__").over(wl.rowsBetween(Window.unboundedPreceding, -1))
    local = (d2.withColumn(
                 "__lbrk__",
                 F.when(pme.isNull() | (F.col("__s__") > pme), 1)
                 .otherwise(0))
             .withColumn("__L__", F.sum("__lbrk__").over(
                 wl.rowsBetween(Window.unboundedPreceding,
                                Window.currentRow))))
    # carry-in: running max of bucket max-ends over the bucket frame.
    # The summary groups the WINDOWED frame so its aggregation needs no
    # exchange of its own (the plan still re-runs phase 1 for this
    # branch: no ReusedExchange, see sessionize); the per-bucket
    # break count nlb rides the SAME aggregate, as it only needs
    # phase-1 columns.
    summ = local.groupBy(*map(qcol, keys), "__b__").agg(
        F.max("__e__").alias("__me__"),
        F.sum("__lbrk__").alias("__nlb__"))
    summ = summ.withColumn(
        "__cin__", F.max("__me__").over(
            ws.rowsBetween(Window.unboundedPreceding, -1)))
    # A row is a GLOBAL break iff s > greatest(local prefix-max, carry-
    # in), i.e. iff it is a local break AND s > cin (cin constant per
    # bucket; greatest() skips NULLs, so cin NULL leaves local breaks
    # untouched). Because rows are s-sorted, the suppressed local breaks
    # (s <= cin) form a PREFIX of the bucket's break rows; with
    # K = |suppressed|, the global running break count at a row is
    # L - least(L, K) — per-row arithmetic, no post-join window.
    #
    # K itself needs only the BREAK rows: the last suppressed break is
    # the K-th break, so K = max(L | lbrk=1, s <= cin), 0 when none.
    # Joining cin onto the breaks-only projection (another phase-1 run,
    # not reused) and re-aggregating is break-count-sized work, so no
    # data-level carry-in join is needed: ONE row-level summary join
    # touches the data (below).
    breaks = (local.where(F.col("__lbrk__") == 1)
              .select(*map(qcol, keys), "__b__", "__s__", "__L__"))
    cinr = summ.select(*map(qcol, keys), "__b__", "__cin__", "__nlb__")
    # every non-empty bucket's first row is a local break (its in-bucket
    # prefix-max is NULL), so this breaks-side aggregation covers every
    # summary bucket and IS the summary: nlb (constant per bucket) rides
    # the same groupBy via max(), so summ is referenced exactly once.
    joined, lc, _ = _bucket_join(breaks, cinr, keys)
    summary = (joined
               .groupBy(*[lc(c) for c in keys], lc("__b__"))
               .agg(F.coalesce(
                   F.max(F.when(F.col("__s__") <= F.col("__cin__"),
                                F.col("__L__"))),
                   F.lit(0)).alias("__K__"),
                   F.max("__nlb__").alias("__nlb__")))
    # island id = per-key GLOBAL break count over earlier buckets (the
    # prefix of nlb - K) + the in-bucket global running break count
    summary = summary.withColumn(
        "__P__", F.coalesce(F.sum(F.col("__nlb__") - F.col("__K__")).over(
            ws.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)))
    numbered, lc, rc = _bucket_join(
        local, summary.select(*map(qcol, keys), "__b__", "__P__", "__K__"),
        keys)
    numbered = numbered.withColumn(
        "__island__",
        rc("__P__") + lc("__L__") - F.least(lc("__L__"), rc("__K__")))
    return OmigoDF(
        numbered.groupBy(*[lc(k).alias(k) for k in keys], "__island__")
        .agg(F.min(lc("__s__")).alias("island_start"),
             F.max(lc("__e__")).alias("island_end"),
             F.count(F.lit(1)).alias("n_intervals"))
        .withColumnRenamed("__island__", "island_id"))


def session_stats(odf, key_cols: list[str] | str, time_col: str,
                  gap_sec: float = 1800.0,
                  time_buckets_sec: float | None = None,
                  hot_key_rows: int | str | None = "auto") -> OmigoDF:
    """Sessionize then collapse: one row per (key, session) with start,
    end, duration and event count. The groupBy re-uses the sessionize
    shuffle keys, so AQE keeps the second exchange local.
    ``time_buckets_sec`` / ``hot_key_rows`` pass through to sessionize's
    hot-key scale path (r13 — the collapse itself is partial-aggregated
    and skew-free; only the sessionize carry needed the two-phase plan)."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    s = sessionize(odf, keys, time_col, gap_sec,
                   time_buckets_sec=time_buckets_sec,
                   hot_key_rows=hot_key_rows).df
    t = _epoch_sec(s, time_col)
    return OmigoDF(
        s.groupBy(*map(qcol, keys), "session_id")
        .agg(F.min(t).alias("session_start"),
             F.max(t).alias("session_end"),
             (F.max(t) - F.min(t)).alias("duration_sec"),
             F.count(F.lit(1)).alias("n_events")))
