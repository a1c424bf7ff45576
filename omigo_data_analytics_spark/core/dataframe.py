"""OmigoDF: the engine's single table abstraction.

A thin, immutable wrapper over ``pyspark.sql.DataFrame`` reproducing the
reference's chainable method surface (CrowdStrike/omigo-data-analytics,
omigo_core/dataframe.py — cited per method below) while compiling every
operator to a lazy Catalyst plan: filters/projections push down to the scan,
aggregations get map-side partial aggregation, joins pick
broadcast/sort-merge via AQE. Nothing is materialized per operator — the
reference's "each step generates a new copy of the data" becomes "each step
adds a node to the logical plan".

Design contracts carried over from the reference (SURVEY.md §1, §7.1):
  * string-first semantics — lambda UDFs receive cell values as strings,
    typed operators (eq_int, gt_float, ...) apply explicit casts;
  * '' (empty string) and NULL are both "missing";
  * derived columns are namespaced ``<col>:<funcname>``;
  * every cols argument accepts regex patterns, expanded against the header;
  * ``ignore_if_missing=True`` downgrades missing-column errors to warnings.
"""

from __future__ import annotations

import logging
import random
import re
from collections.abc import Callable, Iterable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import colutils
from .colutils import COL_SEP, as_list, resolve_cols
from .compat import CompatMixin
from .jobs import checkpoint_with_metrics, nonunique_counts
from ..functions import aggs as aggs_mod
from ..functions.aggs import agg_expr, func_name

log = logging.getLogger(__name__)


def from_spark(df: DataFrame) -> "OmigoDF":
    return OmigoDF(df)


def abs64(c: Column) -> Column:
    """Saturating abs for 64-bit hash values: under ANSI mode a plain
    ``F.abs`` THROWS ARITHMETIC_OVERFLOW on Long.MinValue — a 2^-64
    per-row chance for xxhash64, i.e. a real (if rare) job-killer on a
    trillion-row corpus (r10 review). MinValue saturates to MaxValue;
    every other value is unchanged, so existing hash-bucket/sort
    outputs are identical."""
    return (F.when(c == F.lit(-(1 << 63)).cast("long"),
                   F.lit((1 << 63) - 1).cast("long"))
            .otherwise(F.abs(c)))


# The sampler skeleton: the seeded row key, its hash and hash bucket, and
# the per-group rank ≤ k. Portable hashes are replayed byte for byte by the
# DuckDB oracles, so each sampler keeps its own hash choice and seed place.
_BUCKETS = 1000000


def _row_key(cols: list[str], seed=None) -> str:
    """SQL text of the row key: each column as a string (NULL reads as
    ''), tab-joined, then the seed when one is given."""
    parts = [f"coalesce(CAST({colutils.quote(c)} AS STRING), '')" for c in cols]
    if seed is not None:
        parts.append(f"'{seed}'")
    return f"concat_ws('\\t', {', '.join(parts)})"


def _hash(key: str, portable: bool = True, salt=None) -> Column:
    """Non-negative 64-bit hash of the SQL expression ``key``: the portable
    md5-polynomial (``text.hash_spark``), or ``abs64(xxhash64(key[,
    salt]))``. Only xxhash64 takes a ``salt``; portable keys carry the
    seed inside."""
    from ..operators.text import hash_spark
    if portable:
        return F.expr(hash_spark(key))
    return abs64(F.xxhash64(F.expr(key), *([] if salt is None else [F.lit(salt)])))


def _bucket(key: str, portable: bool = True, salt=None, n: int = _BUCKETS) -> Column:
    """``pmod(_hash(key), n)``: the hash bucket a sampler compares with a
    threshold (or, with ``n`` batches, the batch id)."""
    return F.pmod(_hash(key, portable, salt), F.lit(n))


def _top_k_per_group(df: DataFrame, by: list[str], order: list[Column],
                     k: int) -> DataFrame:
    """Rows ranked ≤ k within each ``by`` group under ``order``. The
    row_number + filter shape plans as WindowGroupLimit: every map task
    pre-limits its local top-k per group before the exchange."""
    w = Window.partitionBy(*map(colutils.qcol, by)).orderBy(*order)
    return (df.withColumn("__omigo_rn__", F.row_number().over(w))
            .filter(F.col("__omigo_rn__") <= k).drop("__omigo_rn__"))


def _is_numeric_type(dt: T.DataType) -> bool:
    return isinstance(dt, T.NumericType)


class OmigoDF(CompatMixin):
    """Chainable analytics DataFrame (reference ``DataFrame``, omigo_core/dataframe.py:19)."""

    def __init__(self, df: DataFrame):
        if isinstance(df, OmigoDF):
            df = df.df
        self._df = df

    # ------------------------------------------------------------------ meta
    @property
    def df(self) -> DataFrame:
        """Unwrap to the underlying Spark DataFrame."""
        return self._df

    @property
    def spark(self):
        return self._df.sparkSession

    def _wrap(self, df: DataFrame) -> "OmigoDF":
        return OmigoDF(df)

    def _select_inplace(self, repl: dict) -> "OmigoDF":
        """Project every column once, substituting ``repl[c]`` (aliased
        back to c) where present — ONE Project node no matter how many
        columns change. The chained-withColumn alternative builds one
        nested Project per column: analysis/optimization cost O(cols²),
        and at ~1,000 columns Catalyst's CollapseProject recursion
        overflows the JVM stack outright (r12 wide-schema probe — the
        reference's design target is '100s or 1000s of columns')."""
        if not repl:
            return self
        # F.col(quote(...)), not self._df[c]: the bracket accessor
        # PARSES the name, so a stray backtick in it is a syntax error
        # (withColumnRenamed took names literally; this path must too)
        exprs = [repl[c].alias(c) if c in repl
                 else F.col(colutils.quote(c))
                 for c in self._df.columns]
        return self._wrap(self._df.select(*exprs))

    def get_header_fields(self) -> list[str]:
        return list(self._df.columns)

    @property
    def columns(self) -> list[str]:
        return list(self._df.columns)

    def num_cols(self) -> int:
        return len(self._df.columns)

    def num_rows(self) -> int:
        """Action (reference is eager so this was free; here it runs a count job)."""
        return self._df.count()

    def get_column_index(self, col: str) -> int:
        return self._df.columns.index(col)

    def validate(self) -> "OmigoDF":
        # Schema validity is guaranteed by Spark; kept for API parity
        # (reference dataframe.py:95-107 re-checks row widths).
        return self

    def col(self, name: str) -> Column:
        return F.col(colutils.quote(name))

    def _resolve(self, cols, ignore_if_missing: bool = False, sort_by_header: bool = False) -> list[str]:
        return resolve_cols(
            self._df.columns, cols,
            ignore_if_missing=ignore_if_missing, sort_by_header=sort_by_header,
        )

    def _missing_ok(self, cols, ignore_if_missing: bool, op: str) -> list[str] | None:
        """Eager column validation at call time (reference raises immediately;
        utils.py:475-484 warn-or-raise)."""
        try:
            return self._resolve(cols)
        except KeyError as e:
            if ignore_if_missing:
                log.warning("%s: %s — ignore_if_missing=True, returning input unchanged", op, e)
                return None
            raise

    # ---------------------------------------------------------- projections
    def select(self, cols, ignore_if_missing: bool = False) -> "OmigoDF":
        """Project columns; names and regex patterns (reference dataframe.py:120-165)."""
        resolved = self._missing_ok(cols, ignore_if_missing, "select")
        if resolved is None:
            return self
        return self._wrap(self._df.select(*[F.col(colutils.quote(c)) for c in resolved]))

    def not_select(self, cols, ignore_if_missing: bool = False) -> "OmigoDF":
        """Inverse projection (reference dataframe.py:181-182)."""
        return self.drop_cols(cols, ignore_if_missing)

    def drop_cols(self, cols, ignore_if_missing: bool = False) -> "OmigoDF":
        resolved = self._missing_ok(cols, ignore_if_missing, "drop_cols")
        if resolved is None:
            return self
        keep = [c for c in self._df.columns if c not in set(resolved)]
        return self._wrap(self._df.select(*[F.col(colutils.quote(c)) for c in keep]))

    def drop_cols_if_exists(self, cols) -> "OmigoDF":
        return self.drop_cols(cols, ignore_if_missing=True)

    def drop_cols_with_prefix(self, prefix: str, ignore_if_missing: bool = False) -> "OmigoDF":
        """Drop the ``prefix:*`` namespace (reference dataframe.py:534)."""
        return self.drop_cols(f"{prefix}{COL_SEP}.*", ignore_if_missing=ignore_if_missing)

    def drop_cols_with_suffix(self, suffix: str, ignore_if_missing: bool = False) -> "OmigoDF":
        return self.drop_cols(f".*{COL_SEP}{suffix}", ignore_if_missing=ignore_if_missing)

    def drop_cols_except(self, cols) -> "OmigoDF":
        return self.select(cols)

    def select_and_add_empty_cols_if_missing(self, cols) -> "OmigoDF":
        """Project, materializing absent columns as '' (reference dataframe.py:167-179)."""
        exprs = []
        existing = set(self._df.columns)
        for c in as_list(cols):
            if c in existing:
                exprs.append(F.col(colutils.quote(c)))
            elif colutils.is_pattern(c):
                exprs.extend(F.col(colutils.quote(m)) for m in self._resolve(c))
            else:
                exprs.append(F.lit("").alias(c))
        return self._wrap(self._df.select(*exprs))

    def add_empty_cols_if_missing(self, cols) -> "OmigoDF":
        """(reference dataframe.py:2436). One Project for all additions
        (chained withColumn is O(new_cols × width) analysis)."""
        have = set(self._df.columns)
        new = list(dict.fromkeys(
            c for c in as_list(cols) if c not in have))
        if not new:
            return self
        return self._wrap(self._df.select(
            "*", *[F.lit("").alias(c) for c in new]))

    def drop_empty_cols(self) -> "OmigoDF":
        """Drop columns whose every value is NULL/'' (reference dataframe.py:553-583).

        One aggregate job over all columns at once (single pass), then a
        driver-side projection. Wide frames (>200 cols) route through a
        stack-to-pairs groupBy instead of one agg with a buffer per
        column — the per-column-buffer codegen took 31 s at 1,000
        columns (r12 wide-schema probe; same blowup class that OOMed
        profile). Both shapes are one pass, partial-aggregated.
        """
        df = self._df
        if len(df.columns) > 200:
            def _slit(name: str) -> str:
                return ("'" + name.replace("\\", "\\\\")
                        .replace("'", "\\'") + "'")
            stack_args = ", ".join(
                f"{_slit(c)}, CAST({colutils.quote(c)} AS STRING)"
                for c in df.columns)
            nonempty = (df.selectExpr(
                f"stack({len(df.columns)}, {stack_args}) AS (column, value)")
                .where(F.col("value").isNotNull() & (F.col("value") != ""))
                .select("column").distinct().collect())
            found = {r["column"] for r in nonempty}
            keep = [c for c in df.columns if c in found]
        else:
            flags = df.agg(*[
                F.max(F.when(F.col(colutils.quote(c)).isNotNull()
                             & (F.col(colutils.quote(c)).cast("string") != ""), 1).otherwise(0)).alias(c)
                for c in df.columns
            ]).first()
            keep = [c for c in df.columns if (flags[c] or 0) == 1]
        if not keep:
            keep = df.columns[:1]
        return self._wrap(df.select(*[F.col(colutils.quote(c)) for c in keep]))

    def drop_empty_rows(self) -> "OmigoDF":
        """Drop rows where every value is NULL/'' (reference dataframe.py:585-635).

        One FLAT predicate, not an OR-chain: concat_ws skips NULLs, so
        the concatenation of every column's string form is '' exactly
        when all values are NULL/'' — a single expression node with N
        children instead of a depth-N boolean tree (which risks the
        same recursion blowups as chained Projects at 1,000+ columns)."""
        df = self._df
        if not df.columns:
            return self
        cond = F.concat_ws(
            "", *[F.col(colutils.quote(c)).cast("string") for c in df.columns]) != ""
        return self._wrap(df.filter(cond))

    def rename(self, col, new_col: str | None = None) -> "OmigoDF":
        """(reference dataframe.py:1555-1572). Also accepts a dict for a
        BULK rename in one Project — chaining 1-col renames stacks one
        Project per call and overflows Catalyst's CollapseProject
        recursion near 1,000 chained calls (r12 wide-schema probe), so
        wide-frame users should pass the mapping in one call."""
        if isinstance(col, dict):
            if new_col is not None:
                raise ValueError("rename: new_col must be None when "
                                 "passing a mapping dict")
            mapping = col
            existing = set(self._df.columns)
            for old in mapping:
                self._resolve(old)
            clash = [n for o, n in mapping.items()
                     if n in existing - set(mapping)]
            if clash:
                raise ValueError(
                    f"rename: target columns already exist: {clash}")
            if len(set(mapping.values())) != len(mapping):
                raise ValueError("rename: duplicate target names in mapping")
            return self._bulk_rename(lambda c: mapping.get(c))
        self._resolve(col)
        if new_col in self._df.columns:
            raise ValueError(f"rename: target column already exists: {new_col}")
        return self._wrap(self._df.withColumnRenamed(col, new_col))

    def reorder(self, cols, use_existing_order: bool = False) -> "OmigoDF":
        """Move cols to the front (reference dataframe.py:2087-2152).
        Default (False, the reference's default) keeps the matched cols
        in ARGUMENT order; ``use_existing_order=True`` moves them to the
        front in HEADER order instead (r10 fix: the flag was previously
        accepted but ignored, and the default claimed the behavior that
        was never implemented)."""
        front = self._resolve(cols, sort_by_header=use_existing_order)
        rest = [c for c in self._df.columns if c not in set(front)]
        return self._wrap(self._df.select(*[F.col(colutils.quote(c)) for c in front + rest]))

    def reverse_reorder(self, cols) -> "OmigoDF":
        """Move cols to the back (reference dataframe.py:2154-2158)."""
        back = self._resolve(cols)
        rest = [c for c in self._df.columns if c not in set(back)]
        return self._wrap(self._df.select(*[F.col(colutils.quote(c)) for c in rest + back]))

    def copy(self, col: str, new_col: str) -> "OmigoDF":
        """(reference dataframe.py:2978-2980)"""
        self._resolve(col)
        return self._wrap(self._df.withColumn(new_col, F.col(colutils.quote(col))))

    # ':'-namespace management (reference dataframe.py:2588-2830) -----------
    def _bulk_rename(self, mapper: Callable[[str], str | None]) -> "OmigoDF":
        # one select with aliases, not N withColumnRenamed: the chained
        # form stacked one Project per column and overflowed Catalyst's
        # CollapseProject at ~1,000 columns (r12 wide-schema probe)
        mapping = {}
        for c in self._df.columns:
            nc = mapper(c)
            if nc is not None and nc != c:
                mapping[c] = nc
        if not mapping:
            return self
        return self._wrap(self._df.select(
            *[F.col(colutils.quote(c)).alias(mapping.get(c, c))
              for c in self._df.columns]))

    def add_prefix(self, prefix: str, cols=None) -> "OmigoDF":
        targets = set(self._resolve(cols)) if cols is not None else set(self._df.columns)
        return self._bulk_rename(lambda c: f"{prefix}{COL_SEP}{c}" if c in targets else None)

    def add_suffix(self, suffix: str, cols=None) -> "OmigoDF":
        targets = set(self._resolve(cols)) if cols is not None else set(self._df.columns)
        return self._bulk_rename(lambda c: f"{c}{COL_SEP}{suffix}" if c in targets else None)

    def remove_prefix(self, prefix: str) -> "OmigoDF":
        p = f"{prefix}{COL_SEP}"
        return self._bulk_rename(lambda c: c[len(p):] if c.startswith(p) else None)

    def remove_suffix(self, suffix: str) -> "OmigoDF":
        s = f"{COL_SEP}{suffix}"
        return self._bulk_rename(lambda c: c[: -len(s)] if c.endswith(s) else None)

    def rename_prefix(self, old_prefix: str, new_prefix: str) -> "OmigoDF":
        p = f"{old_prefix}{COL_SEP}"
        return self._bulk_rename(
            lambda c: f"{new_prefix}{COL_SEP}{c[len(p):]}" if c.startswith(p) else None
        )

    def rename_suffix(self, old_suffix: str, new_suffix: str) -> "OmigoDF":
        s = f"{COL_SEP}{old_suffix}"
        return self._bulk_rename(
            lambda c: f"{c[: -len(s)]}{COL_SEP}{new_suffix}" if c.endswith(s) else None
        )

    replace_prefix = rename_prefix
    replace_suffix = rename_suffix

    # ----------------------------------------------------- constant columns
    def add_const(self, col: str, value) -> "OmigoDF":
        """(reference dataframe.py:2404-2420)"""
        return self._wrap(self._df.withColumn(col, F.lit(value)))

    def add_const_if_missing(self, col: str, value) -> "OmigoDF":
        if col in self._df.columns:
            return self
        return self.add_const(col, value)

    def assign_value(self, col: str, value) -> "OmigoDF":
        """Overwrite an existing column with a constant (reference dataframe.py:2544-2553)."""
        self._resolve(col)
        return self._wrap(self._df.withColumn(col, F.lit(value)))

    def add_row(self, row_values: list) -> "OmigoDF":
        """Append one literal row (reference dataframe.py:2499-2521)."""
        if len(row_values) != len(self._df.columns):
            raise ValueError("add_row: width mismatch")
        one = self.spark.createDataFrame([tuple(row_values)], self._df.schema)
        return self._wrap(self._df.unionByName(one))

    def add_map_as_row(self, mp: dict, default_val=None) -> "OmigoDF":
        """(reference dataframe.py:2523-2542)"""
        vals = []
        for c in self._df.columns:
            if c in mp:
                vals.append(mp[c])
            elif default_val is not None:
                vals.append(default_val)
            else:
                raise ValueError(f"add_map_as_row: missing key {c} and no default_val")
        return self.add_row(vals)

    # ------------------------------------------------------------- numerics
    def to_int(self, cols) -> "OmigoDF":
        """(reference dataframe.py:1698-1700): int(float(x)). Both casts
        are try_cast: under Spark 4's default ANSI mode a plain
        double->long cast THROWS on NaN/±Inf/overflow ('1e300'), killing
        the whole job — unparseable-to-int becomes NULL instead, the
        module's missing-value convention."""
        return self._select_inplace(
            {c: F.col(colutils.quote(c)).try_cast("double").try_cast("long")
             for c in self._resolve(cols)})

    def to_numeric(self, cols, precision: int = 6) -> "OmigoDF":
        """(reference dataframe.py:1702-1705)"""
        return self._select_inplace(
            {c: F.round(F.col(colutils.quote(c)).try_cast("double"), precision)
             for c in self._resolve(cols)})

    def apply_precision(self, cols, precision: int = 6) -> "OmigoDF":
        return self.to_numeric(cols, precision)

    def ratio(self, col1: str, col2: str, new_col: str, default: float = 0.0,
              precision: int = 6) -> "OmigoDF":
        """Safe division (reference dataframe.py:440-448)."""
        self._resolve([col1, col2])
        n = F.col(colutils.quote(col1)).try_cast("double")
        d = F.col(colutils.quote(col2)).try_cast("double")
        expr = F.when(d.isNotNull() & (d != 0) & n.isNotNull(), F.round(n / d, precision)) \
                .otherwise(F.lit(float(default)))
        return self._wrap(self._df.withColumn(new_col, expr))

    def ratio_const(self, col: str, denom, new_col: str, precision: int = 6) -> "OmigoDF":
        """(reference dataframe.py:450)"""
        self._resolve(col)
        d = float(denom)
        if d == 0:
            return self.add_const(new_col, 0.0)
        expr = F.round(F.col(colutils.quote(col)).try_cast("double") / F.lit(d), precision)
        return self._wrap(self._df.withColumn(new_col, expr))

    def cap_min_inline(self, col: str, value) -> "OmigoDF":
        """(reference dataframe.py:2962-2976)"""
        self._resolve(col)
        return self._wrap(self._df.withColumn(
            col, F.greatest(F.col(colutils.quote(col)).try_cast("double"), F.lit(float(value)))))

    def cap_max_inline(self, col: str, value) -> "OmigoDF":
        self._resolve(col)
        return self._wrap(self._df.withColumn(
            col, F.least(F.col(colutils.quote(col)).try_cast("double"), F.lit(float(value)))))

    def cap_min(self, col: str, value, new_col: str) -> "OmigoDF":
        self._resolve(col)
        return self._wrap(self._df.withColumn(
            new_col, F.greatest(F.col(colutils.quote(col)).try_cast("double"), F.lit(float(value)))))

    def cap_max(self, col: str, value, new_col: str) -> "OmigoDF":
        self._resolve(col)
        return self._wrap(self._df.withColumn(
            new_col, F.least(F.col(colutils.quote(col)).try_cast("double"), F.lit(float(value)))))

    def replace_str_inline(self, cols, old_str: str, new_str: str = "") -> "OmigoDF":
        """(reference dataframe.py:410-412)"""
        return self._select_inplace(
            {c: F.replace(F.col(colutils.quote(c)).cast("string"),
                          F.lit(old_str), F.lit(new_str))
             for c in self._resolve(cols)})

    def set_missing_values(self, cols, default_val: str) -> "OmigoDF":
        """''/NULL → default (reference dataframe.py:4910-4912)."""
        def _fill(v):
            return F.when(v.isNull() | (v.cast("string") == ""),
                          F.lit(default_val)).otherwise(v)
        return self._select_inplace(
            {c: _fill(F.col(colutils.quote(c))) for c in self._resolve(cols)})

    # -------------------------------------------------------------- codecs
    def url_encode(self, col: str, new_col: str) -> "OmigoDF":
        """(reference dataframe.py:2294): quote_plus. url_encode lacks a JVM
        builtin with identical semantics, so a vectorized expression chain is
        used (percent-encode via reflect is unavailable in ANSI; we keep a
        minimal udf here — cold path, egress-only)."""
        from urllib.parse import quote_plus

        @F.udf(T.StringType())
        def _enc(s):
            return quote_plus(s) if s is not None else ""

        self._resolve(col)
        return self._wrap(self._df.withColumn(new_col, _enc(F.col(colutils.quote(col)).cast("string"))))

    def url_decode(self, col: str, new_col: str) -> "OmigoDF":
        """(reference dataframe.py:2258): unquote_plus."""
        from urllib.parse import unquote_plus

        @F.udf(T.StringType())
        def _dec(s):
            return unquote_plus(s) if s is not None else ""

        self._resolve(col)
        return self._wrap(self._df.withColumn(new_col, _dec(F.col(colutils.quote(col)).cast("string"))))

    def url_encode_inline(self, col: str) -> "OmigoDF":
        return self.url_encode(col, col)

    def url_decode_inline(self, cols) -> "OmigoDF":
        out: OmigoDF = self
        for c in self._resolve(cols):
            out = out.url_decode(c, c)
        return out

    def resolve_url_encoded_cols(self, suffix: str = "url_encoded") -> "OmigoDF":
        """Decode every ``*:url_encoded`` col and strip the marker
        (reference dataframe.py:2268-2292)."""
        out: OmigoDF = self
        for c in list(self._df.columns):
            if c.endswith(f"{COL_SEP}{suffix}"):
                out = out.url_decode(c, c).rename(c, c[: -(len(suffix) + 1)])
        return out

    def base64_encode(self, col: str, new_col: str) -> "OmigoDF":
        """(reference dataframe.py:2300-2320) — JVM builtin."""
        self._resolve(col)
        return self._wrap(self._df.withColumn(
            new_col, F.base64(F.col(colutils.quote(col)).cast("string").cast("binary"))))

    def base64_decode(self, col: str, new_col: str) -> "OmigoDF":
        self._resolve(col)
        return self._wrap(self._df.withColumn(
            new_col, F.unbase64(F.col(colutils.quote(col)).cast("string")).cast("string")))

    def base64_encode_inline(self, col: str) -> "OmigoDF":
        return self.base64_encode(col, col)

    def base64_decode_inline(self, col: str) -> "OmigoDF":
        return self.base64_decode(col, col)

    # ------------------------------------------------------------- filters
    def where(self, condition) -> "OmigoDF":
        """Native fast path: SQL string or Column predicate. This is the
        idiomatic Spark spelling; the lambda `filter` below exists for
        reference API parity."""
        return self._wrap(self._df.filter(condition))

    def filter(self, cols, func: Callable, include_cond: bool = True,
               ignore_if_missing: bool = False, use_array_notation: bool = False) -> "OmigoDF":
        """Generic lambda filter (reference dataframe.py:1129-1205): the
        callable receives one string per selected column (or a list with
        use_array_notation). Compiled to a Python UDF — the documented slow
        path; use `where` / typed predicates for JVM-side filtering."""
        resolved = self._missing_ok(cols, ignore_if_missing, "filter")
        if resolved is None:
            return self

        if use_array_notation:
            def _call(*vals):
                return bool(func([("" if v is None else v) for v in vals]))
        else:
            def _call(*vals):
                return bool(func(*[("" if v is None else v) for v in vals]))

        pred = F.udf(_call, T.BooleanType())(*[F.col(colutils.quote(c)).cast("string") for c in resolved])
        if not include_cond:
            pred = ~F.coalesce(pred, F.lit(False))
        return self._wrap(self._df.filter(pred))

    def exclude_filter(self, cols, func: Callable, ignore_if_missing: bool = False,
                       use_array_notation: bool = False) -> "OmigoDF":
        """(reference dataframe.py:1207)"""
        return self.filter(cols, func, include_cond=False,
                           ignore_if_missing=ignore_if_missing,
                           use_array_notation=use_array_notation)

    # typed predicates (reference dataframe.py:248-408) ---------------------
    def _cmp(self, col: str, value, op: str, cast: str | None,
             ignore_if_missing: bool = False) -> "OmigoDF":
        resolved = self._missing_ok(col, ignore_if_missing, op)
        if resolved is None:
            return self
        c = F.col(colutils.quote(resolved[0]))
        if cast == "int":
            # reference semantics: int(float(x)) — dataframe.py:283;
            # second cast is try_cast too or ANSI throws on NaN/overflow
            c = c.try_cast("double").try_cast("long")
            value = int(float(value))
        elif cast == "float":
            c = c.try_cast("double")
            value = float(value)
        elif cast == "str":
            c = c.cast("string")
            value = str(value)
        # lambdas: each comparison is a py4j round trip, so build only one
        cond = {
            "eq": lambda: c == value,
            # missing KEEPS the row under 'ne': the module's "'' and NULL
            # are both missing" contract ('' != 'x' is True in the
            # reference's string-first model) — matching every sibling
            # negative filter (values_not_in, not_startswith,
            # not_regex_match), where a bare c != value would silently
            # drop NULL/unparseable rows
            "ne": lambda: ~F.coalesce(c == value, F.lit(False)),
            # 'ne_strict' drops missing: for is_nonzero*, where a missing
            # value is not a nonzero number
            "ne_strict": lambda: c.isNotNull() & (c != value),
            "gt": lambda: c > value, "ge": lambda: c >= value,
            "lt": lambda: c < value, "le": lambda: c <= value,
        }[op]()
        return self._wrap(self._df.filter(cond))

    def eq_int(self, col, value, ignore_if_missing=False):
        return self._cmp(col, value, "eq", "int", ignore_if_missing)

    def eq_float(self, col, value, ignore_if_missing=False):
        return self._cmp(col, value, "eq", "float", ignore_if_missing)

    def eq_str(self, col, value, ignore_if_missing=False):
        return self._cmp(col, value, "eq", "str", ignore_if_missing)

    def not_eq_int(self, col, value, ignore_if_missing=False):
        return self._cmp(col, value, "ne", "int", ignore_if_missing)

    def not_eq_float(self, col, value, ignore_if_missing=False):
        return self._cmp(col, value, "ne", "float", ignore_if_missing)

    def not_eq_str(self, col, value, ignore_if_missing=False):
        return self._cmp(col, value, "ne", "str", ignore_if_missing)

    def gt_int(self, col, value, ignore_if_missing=False):
        return self._cmp(col, value, "gt", "int", ignore_if_missing)

    def ge_int(self, col, value, ignore_if_missing=False):
        return self._cmp(col, value, "ge", "int", ignore_if_missing)

    def lt_int(self, col, value, ignore_if_missing=False):
        return self._cmp(col, value, "lt", "int", ignore_if_missing)

    def le_int(self, col, value, ignore_if_missing=False):
        return self._cmp(col, value, "le", "int", ignore_if_missing)

    def gt_float(self, col, value, ignore_if_missing=False):
        return self._cmp(col, value, "gt", "float", ignore_if_missing)

    def ge_float(self, col, value, ignore_if_missing=False):
        return self._cmp(col, value, "ge", "float", ignore_if_missing)

    def lt_float(self, col, value, ignore_if_missing=False):
        return self._cmp(col, value, "lt", "float", ignore_if_missing)

    def le_float(self, col, value, ignore_if_missing=False):
        return self._cmp(col, value, "le", "float", ignore_if_missing)

    def gt_str(self, col, value, ignore_if_missing=False):
        return self._cmp(col, value, "gt", "str", ignore_if_missing)

    def ge_str(self, col, value, ignore_if_missing=False):
        return self._cmp(col, value, "ge", "str", ignore_if_missing)

    def lt_str(self, col, value, ignore_if_missing=False):
        return self._cmp(col, value, "lt", "str", ignore_if_missing)

    def le_str(self, col, value, ignore_if_missing=False):
        return self._cmp(col, value, "le", "str", ignore_if_missing)

    # deprecated untyped aliases kept for parity (reference dataframe.py:318-384)
    eq = eq_str
    gt = gt_float
    lt = lt_float
    ge = ge_float
    le = le_float

    def is_nonzero(self, col, ignore_if_missing=False):
        return self.is_nonzero_float(col, ignore_if_missing)

    def is_nonzero_int(self, col, ignore_if_missing=False):
        return self._cmp(col, 0, "ne_strict", "int", ignore_if_missing)

    def is_nonzero_float(self, col, ignore_if_missing=False):
        return self._cmp(col, 0.0, "ne_strict", "float", ignore_if_missing)

    def startswith(self, col: str, prefix: str, ignore_if_missing=False) -> "OmigoDF":
        resolved = self._missing_ok(col, ignore_if_missing, "startswith")
        if resolved is None:
            return self
        return self._wrap(self._df.filter(F.col(colutils.quote(resolved[0])).cast("string").startswith(prefix)))

    def not_startswith(self, col: str, prefix: str, ignore_if_missing=False) -> "OmigoDF":
        resolved = self._missing_ok(col, ignore_if_missing, "not_startswith")
        if resolved is None:
            return self
        c = F.col(colutils.quote(resolved[0])).cast("string")
        return self._wrap(self._df.filter(~F.coalesce(c.startswith(prefix), F.lit(False))))

    def endswith(self, col: str, suffix: str, ignore_if_missing=False) -> "OmigoDF":
        resolved = self._missing_ok(col, ignore_if_missing, "endswith")
        if resolved is None:
            return self
        return self._wrap(self._df.filter(F.col(colutils.quote(resolved[0])).cast("string").endswith(suffix)))

    def not_endswith(self, col: str, suffix: str, ignore_if_missing=False) -> "OmigoDF":
        resolved = self._missing_ok(col, ignore_if_missing, "not_endswith")
        if resolved is None:
            return self
        c = F.col(colutils.quote(resolved[0])).cast("string")
        return self._wrap(self._df.filter(~F.coalesce(c.endswith(suffix), F.lit(False))))

    def is_empty_str(self, col: str, ignore_if_missing=False) -> "OmigoDF":
        resolved = self._missing_ok(col, ignore_if_missing, "is_empty_str")
        if resolved is None:
            return self
        c = F.col(colutils.quote(resolved[0]))
        return self._wrap(self._df.filter(c.isNull() | (c.cast("string") == "")))

    def is_nonempty_str(self, col: str, ignore_if_missing=False) -> "OmigoDF":
        resolved = self._missing_ok(col, ignore_if_missing, "is_nonempty_str")
        if resolved is None:
            return self
        c = F.col(colutils.quote(resolved[0]))
        return self._wrap(self._df.filter(c.isNotNull() & (c.cast("string") != "")))

    def regex_match(self, col: str, pattern: str, condition: bool = True,
                    ignore_if_missing=False) -> "OmigoDF":
        """Python re.match anchors at the start (reference dataframe.py:256-270)
        → rlike with a leading anchor."""
        resolved = self._missing_ok(col, ignore_if_missing, "regex_match")
        if resolved is None:
            return self
        pat = pattern if pattern.startswith("^") else "^(?:" + pattern + ")"
        pred = F.col(colutils.quote(resolved[0])).cast("string").rlike(pat)
        if not condition:
            pred = ~F.coalesce(pred, F.lit(False))
        return self._wrap(self._df.filter(pred))

    def not_regex_match(self, col: str, pattern: str, ignore_if_missing=False) -> "OmigoDF":
        return self.regex_match(col, pattern, condition=False, ignore_if_missing=ignore_if_missing)

    def values_in(self, col: str, values: Iterable, ignore_if_missing=False) -> "OmigoDF":
        """(reference dataframe.py:248-250)"""
        resolved = self._missing_ok(col, ignore_if_missing, "values_in")
        if resolved is None:
            return self
        return self._wrap(self._df.filter(
            F.col(colutils.quote(resolved[0])).cast("string").isin([str(v) for v in values])))

    def values_not_in(self, col: str, values: Iterable, ignore_if_missing=False) -> "OmigoDF":
        resolved = self._missing_ok(col, ignore_if_missing, "values_not_in")
        if resolved is None:
            return self
        c = F.col(colutils.quote(resolved[0])).cast("string")
        return self._wrap(self._df.filter(~F.coalesce(c.isin([str(v) for v in values]), F.lit(False))))

    # --------------------------------------------------------- transform(s)
    def transform(self, cols, func: Callable, new_cols, use_array_notation: bool = False,
                  ignore_if_missing: bool = False) -> "OmigoDF":
        """n-ary lambda over column values → 1..n new columns (reference
        dataframe.py:1319-1472). Values arrive as strings; None results
        become '' (dataframe.py:1420-1421). Python-UDF slow path — use
        `with_column` / native exprs in hot paths."""
        resolved = self._missing_ok(cols, ignore_if_missing, "transform")
        if resolved is None:
            return self
        new_cols = as_list(new_cols)

        n_out = len(new_cols)
        if use_array_notation:
            def _call(*vals):
                return func([("" if v is None else v) for v in vals])
        else:
            def _call(*vals):
                return func(*[("" if v is None else v) for v in vals])

        in_cols = [F.col(colutils.quote(c)).cast("string") for c in resolved]
        if n_out == 1:
            @F.udf(T.StringType())
            def _f1(*vals):
                out = _call(*vals)
                if isinstance(out, (list, tuple)):
                    out = out[0]
                return "" if out is None else str(out)

            return self._wrap(self._df.withColumn(new_cols[0], _f1(*in_cols)))

        struct_type = T.StructType([T.StructField(f"_o{i}", T.StringType()) for i in range(n_out)])

        @F.udf(struct_type)
        def _fn(*vals):
            out = _call(*vals)
            if not isinstance(out, (list, tuple)):
                out = [out]
            out = list(out) + [""] * (n_out - len(out))
            return tuple("" if v is None else str(v) for v in out[:n_out])

        tmp = "__omigo_transform_out__"
        out_df = self._df.withColumn(tmp, _fn(*in_cols))
        for i, nc in enumerate(new_cols):
            out_df = out_df.withColumn(nc, F.col(tmp)[f"_o{i}"])
        return self._wrap(out_df.drop(tmp))

    def transform_inline(self, cols, func: Callable, ignore_if_missing: bool = False) -> "OmigoDF":
        """Overwrite matching cols with a unary lambda (reference dataframe.py:1474-1515)."""
        resolved = self._missing_ok(cols, ignore_if_missing, "transform_inline")
        if resolved is None:
            return self

        @F.udf(T.StringType())
        def _f(v):
            out = func("" if v is None else v)
            return "" if out is None else str(out)

        return self._select_inplace(
            {c: _f(F.col(colutils.quote(c)).cast("string")) for c in resolved})

    def with_column(self, new_col: str, expr) -> "OmigoDF":
        """Native fast path: add a column from a Column expression / SQL string."""
        if isinstance(expr, str):
            expr = F.expr(expr)
        return self._wrap(self._df.withColumn(new_col, expr))

    def _inline_math(self, cols, fn) -> "OmigoDF":
        return self._select_inplace(
            {c: fn(F.col(colutils.quote(c)).try_cast("double"))
             for c in self._resolve(cols)})

    def transform_inline_log(self, cols):
        """(reference dataframe.py:1517-1552)"""
        return self._inline_math(cols, F.log)

    def transform_inline_log2(self, cols):
        return self._inline_math(cols, F.log2)

    def transform_inline_log10(self, cols):
        return self._inline_math(cols, F.log10)

    def transform_inline_log1p(self, cols):
        return self._inline_math(cols, F.log1p)

    def transform_inline_log1p_base2(self, cols):
        return self._inline_math(cols, lambda c: F.log2(c + 1))

    def transform_inline_log1p_base10(self, cols):
        return self._inline_math(cols, lambda c: F.log10(c + 1))

    def generate_key_hash(self, cols, new_col: str = "key_hash",
                          portable: bool = True) -> "OmigoDF":
        """Deterministic hash of tab-joined values (reference
        dataframe.py:4056-4089, mmh3.hash64 via utils.py:374 — a hash that
        is stable across processes/engines). Values are whitespace-
        normalized the reference's way (utils.py:565-571: tab/newline/
        vtab/CR each become ONE space — not trimmed), and NULL occupies
        its tab slot as '' via coalesce: concat_ws SKIPS NULLs, so
        without it ('x', NULL) and (NULL, 'x') — two different rows —
        would collide to the same key_hash and silently corrupt any
        dedup/partitioning built on it (r10 review). Default is the
        engine's portable md5-polynomial (reproducible in any engine,
        including the DuckDB oracle); ``portable=False`` switches to
        xxhash64 — ~3x cheaper per row, but Spark-specific."""
        from ..operators.text import hash_spark
        resolved = self._resolve(cols)
        joined = F.concat_ws("\t", *[
            F.coalesce(F.translate(F.col(colutils.quote(c)).cast("string"),
                                   "\t\n\x0b\r", "    "), F.lit(""))
            for c in resolved])
        if not portable:
            return self._wrap(self._df.withColumn(new_col, abs64(F.xxhash64(joined))))
        out = (self._df.withColumn("__gkh__", joined)
               .withColumn(new_col, F.expr(hash_spark("__gkh__"))).drop("__gkh__"))
        return self._wrap(out)

    def custom_func(self, func: Callable, *args, **kwargs) -> "OmigoDF":
        """Whole-table escape hatch (reference dataframe.py:4924-4934)."""
        return func(self, *args, **kwargs)

    def extend_class(self, cls, *args, **kwargs):
        """Re-wrap in a user subclass (reference dataframe.py:4915-4921)."""
        return cls(self._df, *args, **kwargs)

    # ----------------------------------------------------------------- sort
    def _has_all_numeric_values(self, col: str) -> bool:
        """Reference sniffs whether every value parses as float to choose
        numeric vs lexicographic order (dataframe.py:2048-2061, 5067). For
        typed columns the schema answers; string columns need one cheap
        aggregate over the (possibly pruned) column."""
        dt = self._df.schema[col].dataType
        if _is_numeric_type(dt):
            return True
        if not isinstance(dt, T.StringType):
            return False
        c = F.col(colutils.quote(col))
        bad = self._df.agg(
            F.max(F.when(c.isNotNull() & (c != "") & c.try_cast("double").isNull(), 1).otherwise(0))
        ).first()[0]
        return (bad or 0) == 0

    def sort(self, cols, reverse: bool = False, reorder: bool = False,
             all_numeric: bool | None = None) -> "OmigoDF":
        """(reference dataframe.py:2019-2085)"""
        resolved = self._resolve(cols)
        # sniff all string sort columns in ONE aggregate job, not one per col
        sniffed: dict[str, bool] = {}
        if all_numeric is None:
            str_cols = [c for c in resolved
                        if isinstance(self._df.schema[c].dataType, T.StringType)]
            if str_cols:
                aggs = [F.max(F.when(F.col(colutils.quote(c)).isNotNull() & (F.col(colutils.quote(c)) != "")
                                     & F.col(colutils.quote(c)).try_cast("double").isNull(), 1)
                              .otherwise(0)).alias(c) for c in str_cols]
                row = self._df.agg(*aggs).first()
                sniffed = {c: (row[c] or 0) == 0 for c in str_cols}
        exprs = []
        for c in resolved:
            col = F.col(colutils.quote(c))
            dt = self._df.schema[c].dataType
            if all_numeric is not None:
                numeric = all_numeric
            elif _is_numeric_type(dt):
                numeric = True
            else:
                numeric = sniffed.get(c, False)
            if numeric and isinstance(dt, T.StringType):
                col = col.try_cast("double")
            exprs.append(col.desc() if reverse else col.asc())
        out = self._df.orderBy(*exprs)
        res = self._wrap(out)
        if reorder:
            res = res.reorder(resolved)
        return res

    def reverse_sort(self, cols, reorder: bool = False, all_numeric: bool | None = None) -> "OmigoDF":
        return self.sort(cols, reverse=True, reorder=reorder, all_numeric=all_numeric)

    # ------------------------------------------------------------ slicing
    def take(self, n: int) -> "OmigoDF":
        """First n rows (reference dataframe.py:466-471)."""
        return self._wrap(self._df.limit(n))

    def skip_rows(self, n: int) -> "OmigoDF":
        """(reference dataframe.py:457-464)"""
        return self._wrap(self._df.offset(n))

    def last(self, n: int) -> "OmigoDF":
        """(reference dataframe.py:473-477). Requires a count action to
        compute the offset — the reference's list slice was free; on Spark
        tail-of-table is inherently order-dependent."""
        total = self._df.count()
        return self._wrap(self._df.offset(max(total - n, 0)))

    # ---------------------------------------------------------- seq / cumsum
    @staticmethod
    def _global_rank(df: DataFrame, order_cols: list, out_col: str
                     ) -> tuple[DataFrame, int]:
        """0-based dense global ordering WITHOUT a single-partition window:
        range-repartition on the order key (keeps ranges disjoint across
        partitions), sort within partitions, then assign offsets from
        per-partition counts — the add_seq_num two-phase pattern. Scales to
        any cardinality; a global Window.orderBy would put every row in one
        task. Returns (ranked_df, total_rows) — the total falls out of
        the offsets collect for free, so callers that need the
        cardinality (window_aggregate's sliding path) don't pay a
        separate count job that re-evaluates the rank subtree (r14)."""
        # localCheckpoint pins the range partitioning: RangePartitioner
        # samples boundaries per action, so without it the counts job and
        # the assign job could see different partitionings (wrong offsets);
        # it also runs the shuffle once instead of twice. EAGER on purpose
        # (r14 adjudication): the lazy variant — materialized by the
        # counts collect — read consistently slower in clean-box isolated
        # A/B; a pinning checkpoint consumed by a collect AND a later
        # mapInPandas action materializes best as its own job.
        d = (df.repartitionByRange(*order_cols)
               .sortWithinPartitions(*order_cols).localCheckpoint())
        pid = F.spark_partition_id()
        counts = {r["pid"]: r["cnt"] for r in
                  d.groupBy(pid.alias("pid")).agg(F.count(F.lit(1)).alias("cnt")).collect()}
        offsets, acc = {}, 0
        for p in sorted(counts):
            offsets[p] = acc
            acc += counts[p]
        schema = T.StructType(d.schema.fields + [T.StructField(out_col, T.LongType())])
        b_offsets = d.sparkSession.sparkContext.broadcast(offsets)

        def _assign(iterator):
            from pyspark import TaskContext

            base = b_offsets.value.get(TaskContext.get().partitionId(), 0)
            seen = 0
            for pdf in iterator:
                pdf = pdf.copy()
                pdf[out_col] = range(base + seen, base + seen + len(pdf))
                seen += len(pdf)
                yield pdf

        return d.mapInPandas(_assign, schema=schema), acc

    def add_seq_num(self, new_col: str = "sno", start: int = 1) -> "OmigoDF":
        """1-based row number in current order (reference dataframe.py:1707-1729).

        Scale-aware: instead of a single-partition global window, compute
        per-partition counts (one tiny job), then assign offsets per
        partition with mapInPandas — no shuffle of the data itself.
        localCheckpoint pins the partitioning between the two jobs: a
        nondeterministic upstream (sample, rand ordering, AQE re-plan)
        could otherwise place different rows per partition in the counts
        job vs the assign job, duplicating/skipping sequence numbers —
        the same hazard _global_rank documents.
        """
        df = self._df.localCheckpoint()
        pid = F.spark_partition_id()
        counts = {r["pid"]: r["cnt"] for r in
                  df.groupBy(pid.alias("pid")).agg(F.count(F.lit(1)).alias("cnt")).collect()}
        offsets = {}
        acc = start
        for p in sorted(counts):
            offsets[p] = acc
            acc += counts[p]
        schema = T.StructType(df.schema.fields + [T.StructField(new_col, T.LongType())])
        b_offsets = self.spark.sparkContext.broadcast(offsets)

        def _assign(iterator):
            import pandas as pd  # noqa
            from pyspark import TaskContext

            pid_ = TaskContext.get().partitionId()
            base = b_offsets.value.get(pid_, 0)
            seen = 0
            for pdf in iterator:
                pdf = pdf.copy()
                pdf[new_col] = range(base + seen, base + seen + len(pdf))
                seen += len(pdf)
                yield pdf

        return self._wrap(df.mapInPandas(_assign, schema=schema))

    def normalize(self, cols, method: str = "zscore", group_cols=None,
                  precision: int = 6, suffix: str = "norm") -> "OmigoDF":
        """Feature scaling for training pipelines: append
        ``<col>:<suffix>`` columns with z-score ((x-mean)/stddev_samp,
        0.0 when the group is constant) or min-max ((x-min)/(max-min),
        0.5 when constant) normalization, globally or per
        ``group_cols``.

        Plan: one partial+final aggregation computes the group stats
        (a 1-row broadcast when global, a broadcast-joined tiny frame
        per group otherwise) and the scaling itself is map-side — the
        rows never shuffle. Stats use exact DECIMAL sums so results are
        deterministic under any partitioning."""
        use = self._resolve(cols)
        gcols = self._resolve(group_cols) if group_cols else []
        if method not in ("zscore", "minmax"):
            raise ValueError(f"normalize: unknown method: {method}")
        aggs = []
        for c in use:
            x = F.col(colutils.quote(c)).try_cast("double")
            if method == "zscore":
                # exact decimal moments -> bit-deterministic mean/std.
                # try_cast/try_multiply/try_sum make every overflow a NULL
                # regardless of spark.sql.ansi.enabled; the counts then
                # detect rows silently dropped from a partial sum, and the
                # overflow guard below is the single, loud failure point.
                dec = F.col(colutils.quote(c)).try_cast("decimal(28,8)")
                sq = F.try_multiply(dec, dec).try_cast("decimal(38,8)")
                aggs += [
                    F.try_sum(dec).alias(f"__s_{c}__"),
                    F.try_sum(sq).alias(f"__s2_{c}__"),
                    F.count(x).alias(f"__n_{c}__"),
                    F.count(dec).alias(f"__nc_{c}__"),
                    F.count(sq).alias(f"__n2_{c}__"),
                ]
            else:
                aggs += [F.min(x).alias(f"__mn_{c}__"),
                         F.max(x).alias(f"__mx_{c}__")]
        stats = self._df.groupBy(*[F.col(colutils.quote(g)) for g in gcols]).agg(*aggs)
        if gcols:
            # no forced broadcast: stats is one row per GROUP, which at
            # high group cardinality (per-user stats over tens of
            # millions of users) would OOM the driver — AQE broadcasts
            # it automatically when it is actually small, the same call
            # window_aggregate makes (r10 review)
            joined = self._df.join(stats, on=gcols, how="left")
        else:
            # global stats: literally one row — broadcast is always right
            joined = self._df.crossJoin(F.broadcast(stats))
        out = joined
        for c in use:
            x = F.col(colutils.quote(c)).try_cast("double")
            if method == "zscore":
                n = F.col(f"__n_{c}__").cast("double")
                mean = F.col(f"__s_{c}__").cast("double") / n
                # sample variance from exact sums; guard n<=1 and var=0
                var = (F.col(f"__s2_{c}__").cast("double")
                       - n * mean * mean) / (n - 1)
                # decimal overflow NULLs rows (try_cast, any ANSI mode) or
                # whole sums (non-ANSI aggregate overflow); either way the
                # WHEN would fall through to 0.0 — a silently wrong
                # z-score (the DuckDB oracle raises). Fail loudly instead.
                overflow = (F.col(f"__n_{c}__") > 0) & (
                    F.col(f"__s_{c}__").isNull()
                    | F.col(f"__s2_{c}__").isNull()
                    | (F.col(f"__nc_{c}__") < F.col(f"__n_{c}__"))
                    | (F.col(f"__n2_{c}__") < F.col(f"__n_{c}__")))
                # x IS NULL (missing value or junk string through
                # try_cast) or the row's group has no stats row (NULL
                # group key never equi-joins) must yield a NULL score —
                # without the guard both fell through the WHEN to the
                # constant-group 0.0 fallback, a silently fabricated
                # z-score (r11 NULL sweep). Same on min-max below.
                z = F.when(overflow, F.raise_error(F.lit(
                        f"normalize: decimal sum overflow on column '{c}' "
                        f"(|x| or group size too large for DECIMAL(38,8) "
                        f"moments) — pre-scale the column"))
                        .cast("double")) \
                     .when(x.isNull() | F.col(f"__n_{c}__").isNull(),
                           F.lit(None).cast("double")) \
                     .when((F.col(f"__n_{c}__") > 1) & (var > 0),
                           (x - mean) / F.sqrt(var)).otherwise(0.0)
                out = out.withColumn(f"{c}:{suffix}", F.round(z, precision))
            else:
                rng = F.col(f"__mx_{c}__") - F.col(f"__mn_{c}__")
                mm = F.when(x.isNull() | rng.isNull(),
                            F.lit(None).cast("double")) \
                      .when(rng > 0, (x - F.col(f"__mn_{c}__")) / rng) \
                      .otherwise(0.5)
                out = out.withColumn(f"{c}:{suffix}", F.round(mm, precision))
        drop = [f.name for f in stats.schema.fields if f.name.startswith("__")]
        return self._wrap(out.drop(*drop))

    def cumulative_sum(self, col: str, new_col: str, sort_cols=None, as_int: bool = True,
                       exact: bool = False) -> "OmigoDF":
        """Running sum (reference dataframe.py:4091-4129). The reference sums
        in physical row order; a distributed engine needs an explicit order —
        pass sort_cols, else the current order is pinned via add_seq_num.
        exact=True accumulates in DECIMAL (order-independent result) and
        presents double."""
        self._resolve(col)
        if exact:
            def _cast(c):
                return c.try_cast("decimal(18,4)")

            def _post(e):
                return e.cast("double")
        else:
            def _cast(c):
                # as_int follows to_int's int(float(x)) two-step: a bare
                # try_cast('long') on '3.5' yields NULL and silently
                # drops the row's contribution from the running sum
                return (c.try_cast("double").try_cast("long") if as_int
                        else c.try_cast("double"))

            def _post(e):
                return e

        # Two-phase distributed prefix sum — a global orderBy window would
        # move ALL rows to one partition (the WindowExec single-partition
        # trap). Phase 1: within-partition running sum (window partitioned
        # by partition id — balanced). Phase 2: per-partition totals are a
        # tiny driver list; each row adds the prefix of the partitions
        # before it. One balanced shuffle + one light aggregate job.
        if sort_cols is None:
            base = self._df
        else:
            scols = self._resolve(sort_cols)
            base = (self._df.repartitionByRange(*[F.col(c) for c in scols])
                    .sortWithinPartitions(*scols))
        pid, mid = "__omigo_pid__", "__omigo_mid__"
        # localCheckpoint pins partition ids/ordering: the plan executes
        # twice (totals job + main job) and range partitioning samples
        # randomly, so without the barrier the two executions could
        # disagree on partition boundaries
        df2 = (base.withColumn(pid, F.spark_partition_id())
               .withColumn(mid, F.monotonically_increasing_id())
               .localCheckpoint())
        w = (Window.partitionBy(pid).orderBy(mid)
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        # quoted: names may contain '.' (the _exists_pred convention) —
        # a bare F.col would parse them as struct access
        vcol = F.col(colutils.quote(col))
        within = F.sum(_cast(vcol)).over(w)
        totals = {r["p"]: r["t"] for r in
                  df2.groupBy(F.col(pid).alias("p"))
                     .agg(F.sum(_cast(vcol)).alias("t")).collect()
                  if r["t"] is not None}
        prefix: dict[int, object] = {}
        acc = None
        for p in sorted(totals):
            prefix[p] = acc
            acc = totals[p] if acc is None else acc + totals[p]
        pairs = []
        for p, v in sorted(prefix.items()):
            if v is not None:
                pairs += [F.lit(p), F.lit(v)]
        zero = F.lit(0).cast("decimal(18,4)") if exact else \
            F.lit(0).cast("long" if as_int else "double")
        off = F.coalesce(F.element_at(F.create_map(*pairs), F.col(pid)), zero) \
            if pairs else zero
        out = df2.withColumn(new_col, _post(within + off)).drop(pid, mid)
        return self._wrap(out)

    # -------------------------------------------------------- aggregations
    def aggregate(self, grouping_cols, agg_cols, agg_funcs, collapse: bool = True,
                  precision: int | None = None, ignore_if_missing: bool = False) -> "OmigoDF":
        """Grouped aggregation (reference dataframe.py:977-1126).

        agg_cols[i] is aggregated with agg_funcs[i]; output columns are named
        ``<col>:<funcname>`` (dataframe.py:1024). collapse=True → one row per
        group (groupBy); collapse=False → analytic semantics, every input row
        keeps its group's aggregates (reference dataframe.py:1080-1123) —
        computed as a partial-aggregated groupBy joined back on the group
        key, not a window (see the inline comment: hot-key skew).
        Registry names compile to native JVM aggregates (map-side combine);
        Python callables fall back to collect_list+UDF.

        Analytic mode evaluates the input lineage TWICE (probe side and
        aggregate side of the join-back). With NON-DETERMINISTIC upstream
        lineage — sample()/rand()/a nondeterministic UDF — the two
        evaluations can disagree and the inner join silently drops or
        misassigns rows; localCheckpoint/persist such inputs before
        calling, or use collapse=True. Deterministic lineage (any chain
        of scans/filters/joins/aggregations) is unaffected — the common
        case, which is why the barrier is not paid unconditionally.
        """
        gcols = self._missing_ok(grouping_cols, ignore_if_missing, "aggregate")
        if gcols is None:
            return self
        # resolve per item, preserving duplicates: the reference pairs
        # agg_cols[i] with agg_funcs[i], and repeating a column with
        # different funcs is the normal spelling (e.g. sum+mean of one col)
        acols: list[str] = []
        for item in as_list(agg_cols):
            acols.extend(self._resolve(item))
        funcs = list(agg_funcs) if isinstance(agg_funcs, (list, tuple)) else [agg_funcs]
        if len(funcs) == 1 and len(acols) > 1:
            funcs = funcs * len(acols)
        if len(acols) != len(funcs):
            raise ValueError("aggregate: agg_cols and agg_funcs length mismatch")

        def _out_name(c, f):
            return f"{c}{COL_SEP}{func_name(f)}"

        def _round(e):
            return F.round(e, precision) if precision is not None else e

        if collapse:
            exprs = [_round(agg_expr(f, F.col(colutils.quote(c)))).alias(_out_name(c, f))
                     for c, f in zip(acols, funcs)]
            return self._wrap(self._df.groupBy(*[F.col(colutils.quote(g)) for g in gcols]).agg(*exprs))
        # analytic (collapse=False): per-row group aggregates. NOT
        # Window.partitionBy(group): a window partition cannot be split, so
        # a hot key lands its whole group in ONE task — the shuffle-skew
        # class AQE cannot fix (r12 skew probe: 22-37 s stragglers on this
        # shape at 16M/50%-hot). No ordering is needed here, so the exact
        # fix is partial-aggregated groupBy (map-side combine shrinks the
        # hot key before the shuffle) + one null-safe join back on the
        # group key: AQE can broadcast the <= #groups aggregate side or
        # split a skewed probe partition — neither exists for WindowExec.
        # Bonus parity: quantiles and Python callables (invalid as window
        # expressions) now work in analytic form like the reference's.
        pairs: dict[str, tuple] = {}
        for c, f in zip(acols, funcs):
            pairs[_out_name(c, f)] = (c, f)  # same-name last-wins, like withColumn
        agg_exprs = [_round(agg_expr(f, F.col(colutils.quote(c)))).alias(n)
                     for n, (c, f) in pairs.items()]
        left = self._df.alias("__agl__")
        if gcols:
            agg = (self._df.groupBy(*[F.col(colutils.quote(g)) for g in gcols])
                   .agg(*agg_exprs).alias("__agr__"))
            cond = [F.col("__agl__." + colutils.quote(g)).eqNullSafe(
                F.col("__agr__." + colutils.quote(g))) for g in gcols]
            joined = left.join(agg, on=cond, how="inner")
        else:  # degenerate whole-frame aggregate: 1-row broadcast
            agg = self._df.agg(*agg_exprs).alias("__agr__")
            joined = left.crossJoin(F.broadcast(agg))
        sel = [F.col(("__agr__." if c in pairs else "__agl__.")
                     + colutils.quote(c)).alias(c) for c in self._df.columns]
        sel += [F.col("__agr__." + colutils.quote(n)).alias(n)
                for n in pairs if n not in self._df.columns]
        return self._wrap(joined.select(*sel))

    def group_count(self, cols, prefix: str = "group", collapse: bool = True,
                    precision: int = 6) -> "OmigoDF":
        """Count + ratio-of-total per group, sorted desc (reference
        dataframe.py:414-438). The ratio window runs over the *aggregated*
        groups (small), not the input rows. collapse=False shares
        aggregate()'s analytic join-back shape — and its caveat: the
        input lineage evaluates twice, so persist nondeterministic
        inputs first (see aggregate's docstring)."""
        gcols = self._resolve(cols)
        cnt = f"{prefix}{COL_SEP}count"
        ratio = f"{prefix}{COL_SEP}ratio"
        tot_col = "__omigo_total__"
        if collapse:
            g = self._df.groupBy(*[F.col(colutils.quote(c)) for c in gcols]).agg(F.count(F.lit(1)).alias(cnt))
            # scalar total via 1-row broadcast cross join — an unpartitioned
            # Window.partitionBy() would shuffle every group row to one task.
            # The group-by Exchange is reused for the total (ReusedExchange).
            tot = g.agg(F.sum(F.col(cnt)).alias(tot_col))
            g = (g.crossJoin(F.broadcast(tot))
                 .withColumn(ratio, F.round(F.col(cnt) / F.col(tot_col), precision))
                 .drop(tot_col))
            return self._wrap(g.orderBy(F.col(cnt).desc(), *[F.col(colutils.quote(c)) for c in gcols]))
        # analytic form: same de-skew as aggregate(collapse=False) — a
        # groupBy census + null-safe join-back, not a window over raw rows
        # (a hot key's window partition is ONE unsplittable task; the
        # groupBy census is partial-aggregated and the join-back is
        # AQE-splittable/broadcastable).
        g = (self._df.groupBy(*[F.col(colutils.quote(c)) for c in gcols])
             .agg(F.count(F.lit(1)).alias(cnt)))
        tot = g.agg(F.sum(F.col(cnt)).cast("double").alias(tot_col))
        g2 = (g.crossJoin(F.broadcast(tot))
              .withColumn(ratio, F.round(F.col(cnt) / F.col(tot_col), precision))
              .drop(tot_col).alias("__gcr__"))
        left = self._df.alias("__gcl__")
        cond = [F.col("__gcl__." + colutils.quote(c)).eqNullSafe(
            F.col("__gcr__." + colutils.quote(c))) for c in gcols]
        new = {cnt, ratio}
        sel = [F.col(("__gcr__." if c in new else "__gcl__.")
                     + colutils.quote(c)).alias(c) for c in self._df.columns]
        sel += [F.col("__gcr__." + colutils.quote(n)).alias(n)
                for n in (cnt, ratio) if n not in self._df.columns]
        return self._wrap(left.join(g2, on=cond, how="inner").select(*sel))

    def distinct(self) -> "OmigoDF":
        """(reference dataframe.py:479-500)"""
        return self._wrap(self._df.dropDuplicates())

    def distinct_cols(self, cols) -> "OmigoDF":
        """(reference dataframe.py:502-506)"""
        return self.select(cols).distinct()

    def arg_min(self, grouping_cols, argcols, valcols, topk: int = 1, sep: str = ",") -> "OmigoDF":
        """(reference dataframe.py:875-935)"""
        return self._arg_minmax(grouping_cols, argcols, valcols, topk, sep, use_min=True)

    def arg_max(self, grouping_cols, argcols, valcols, topk: int = 1, sep: str = ",") -> "OmigoDF":
        """(reference dataframe.py:937-974)"""
        return self._arg_minmax(grouping_cols, argcols, valcols, topk, sep, use_min=False)

    def _arg_minmax(self, grouping_cols, argcols, valcols, topk, sep, use_min) -> "OmigoDF":
        """Per group: value(s) of argcols at the extremum of each valcol,
        top-k joined by `sep`.

        Implemented as per-(val,arg) row_number windows + a bounded final
        aggregate — NOT sort_array(collect_list(...)): collect_list's
        partial aggregation concatenates, so every group becomes ONE
        unsplittable array row carrying the whole group (measured 32 MB
        across 9 shuffle rows at sf0.1; a hot group at 100 TB is an
        executor OOM, not a slow task). The window pass shuffles the same
        volume as individual spill-safe rows, all orderings share one
        hash exchange on the grouping key, and the final aggregate only
        ever collects rows that won a top-k rank for some combo — at
        most k * n_combos per group."""
        gcols = self._resolve(grouping_cols)
        acols = self._resolve(argcols)
        vcols = self._resolve(valcols)
        suffix = "arg_min" if use_min else "arg_max"
        if not acols:  # degenerate: plain per-group extremum, one agg
            ex = F.min if use_min else F.max
            return self._wrap(self._df.groupBy(*gcols).agg(
                *[ex(F.col(colutils.quote(v)).try_cast("double")).alias(
                    f"{v}{COL_SEP}{'min' if use_min else 'max'}")
                  for v in vcols]))
        base_cols = [F.col(colutils.quote(g)) for g in gcols]
        rn_names, combos = [], []
        # project once, then attach one row_number per (v, a) combo; ties
        # break on the arg string, matching sort_array's struct order
        base = self._df.select(*base_cols,
                               *[F.col(colutils.quote(v)).try_cast("double").alias(f"__v_{vi}__")
                                 for vi, v in enumerate(vcols)],
                               *[F.coalesce(F.col(colutils.quote(a)).cast("string"),
                                            F.lit("")).alias(f"__a_{ai}__")
                                 for ai, a in enumerate(acols)])
        sel = ["*"]
        # Nulls (try_cast failures) order LAST in every rank: the rn==1 row
        # is then a real extremum whenever one exists, so the `{v}:min/max`
        # companion no longer regresses to NULL on groups containing an
        # unparseable value, and the arg picks prefer parseable rows — the
        # same ordering DuckDB's default NULLS LAST gives the oracle.
        for vi, v in enumerate(vcols):
            for ai, a in enumerate(acols):
                order = ([F.col(f"__v_{vi}__").asc_nulls_last(),
                          F.col(f"__a_{ai}__").asc_nulls_last()]
                         if use_min else
                         [F.col(f"__v_{vi}__").desc_nulls_last(),
                          F.col(f"__a_{ai}__").desc_nulls_last()])
                w = Window.partitionBy(*gcols).orderBy(*order)
                rn = f"__rn_{vi}_{ai}__"
                rn_names.append(rn)
                combos.append((vi, v, ai, a))
                sel.append(F.row_number().over(w).alias(rn))
        ranked = base.select(*sel).filter(
            F.least(*[F.col(r) for r in rn_names]) <= topk
            if len(rn_names) > 1 else F.col(rn_names[0]) <= topk)
        # output order matches the original implementation: per valcol, its
        # arg-combo columns then that valcol's extremum (positional
        # consumers of multi-valcol calls rely on the interleaving)
        aggs = []
        combo_agg = {}
        for (vi, v, ai, a), rn in zip(combos, rn_names):
            hit = F.when(F.col(rn) <= topk,
                         F.struct(F.col(rn).alias("r"),
                                  F.col(f"__a_{ai}__").alias("a")))
            picked = F.transform(F.sort_array(F.collect_list(hit)),
                                 lambda s: s["a"])
            combo_agg.setdefault(vi, []).append(
                F.concat_ws(sep, picked)
                .alias(f"{a}{COL_SEP}{v}{COL_SEP}{suffix}"))
        for vi, v in enumerate(vcols):
            aggs.extend(combo_agg[vi])
            rn0 = f"__rn_{vi}_0__"
            ext = F.max(F.when(F.col(rn0) == 1, F.col(f"__v_{vi}__")))
            aggs.append(ext.alias(f"{v}{COL_SEP}{'min' if use_min else 'max'}"))
        return self._wrap(ranked.groupBy(*gcols).agg(*aggs))

    def group_by_key(self, grouping_cols, agg_cols, agg_func: Callable,
                     suffix: str = "", collapse: bool = True,
                     warn_group_rows: int | None = None) -> "OmigoDF":
        """Generalized UDAF (reference dataframe.py:732-872): ``agg_func``
        receives the group's rows as list[dict] (agg_cols only, string
        values) and returns a dict of output values. → applyInPandas
        grouped-map; output schema discovered by probing agg_func([]) the way
        the reference does (dataframe.py:805-809).

        applyInPandas materializes EACH GROUP as one pandas frame on one
        executor — inherent to the list-of-dicts contract, so a hot key at
        scale is an executor OOM with no warning. ``warn_group_rows``
        (opt-in since r14) runs one partial-aggregated key census —
        NOTE: an EAGER extra Spark job over the full input at call time
        — and warns with the hottest group's size and the remedy
        (registry-name ``aggregate()`` funcs stream through JVM combiners
        and never materialize a group) when any group exceeds it. The
        default is None (no census, plan construction stays lazy): the
        default-on census made every group_by_key call pay a second full
        input scan even when the result was never evaluated (r13
        advice). Pass a threshold sized to your executor memory when the
        key distribution is unknown."""
        gcols = self._resolve(grouping_cols)
        acols = self._resolve(agg_cols)
        if warn_group_rows is not None:
            # the hottest group's size is observed on the eager checkpoint
            # of the per-group counts, which keeps only the groups over the
            # threshold: no result rows come back through a socket
            n = F.col("__n__")
            _, m = checkpoint_with_metrics(
                self._df.groupBy(*[colutils.qcol(g) for g in gcols])
                .agg(F.count(F.lit(1)).alias("__n__")),
                {"m": F.max(n)}, keep=n > warn_group_rows)
            top = m["m"] or 0
            if top > warn_group_rows:
                import warnings
                warnings.warn(
                    f"group_by_key: hottest group holds {int(top):,} rows "
                    f"(> {warn_group_rows:,}); applyInPandas materializes "
                    "the whole group as one pandas frame on one executor "
                    "— prefer aggregate() with registry agg funcs (JVM "
                    "partial aggregation, no per-group materialization), "
                    "or pass warn_group_rows=None to opt out",
                    UserWarning, stacklevel=2)
        probe = agg_func([])
        if not isinstance(probe, dict):
            raise ValueError("group_by_key: agg_func([]) must return a dict (defines output cols)")
        out_names = [f"{k}{COL_SEP}{suffix}" if suffix else f"{k}{COL_SEP}{agg_func.__name__}"
                     for k in sorted(probe.keys())]
        out_keys = sorted(probe.keys())

        # pyspark's GroupedData.applyInPandas resolves every INPUT column
        # via the PARSING bracket accessor (df[col]) internally, so a dot
        # or backtick in any involved name is a syntax error no matter how
        # we quote — the input side runs under sanitized placeholder names
        # and the OUTPUT schema carries the original names (StructField
        # names are literal). r13 hostile-name sweep.

        def _as_str_rows(pdf, sa_cols):
            # list-of-dicts conversion with NULL -> '' (the module's
            # missing marker, never the literal 'None'/'nan' a bare
            # astype(str) would produce — r10 review). Column-wise
            # str()+zip instead of astype(object)/astype(str)/
            # to_dict('records'): same strings (str() per cell either
            # way, verified identical), ~40% less Python time on the
            # hot applyInPandas path (r14).
            if not acols:
                return [{} for _ in range(len(pdf))]
            cols_data = []
            for c in sa_cols:
                col = pdf[c]
                mask = col.notna().to_numpy()
                cols_data.append([str(v) if m else ""
                                  for v, m in zip(col.tolist(), mask)])
            return [dict(zip(acols, t)) for t in zip(*cols_data)]

        if collapse:
            need = list(dict.fromkeys(gcols + acols))
            smap = {c: f"__gbk_{i}__" for i, c in enumerate(need)}
            sg, sa = [smap[g] for g in gcols], [smap[a] for a in acols]
            schema = T.StructType(
                [self._df.schema[g] for g in gcols]
                + [T.StructField(n, T.StringType()) for n in out_names])

            def _apply(pdf):
                import pandas as pd

                res = agg_func(_as_str_rows(pdf, sa))
                data = {g: [pdf[smap[g]].iloc[0]] for g in gcols}
                for k, n in zip(out_keys, out_names):
                    v = res.get(k)
                    data[n] = ["" if v is None else str(v)]
                return pd.DataFrame(data)

            base = self._df.select(
                *[F.col(colutils.quote(c)).alias(smap[c]) for c in need])
            return self._wrap(
                base.groupBy(*sg).applyInPandas(_apply, schema=schema))

        allc = list(self._df.columns)
        smap = {c: f"__gbk_{i}__" for i, c in enumerate(allc)}
        sg, sa = [smap[g] for g in gcols], [smap[a] for a in acols]
        inv = {v: k for k, v in smap.items()}
        schema = T.StructType(
            list(self._df.schema.fields)
            + [T.StructField(n, T.StringType()) for n in out_names])

        def _apply_keep(pdf):
            res = agg_func(_as_str_rows(pdf, sa))
            out = pdf.copy()
            out.columns = [inv[c] for c in out.columns]
            for k, n in zip(out_keys, out_names):
                v = res.get(k)
                out[n] = "" if v is None else str(v)
            return out

        base = self._df.select(
            *[F.col(colutils.quote(c)).alias(smap[c]) for c in allc])
        return self._wrap(
            base.groupBy(*sg).applyInPandas(_apply_keep, schema=schema))

    # ---------------------------------------------------------------- joins
    def _prep_join_side(self, df: DataFrame, keys: list[str], suffix: str | None) -> DataFrame:
        if suffix:
            # one aliased select, not N withColumnRenamed (wide-schema
            # probe: the chained form is O(cols²) and stack-overflows
            # Catalyst at ~1,000 columns); quoted F.col so hostile
            # names (backticks/dots) stay literal like withColumnRenamed
            df = df.select(*[
                F.col(colutils.quote(c)).alias(
                    c if c in keys else f"{c}{COL_SEP}{suffix}")
                for c in df.columns])
        return df

    def __join(self, that: "OmigoDF", lkeys, rkeys=None, how: str = "inner",
               lsuffix: str | None = None, rsuffix: str | None = None,
               default_val: str | None = "", def_val_map: dict | None = None,
               broadcast_right: bool = False) -> "OmigoDF":
        """Equi-join core (reference __join__ dataframe.py:3327-3639).

        Spark handles the physical strategy (broadcast / sort-merge /
        shuffled-hash via AQE); `broadcast_right` forces the map-join shape
        (reference __map_join__ dataframe.py:3724-3926). Suffixes
        disambiguate non-key collisions as ``<col>:<suffix>``
        (dataframe.py:3526); outer nulls are filled from def_val_map /
        default_val like dataframe.py:3545-3561.
        """
        lk = self._resolve(lkeys)
        rk = that._resolve(rkeys) if rkeys is not None else list(lk)
        if len(lk) != len(rk):
            raise ValueError("join: lkeys/rkeys length mismatch")

        # side aliases + quoted qualified refs, not left[c]/right[c]:
        # the bracket accessor PARSES names, so a key like 'a.b' (or a
        # backtick anywhere) failed to resolve (r12 hostile-name fix —
        # the reference's TSV model allows any header text)
        left = self._prep_join_side(self._df, lk, lsuffix).alias("__jl__")
        right = that._prep_join_side(that._df, rk, rsuffix).alias("__jr__")

        def _l(c):
            return F.col("__jl__." + colutils.quote(c))

        def _r(c):
            return F.col("__jr__." + colutils.quote(c))

        lnon = [c for c in left.columns if c not in lk]
        rnon = [c for c in right.columns if c not in rk]
        dup = set(lnon) & set(rnon)
        if dup:
            raise ValueError(
                f"join: duplicate non-key columns {sorted(dup)}; pass lsuffix/rsuffix")

        # rename right keys to left names when they coincide post-join
        cond = [_l(a).eqNullSafe(_r(b)) for a, b in zip(lk, rk)]
        r = F.broadcast(right) if broadcast_right else right
        joined = left.join(r, on=cond, how=how)

        # output columns: left keys (coalesced with right keys for right/full
        # joins so unmatched right rows keep their key), then non-keys
        out_cols = []
        for a, b in zip(lk, rk):
            if how in ("right", "right_outer", "full", "outer", "full_outer"):
                out_cols.append(F.coalesce(_l(a), _r(b)).alias(a))
            else:
                out_cols.append(_l(a).alias(a))
        out_cols += [_l(c).alias(c) for c in lnon]
        if rkeys is not None and any(a != b for a, b in zip(lk, rk)):
            out_cols += [_r(b).alias(b) for a, b in zip(lk, rk) if a != b]
        out_cols += [_r(c).alias(c) for c in rnon]
        joined = joined.select(*out_cols)

        # outer fill (reference default_val='' / per-col def_val_map)
        fill = dict(def_val_map or {})
        if how != "inner" and (fill or default_val is not None):
            exprs = []
            for c in joined.columns:
                v = fill.get(c, default_val)
                if v is None:
                    exprs.append(F.col(colutils.quote(c)))
                else:
                    dt = joined.schema[c].dataType
                    lit = F.lit(v)
                    if not isinstance(dt, T.StringType):
                        lit = lit.try_cast(dt)
                    exprs.append(
                        F.coalesce(F.col(colutils.quote(c)), lit).alias(c))
            joined = joined.select(*exprs)
        return self._wrap(joined)

    def inner_join(self, that, lkeys, rkeys=None, lsuffix=None, rsuffix=None,
                   default_val="", def_val_map=None) -> "OmigoDF":
        """(reference dataframe.py:3327-3337)"""
        return self.__join(that, lkeys, rkeys, "inner", lsuffix, rsuffix, default_val, def_val_map)

    def left_join(self, that, lkeys, rkeys=None, lsuffix=None, rsuffix=None,
                  default_val="", def_val_map=None) -> "OmigoDF":
        return self.__join(that, lkeys, rkeys, "left", lsuffix, rsuffix, default_val, def_val_map)

    def right_join(self, that, lkeys, rkeys=None, lsuffix=None, rsuffix=None,
                   default_val="", def_val_map=None) -> "OmigoDF":
        return self.__join(that, lkeys, rkeys, "right", lsuffix, rsuffix, default_val, def_val_map)

    def outer_join(self, that, lkeys, rkeys=None, lsuffix=None, rsuffix=None,
                   default_val="", def_val_map=None) -> "OmigoDF":
        return self.__join(that, lkeys, rkeys, "full", lsuffix, rsuffix, default_val, def_val_map)

    join = inner_join

    def salted_join(self, that, lkeys, rkeys=None, how: str = "inner",
                    salt: int = 16, lsuffix: str | None = None,
                    rsuffix: str | None = None) -> "OmigoDF":
        """Skew-resistant equi-join (Spark-only scale tool, no reference
        counterpart): the left side gets a random salt in [0, salt), the
        right side is replicated salt times, and the join runs on
        (key, salt) — a single hot key spreads over ``salt`` tasks
        instead of one straggler. Use when one side has extreme key skew
        and the other is too large to broadcast; AQE's skew splitting
        covers sort-merge joins, this covers the rest. Value-identical to
        the plain join for inner/left (each left row still meets exactly
        its matching right rows)."""
        if how not in ("inner", "left", "left_outer"):
            raise ValueError("salted_join supports inner/left joins")
        rkeys = rkeys if rkeys is not None else lkeys
        lk = self._resolve(lkeys)
        that_o = that if isinstance(that, OmigoDF) else OmigoDF(that)
        rk = that_o._resolve(rkeys)
        sc_ = "__omigo_salt__"
        left = self._df.withColumn(
            sc_, (F.rand(seed=0) * salt).cast("int"))
        right = (that_o._df
                 .withColumn(sc_, F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))))
        lw = OmigoDF(left)
        out = lw.__join(OmigoDF(right), lk + [sc_], rk + [sc_], how,
                        lsuffix=lsuffix, rsuffix=rsuffix)
        return out.drop_cols(sc_)

    def natural_join(self, that) -> "OmigoDF":
        """Inner join on all common column names, sorted (reference
        dataframe.py:3642-3722)."""
        common = sorted(set(self._df.columns) & set(that.columns))
        if not common:
            raise ValueError("natural_join: no common columns")
        return self.__join(that, common, common, "inner")

    def inner_map_join(self, that, lkeys, rkeys=None, lsuffix=None, rsuffix=None) -> "OmigoDF":
        """Broadcast-hash join, right side small (reference __map_join__
        dataframe.py:3724-3926)."""
        return self.__join(that, lkeys, rkeys, "inner", lsuffix, rsuffix, broadcast_right=True)

    def left_map_join(self, that, lkeys, rkeys=None, lsuffix=None, rsuffix=None,
                      default_val="", def_val_map=None) -> "OmigoDF":
        return self.__join(that, lkeys, rkeys, "left", lsuffix, rsuffix,
                           default_val, def_val_map, broadcast_right=True)

    def difference(self, that, cols=None) -> "OmigoDF":
        """Rows of self whose selected-col tuple doesn't appear in that
        (reference dataframe.py:2367-2402 hashes with mmh3 and warns about
        collisions; a left-anti join is exact and shuffle-optimal)."""
        use = self._resolve(cols) if cols is not None else list(self._df.columns)
        # alias-qualified quoted refs on BOTH sides: an unbound F.col is
        # ambiguous when both frames carry the column (always true here),
        # and a bound bracket accessor chokes on hostile names
        l = self._df.alias("__dl__")
        r = that.df.alias("__dr__")
        cond = [F.col("__dl__." + colutils.quote(c)).eqNullSafe(
            F.col("__dr__." + colutils.quote(c))) for c in use]
        return self._wrap(l.join(r, on=cond, how="left_anti"))

    # ------------------------------------------------------------- set ops
    def union(self, others) -> "OmigoDF":
        """Strict union: headers must match exactly (reference dataframe.py:2322-2363)."""
        if isinstance(others, OmigoDF):
            others = [others]
        out = self._df
        for o in others:
            odf = o.df if isinstance(o, OmigoDF) else o
            if set(odf.columns) != set(out.columns):
                raise ValueError(
                    f"union: header mismatch {sorted(set(odf.columns) ^ set(out.columns))}")
            out = out.unionByName(odf)
        return self._wrap(out)

    def merge(self, others, def_val_map: dict | None = None) -> "OmigoDF":
        return self.merge_union(others, def_val_map)

    def merge_union(self, others, def_val_map: dict | None = None) -> "OmigoDF":
        """Schema-evolving union (reference dfutils.py:9-185): union of
        columns; values absent on one side take def_val_map[col] or ''."""
        if isinstance(others, OmigoDF):
            others = [others]
        out = self._df
        for o in others:
            odf = o.df if isinstance(o, OmigoDF) else o
            out = out.unionByName(odf, allowMissingColumns=True)
        fill = def_val_map or {}
        exprs = []
        for c in out.columns:
            v = fill.get(c, "")
            dt = out.schema[c].dataType
            lit = F.lit(v)
            if not isinstance(dt, T.StringType):
                lit = lit.try_cast(dt)
            exprs.append(F.coalesce(F.col(colutils.quote(c)), lit).alias(c))
        return self._wrap(out.select(*exprs))

    def merge_intersect(self, others) -> "OmigoDF":
        """Union over the intersection of columns (reference dfutils.py:139-185)."""
        if isinstance(others, OmigoDF):
            others = [others]
        dfs = [self._df] + [(o.df if isinstance(o, OmigoDF) else o) for o in others]
        common = [c for c in dfs[0].columns if all(c in d.columns for d in dfs)]
        if not common:
            raise ValueError("merge_intersect: no common columns")
        out = dfs[0].select(*common)
        for d in dfs[1:]:
            out = out.unionByName(d.select(*common))
        return self._wrap(out)

    def concat_as_cols(self, that, suffix: str | None = None) -> "OmigoDF":
        """Positional column-wise zip of two equal-height tables (reference
        dataframe.py:2554-2586) — join on generated row numbers."""
        seq = "__omigo_zip_seq__"
        left = self.add_seq_num(seq)
        right = that.add_seq_num(seq) if isinstance(that, OmigoDF) else OmigoDF(that).add_seq_num(seq)
        rdf = right._df
        if suffix:
            for c in rdf.columns:
                if c != seq and c in left._df.columns:
                    rdf = rdf.withColumnRenamed(c, f"{c}{COL_SEP}{suffix}")
        out = left._df.join(rdf, on=seq, how="full").drop(seq)
        return self._wrap(out)

    # ------------------------------------------------------------ sampling
    def sample(self, sampling_ratio: float, seed: int = 0) -> "OmigoDF":
        """Bernoulli sample (reference dataframe.py:2831-2858). Seeded but a
        different RNG than the reference — set/aggregate-level comparisons
        only (SURVEY §7.3)."""
        return self._wrap(self._df.sample(fraction=float(sampling_ratio), seed=seed))

    def sample_n(self, n: int, seed: int = 0) -> "OmigoDF":
        """Exact-n random sample (reference dataframe.py:2873-2908).
        orderBy(rand).limit compiles to a distributed top-k (TakeOrdered) —
        no global sort materialization."""
        return self._wrap(self._df.orderBy(F.rand(seed)).limit(n))

    sample_rows = sample_n

    def sample_class(self, col: str, col_value: str, sampling_ratio: float,
                     seed: int = 0) -> "OmigoDF":
        """Downsample one class value, keep the rest (reference
        dataframe.py:2984-3021) → stratified sampleBy."""
        self._resolve(col)
        c = F.col(colutils.quote(col)).cast("string")
        keep = (c != col_value) | c.isNull() | (F.rand(seed) <= sampling_ratio)
        return self._wrap(self._df.filter(keep))

    def sample_group_by_key(self, grouping_cols, sampling_ratio: float,
                            seed: int = 0, portable: bool = True) -> "OmigoDF":
        """Keep or drop whole groups with probability ratio (reference
        dataframe.py:3241-3276). Deterministic per group: hash-bucket the
        key, no per-row RNG, no shuffle. Default is the portable
        md5-polynomial bucket (reproducible cross-engine, like the
        reference's seeded mmh3); ``portable=False`` uses xxhash64."""
        bucket = _bucket(_row_key(self._resolve(grouping_cols), seed), portable)
        return self._wrap(self._df.filter(bucket < int(sampling_ratio * _BUCKETS)))

    def sample_class_by_max_values(self, col: str, max_rows: int, seed: int = 0) -> "OmigoDF":
        """Cap rows per class (reference dataframe.py:3314-3325)."""
        self._resolve(col)
        return self._wrap(_top_k_per_group(self._df, [col], [F.rand(seed)], max_rows))

    def sample_class_by_min_class_count(self, col: str, seed: int = 0) -> "OmigoDF":
        """Balance all classes to the minority count (reference
        dataframe.py:3299-3312). The min count is a scalar aggregate
        (driver-safe at any scale)."""
        self._resolve(col)
        min_cnt = (self._df.groupBy(colutils.qcol(col)).agg(F.count(F.lit(1)).alias("c"))
                   .agg(F.min("c")).first()[0])
        return self.sample_class_by_max_values(col, int(min_cnt or 0), seed)

    def sample_group_by_topk(self, grouping_cols, sort_col: str, k: int,
                             reverse: bool = True, all_numeric: bool | None = None,
                             tie_break_cols=None) -> "OmigoDF":
        """Top-k rows per group by sort col (reference dataframe.py:5301-5319)
        → rank window ≤ k, the canonical Spark top-k-per-group.
        tie_break_cols (ascending) make the result deterministic under ties."""
        gcols = self._resolve(grouping_cols)
        self._resolve(sort_col)
        s = F.col(colutils.quote(sort_col))
        numeric = all_numeric if all_numeric is not None else self._has_all_numeric_values(sort_col)
        if numeric and isinstance(self._df.schema[sort_col].dataType, T.StringType):
            s = s.try_cast("double")
        order = [s.desc() if reverse else s.asc()]
        if tie_break_cols:
            order += [F.col(colutils.quote(c)).asc() for c in self._resolve(tie_break_cols)]
        return self._wrap(_top_k_per_group(self._df, gcols, order, k))

    def split_batches(self, num_batches: int, cols=None, seed: int = 0,
                      materialize: bool = False) -> list["OmigoDF"]:
        """Split into N DataFrames (reference dataframe.py:3929-4053): by
        hash of cols (co-partitioned split) or uniformly when cols is None.

        Each keyed batch filters the source lazily — consuming all N
        re-scans the upstream N times. ``materialize=True``
        localCheckpoints the tagged frame so the upstream runs once
        (costs one materialization); for the write-to-storage use case
        prefer ``write_parquet(partition_by=[bucket])`` which is one
        pass total. The cols=None path checkpoints UNCONDITIONALLY:
        its buckets come from monotonically_increasing_id, which is
        re-assigned independently on every execution of the plan — N
        lazy filters would each see different ids, putting a row in
        zero or two batches (the add_seq_num hazard; r10 review). A
        keyed split is re-execution-stable as long as the upstream is
        deterministic, the same assumption every hash-keyed operator
        here makes."""
        key = (_row_key(self._resolve(cols)) if cols is not None
               else "monotonically_increasing_id()")
        bucket = _bucket(key, portable=False, salt=seed, n=num_batches)
        tmp = "__omigo_bucket__"
        tagged = self._df.withColumn(tmp, bucket)
        if materialize or cols is None:
            # lazy (r14): the first consumer materializes it once
            tagged = tagged.localCheckpoint(eager=False)
        return [OmigoDF(tagged.filter(F.col(tmp) == i).drop(tmp)) for i in range(num_batches)]

    def sample_weighted(self, weight_col: str, key_cols, seed: int = 0) -> "OmigoDF":
        """Per-row weighted keep: a row survives with probability equal
        to its ``weight_col`` value (clamped to [0,1]) — quality-weighted
        corpus downsampling. The coin is the portable hash of
        ``key_cols`` (+seed) scaled to [0,1), NOT an RNG: the decision is
        reproducible across runs/engines (DuckDB oracle checks it
        exactly) and stable per key when the corpus regrows. Map-side,
        no shuffle."""
        gcols = self._resolve(key_cols)
        self._resolve(weight_col)
        u = _bucket(_row_key(gcols, seed)) / F.lit(float(_BUCKETS))
        w = F.least(F.greatest(F.col(colutils.quote(weight_col)).try_cast("double"),
                               F.lit(0.0)), F.lit(1.0))
        return self._wrap(self._df.filter(u < w))

    def profile(self, cols=None, exact: bool = False) -> "OmigoDF":
        """Column profile: one row per column with row count, null count,
        distinct count, and min/max of the string form — the first-look
        data-quality pass over a new corpus. One aggregation job computes
        every column's stats together (partial+final; no per-column
        scans); the unpivot to rows happens on the 1-row aggregate.

        ``n_distinct`` defaults to ``approx_count_distinct`` (HLL++,
        one streaming pass, constant memory per column, single 1-row
        aggregate for every column together). ``exact=True`` opts into
        exact distincts — NOT via N ``countDistinct`` in one agg (Spark
        plans multiple distinct aggregates through an Expand node that
        duplicates every scanned row ~once per distinct aggregate plus a
        double shuffle) but as an explicit map-side ``stack`` to
        (column, value) pairs and two partial-aggregated hash
        aggregations: the first shuffle carries one row per DISTINCT
        (column, value) after map-side combine, the second is
        column-count-sized. Same N× map fan-out the Expand would do,
        none of its multi-group machinery — measured ~4x faster at
        sf0.1 and strictly partial-aggregated at 100 TB. Both paths are
        TOTAL on the column list: an empty table still emits one row per
        column (n_rows=0, min/max NULL) — the exact path left-joins its
        pair aggregate against the static column list (a k-row literal
        frame, broadcast; zero cost on the data side) so the row set
        never depends on the data (r11 empty-input sweep).

        Wide frames (>200 profiled columns) route the APPROX path
        through the same stack-to-pairs shape with
        ``approx_count_distinct`` per column group (r12 wide-schema
        probe): the 1-row wide aggregate plans 5 aggregate buffers PER
        COLUMN in one operator, and at 1,000 columns the generated code
        (106 MiB task binary) OOMs the JVM. The pairs shape is one flat
        stack expression plus a partial-aggregated per-column HLL —
        identical results (HLL merge is order-independent), bounded
        codegen."""
        use = self._resolve(cols) if cols is not None else list(self._df.columns)
        # dedupe + empty short-circuit (r12 advice): duplicate names in
        # `cols` duplicated output rows on the exact path (the literal
        # cols_df join fans out) and made the approx path's per-column
        # aliases ambiguous; an empty list built an invalid stack(0,...)
        # / agg() with no exprs. Order-preserving dedupe keeps the
        # caller's column order; empty -> the typed empty profile.
        use = list(dict.fromkeys(use))
        if not use:
            return self._wrap(self._df.sparkSession.createDataFrame(
                [], "column string, n_rows long, n_null long, "
                    "n_distinct long, min_str string, max_str string"))

        def _slit(name: str) -> str:
            # column name as a safe SQL string LITERAL (r10 review: a
            # name containing a quote broke the stack/named_struct text)
            return "'" + name.replace("\\", "\\\\").replace("'", "\\'") + "'"

        if exact or len(use) > 200:
            stack_args = ", ".join(
                f"{_slit(c)}, CAST({colutils.quote(c)} AS STRING)" for c in use)
            pairs = self._df.selectExpr(
                f"stack({len(use)}, {stack_args}) AS (column, value)")
            if exact:
                cnt = (pairs.groupBy("column", "value")
                       .agg(F.count(F.lit(1)).alias("__cnt__")))
                agg = (cnt.groupBy("column")
                       .agg(F.sum("__cnt__").alias("n_rows"),
                            F.sum(F.when(F.col("value").isNull(),
                                         F.col("__cnt__"))
                                  .otherwise(0)).alias("n_null"),
                            F.count(F.when(F.col("value").isNotNull(), 1))
                            .alias("n_distinct"),
                            F.min("value").alias("min_str"),
                            F.max("value").alias("max_str")))
            else:
                # wide approx: per-column HLL over the pairs — one flat
                # stack + ONE partial-aggregated groupBy, instead of
                # 5×cols aggregate buffers in a single operator whose
                # generated code OOMs at ~1,000 columns
                agg = (pairs.groupBy("column")
                       .agg(F.count(F.lit(1)).alias("n_rows"),
                            F.count(F.when(F.col("value").isNull(), 1))
                            .alias("n_null"),
                            F.approx_count_distinct("value", rsd=0.02)
                            .alias("n_distinct"),
                            F.min("value").alias("min_str"),
                            F.max("value").alias("max_str")))
            cols_df = self._df.sparkSession.createDataFrame(
                [(c,) for c in use], "column string")
            # broadcast the k-row aggregate: without the hint Spark has
            # no stats for either tiny side and sort-merge joins them —
            # two extra exchanges+sorts, measured ~+0.8 s at sf0.1 (r11
            # bench adjudication)
            out = (cols_df.join(F.broadcast(agg), "column", "left")
                   .select("column",
                           F.coalesce(F.col("n_rows"), F.lit(0))
                           .cast("long").alias("n_rows"),
                           F.coalesce(F.col("n_null"), F.lit(0))
                           .cast("long").alias("n_null"),
                           F.coalesce(F.col("n_distinct"), F.lit(0))
                           .cast("long").alias("n_distinct"),
                           "min_str", "max_str"))
            return self._wrap(out)
        aggs = []
        for c in use:
            # F.col(quote(...)), not self._df[c]: the bracket accessor
            # PARSES the name, so a stray backtick in it is a syntax error
            col = F.col(colutils.quote(c))
            s = col.cast("string")
            aggs += [F.count(F.lit(1)).alias(f"__n_{c}__"),
                     F.count(F.when(col.isNull(), 1)).alias(f"__nn_{c}__"),
                     F.approx_count_distinct(s, rsd=0.02).alias(f"__nd_{c}__"),
                     F.min(s).alias(f"__mn_{c}__"),
                     F.max(s).alias(f"__mx_{c}__")]
        row = self._df.agg(*aggs)
        parts = []
        for c in use:
            parts.append(
                f"named_struct('column', {_slit(c)}, "
                f"'n_rows', {colutils.quote(f'__n_{c}__')}, "
                f"'n_null', {colutils.quote(f'__nn_{c}__')}, "
                f"'n_distinct', {colutils.quote(f'__nd_{c}__')}, "
                f"'min_str', {colutils.quote(f'__mn_{c}__')}, "
                f"'max_str', {colutils.quote(f'__mx_{c}__')})")
        out = row.select(F.expr(
            "inline(array(" + ", ".join(parts) + "))"))
        return self._wrap(out)

    def sample_n_per_group(self, group_cols, n: int, key_cols=None,
                           seed: int = 0,
                           check_unique: bool = False) -> "OmigoDF":
        """Deterministic EXACT-n sample per group: rows rank by the
        portable hash of ``key_cols`` (+seed) within each group and the
        first ``n`` survive — reproducible across runs/engines (DuckDB
        oracle checks it exactly) and stable per key as the corpus
        regrows, unlike fraction-based sampling which can't promise a
        count. ``key_cols`` is the row identity the hash ranks on
        (default: every column). Determinism caveat: rows sharing the
        same key identity are interchangeable under the rank — with the
        default (full-row) identity the OUTPUT is still deterministic
        (identical rows are indistinguishable), but passing key_cols
        that don't uniquely identify rows makes which duplicate-key row
        survives the cutoff partition-order-dependent; use a unique key.
        Pass ``check_unique=True`` to spend one counting job verifying
        that — a ``UserWarning`` fires when ``key_cols`` doesn't uniquely
        identify rows (opt-in: the check is a full-input aggregate, so it
        isn't free at 100 TB).
        The row_number + filter shape triggers Spark's
        WindowGroupLimit pushdown, so each map task pre-filters to its
        local top-n per group before the exchange — the shuffle carries
        n rows per group per task, never the corpus."""
        gcols = self._resolve(group_cols)
        kcols = (self._resolve(key_cols) if key_cols is not None
                 else list(self._df.columns))
        tie = F.expr(_row_key(kcols))  # the key identity
        if check_unique and key_cols is not None and (
                counts := nonunique_counts(self._df, tie)):
            import warnings
            warnings.warn(
                f"sample_n_per_group: key_cols {kcols} does not uniquely "
                f"identify rows ({counts[0]} rows, {counts[1]} distinct "
                "keys) — which duplicate-key row survives the cutoff is "
                "partition-order-dependent", UserWarning, stacklevel=2)
        order = [_hash(_row_key(kcols, seed)).asc(), tie.asc()]
        return self._wrap(_top_k_per_group(self._df, gcols, order, n))

    def hash_split(self, key_cols, fractions=None, seed: int = 0,
                   split_col: str = "split") -> "OmigoDF":
        """Deterministic train/val/test assignment: label every row by the
        portable hash of its key — no shuffle, no state, reproducible
        across runs, engines, and data shards (the property a training
        pipeline needs so a document never migrates between splits when
        the corpus regrows). ``fractions`` is an ordered {name: fraction}
        map (default 80/10/10 train/val/test); assignment is by
        cumulative threshold over hash(key, seed) mod 1e6. Keys hash with
        the portable md5-polynomial, so the split is reproducible in any
        engine with md5 (the DuckDB oracle checks it exactly)."""
        gcols = self._resolve(key_cols)
        fracs = list((fractions or
                      {"train": 0.8, "val": 0.1, "test": 0.1}).items())
        total = sum(f for _, f in fracs)
        if not 0.999 <= total <= 1.001:
            raise ValueError(f"hash_split: fractions sum to {total}, want 1")
        bucket = _bucket(_row_key(gcols, seed))
        expr = F.lit(fracs[-1][0])
        acc = 0.0
        branches = []
        for name, frac in fracs[:-1]:
            acc += frac
            branches.append((int(round(acc * _BUCKETS)), name))
        for threshold, name in reversed(branches):
            expr = F.when(bucket < threshold, F.lit(name)).otherwise(expr)
        return self._wrap(self._df.withColumn(split_col, expr))

    def sample_group_by_col_value(self, grouping_cols, col: str, col_value: str,
                                  sampling_ratio: float, seed: int = 0) -> "OmigoDF":
        """Within every group, downsample rows carrying ``col_value``; other
        rows pass through (reference dataframe.py:3023-3079). The row-local
        seeded filter is group-independent, so this delegates to
        sample_class after validating grouping_cols exist (the reference
        keeps both entry points; the sampling math is identical)."""
        self._resolve(grouping_cols)
        return self.sample_class(col, col_value, sampling_ratio, seed)

    def sample_group_by_max_uniq_values_exact(self, grouping_cols, col: str,
                                              max_uniq_values: int, seed: int = 0,
                                              portable: bool = True) -> "OmigoDF":
        """Cap the DISTINCT values of ``col`` per group, exactly (reference
        dataframe.py:3081-3189): rank the group's distinct values in a
        seeded-hash order, keep rows whose value ranks ≤ cap. Shuffles only
        the distinct (group, value) projection; rows join back semi-style.
        Default ordering is the portable md5-polynomial of (value, seed) —
        reproducible cross-engine; ``portable=False`` uses xxhash64."""
        gcols = self._resolve(grouping_cols)
        self._resolve(col)
        pairs = self._df.select(*map(colutils.qcol, gcols), colutils.qcol(col)).distinct()
        # the value key has no coalesce, as in the oracle (sample_uniq_cap)
        v = f"CAST({colutils.quote(col)} AS STRING)"
        order = (_hash(f"concat_ws('\\t', {v}, '{seed}')") if portable
                 else _hash(v, portable=False, salt=seed))
        keep = _top_k_per_group(pairs, gcols, [order, colutils.qcol(col)], max_uniq_values)
        return self._wrap(self._df.join(keep, on=gcols + [col], how="left_semi"))

    def sample_group_by_max_uniq_values_approx(self, grouping_cols, col: str,
                                               max_uniq_values: int,
                                               seed: int = 0) -> "OmigoDF":
        """Approximate variant (reference dataframe.py:3081-3189): per group
        compute the distinct count, then keep values whose deterministic
        hash-bucket falls under cap/distinct — one aggregate plus a
        broadcastable join of per-group ratios, no per-value ranking."""
        gcols = self._resolve(grouping_cols)
        self._resolve(col)
        ratios = (self._df.groupBy(*map(colutils.qcol, gcols))
                  .agg(F.countDistinct(colutils.qcol(col)).alias("__omigo_nu__")))
        joined = self._df.join(ratios, on=gcols, how="left")
        bucket = _bucket(f"CAST({colutils.quote(col)} AS STRING)", portable=False, salt=seed)
        keep = bucket < (F.lit(max_uniq_values * _BUCKETS) / F.col("__omigo_nu__"))
        return self._wrap(joined.filter(F.col("__omigo_nu__").isNull() | keep)
                          .drop("__omigo_nu__"))

    sample_group_by_max_uniq_values = sample_group_by_max_uniq_values_exact

    def sample_column_by_max_uniq_values(self, col: str, max_uniq_values: int,
                                         seed: int = 0) -> "OmigoDF":
        """Global distinct-value cap (reference dataframe.py:3278-3297):
        sample the distinct values, semi-join rows back."""
        self._resolve(col)
        vals = self._df.select(colutils.qcol(col)).distinct()
        # distributed top-K (TakeOrderedAndProject: K per partition, merged),
        # not a global row_number window over all distinct values
        keep = vals.orderBy(_hash(f"CAST({colutils.quote(col)} AS STRING)",
                                  portable=False, salt=seed),
                            colutils.qcol(col)).limit(max_uniq_values)
        return self._wrap(self._df.join(keep, on=[col], how="left_semi"))

    # ------------------------------------------------- existence filters
    def _exists_pred(self, cols: list[str], func: Callable):
        def _call(v):
            return bool(func("" if v is None else v))
        udf = F.udf(_call, T.BooleanType())
        # colutils.quote: names may contain '.' (array-cell convention)
        # AND backticks, which need doubling
        preds = [F.coalesce(udf(F.col(colutils.quote(c)).cast("string")),
                            F.lit(False))
                 for c in cols]
        out = preds[0]
        for p in preds[1:]:
            out = out | p
        return out

    def select_rows_with_cond_exists(self, cols, func: Callable,
                                     ignore_if_missing: bool = False) -> "OmigoDF":
        """Keep rows where ANY of the selected cols satisfies the predicate
        (reference dataframe.py:225-238)."""
        resolved = self._missing_ok(cols, ignore_if_missing, "select_rows_with_cond_exists")
        if resolved is None:
            return self
        return self._wrap(self._df.filter(self._exists_pred(resolved, func)))

    def select_cols_with_cond_exists(self, cols, func: Callable,
                                     ignore_if_missing: bool = False) -> "OmigoDF":
        """Keep only the selected cols where ANY value in the column
        satisfies the predicate (reference dataframe.py:184-204). One
        aggregate pass decides the column set; data is not re-scanned per
        column."""
        resolved = self._missing_ok(cols, ignore_if_missing, "select_cols_with_cond_exists")
        if resolved is None:
            return self

        def _call(v):
            return bool(func("" if v is None else v))
        udf = F.udf(_call, T.BooleanType())
        flags = self._df.agg(*[
            F.max(F.when(F.coalesce(udf(F.col(colutils.quote(c)).cast("string")), F.lit(False)), 1)
                  .otherwise(0)).alias(c) for c in resolved]).first()
        keep = [c for c in resolved if flags[c] == 1]
        return self.select(keep) if keep else self._wrap(
            self._df.select().limit(0))

    def select_rows_with_cols_cond_exists(self, cols, func: Callable,
                                          ignore_if_missing: bool = False) -> "OmigoDF":
        """Rows where any selected col matches; all columns kept
        (reference dataframe.py:206-223 returns the full header)."""
        return self.select_rows_with_cond_exists(cols, func, ignore_if_missing)

    # --------------------------------------------------------- generic UDTF
    def explode_udtf(self, cols, exp_func: Callable, prefix: str,
                     out_keys: list[str] | None = None, default_val: str = "",
                     collapse: bool = True, sample_rows: int = 100) -> "OmigoDF":
        """Generic explode/UDTF (reference dataframe.py:4167-4290):
        ``exp_func`` receives a dict of the selected cols (string values)
        and returns list[dict]; each emitted dict becomes an output row with
        columns ``<prefix>:<key>``.

        Lazy-engine delta (documented, SURVEY §7.3): the reference derives
        output columns from the union of ALL emitted keys (it is eager); we
        need the schema up front, so callers either pass ``out_keys`` or we
        probe ``exp_func`` on a driver-side sample of ``sample_rows`` rows.
        Keys emitted later that were not discovered raise at execution time
        unless they were probed. Execution itself is mapInPandas —
        partition-parallel, no driver materialization."""
        resolved = self._resolve(cols)
        if out_keys is None:
            sample = self._df.select(*[F.col(colutils.quote(c)).cast("string") for c in resolved]) \
                .limit(sample_rows).collect()
            seen: list[str] = []
            for r in sample:
                for d in exp_func({c: ("" if r[c] is None else r[c]) for c in resolved}):
                    for k in d:
                        if k not in seen:
                            seen.append(k)
            out_keys = sorted(seen)
        out_names = [f"{prefix}{COL_SEP}{k}" for k in out_keys]
        base_cols = [c for c in self._df.columns if not collapse or c not in resolved]
        schema = T.StructType(
            [self._df.schema[c] for c in base_cols]
            + [T.StructField(n, T.StringType()) for n in out_names])
        keys = list(out_keys)
        in_cols = list(resolved)

        def _run(pdf_iter):
            import pandas as pd

            for pdf in pdf_iter:
                out_rows = []
                for row in pdf.to_dict("records"):
                    in_dict = {c: ("" if row[c] is None else str(row[c]))
                               for c in in_cols}
                    for emitted in exp_func(in_dict):
                        rec = {c: row[c] for c in base_cols}
                        for k, n in zip(keys, out_names):
                            v = emitted.get(k, default_val)
                            rec[n] = default_val if v is None else str(v)
                        out_rows.append(rec)
                yield pd.DataFrame(out_rows, columns=base_cols + out_names) \
                    if out_rows else pd.DataFrame(columns=base_cols + out_names)

        return self._wrap(self._df.mapInPandas(_run, schema=schema))

    explode = explode_udtf

    # --------------------------------------------------- windows / reshape
    def window_aggregate(self, win_col: str, agg_cols, agg_funcs, winsize: int,
                         select_cols=None, sliding: bool = False,
                         label_col: str = "window_aggregate") -> "OmigoDF":
        """Value-based tumbling/sliding windows (reference dataframe.py:638-729):
        sort the *distinct values* of win_col, tile them into windows of
        `winsize` values (step 1 when sliding), label each window
        '<start> - <end>', replicate each row into every window containing
        its value, then aggregate per window.

        Spark shape: distinct values (small) → window-index assignment →
        broadcast join back to the rows → groupBy window label. The only
        full shuffle is the final aggregation.
        """
        self._resolve(win_col)
        acols = self._resolve(agg_cols)
        funcs = list(agg_funcs)
        scols = self._resolve(select_cols) if select_cols else []

        vals = self._df.select(F.col(colutils.quote(win_col)).alias("__v__")).distinct()
        # two-phase global numbering of the distinct values — the canonical
        # win_col is time-like (distinct count ~ row count at scale), so a
        # global Window.orderBy here would be a single-task bottleneck.
        # The cardinality falls out of the rank's offsets collect — the
        # sliding path previously paid a separate count job that
        # re-evaluated the whole rank subtree (r14).
        vals, n = self._global_rank(vals, [F.col("__v__")], "__i__")
        if sliding:
            n_windows = max(n - winsize + 1, 1)
            vals = vals.withColumn(
                "__w__",
                F.explode(F.sequence(
                    F.greatest(F.lit(0), F.col("__i__") - winsize + 1),
                    F.least(F.col("__i__"), F.lit(n_windows - 1)))))
        else:
            vals = vals.withColumn("__w__", F.floor(F.col("__i__") / winsize))
        labels = (vals.groupBy("__w__")
                  .agg(F.concat_ws(" - ", F.min("__v__").cast("string"),
                                   F.max("__v__").cast("string")).alias(label_col)))
        mapping = vals.join(labels, "__w__").select(
            F.col("__v__"), F.col(label_col))

        # no forced broadcast: mapping ~ distinct win_col values, which can be
        # large at scale — AQE broadcasts it automatically when it is small
        joined = self._df.join(mapping,
                               F.col(colutils.quote(win_col)).eqNullSafe(mapping["__v__"])).drop("__v__")
        exprs = [agg_expr(f, F.col(colutils.quote(c))).alias(f"{c}{COL_SEP}{func_name(f)}")
                 for c, f in zip(acols, funcs)]
        gb = [F.col(colutils.quote(label_col))] + [F.col(colutils.quote(c)) for c in scols]
        return self._wrap(joined.groupBy(*gb).agg(*exprs))

    def flatmap(self, col: str, func: Callable, new_col: str) -> "OmigoDF":
        """Per value emit a list → one row per element (reference
        dataframe.py:4820-4845)."""
        self._resolve(col)

        @F.udf(T.ArrayType(T.StringType()))
        def _f(v):
            out = func("" if v is None else v)
            return [("" if x is None else str(x)) for x in (out or [])]

        return self._wrap(self._df.withColumn(new_col, F.explode(_f(F.col(colutils.quote(col)).cast("string")))))

    def explode_list_col(self, col: str, new_col: str, sep: str = ",") -> "OmigoDF":
        """Native path for the cell-level ','-array convention (SURVEY §1.3).
        ``sep`` is a LITERAL separator (reference str.split), not a regex —
        escaped before hitting F.split's Java-regex pattern arg, else
        sep='|' or '.' would split between every character."""
        self._resolve(col)
        return self._wrap(self._df.withColumn(
            new_col, F.explode(F.split(F.col(colutils.quote(col)).cast("string"),
                                       re.escape(sep)))))

    def split_str(self, col: str, prefix: str | None = None, sep: str = ",",
                  width: int | None = None) -> "OmigoDF":
        """Split a cell into indexed columns <prefix>:N (reference
        dataframe.py:5257-5299). Width = max parts (one cheap agg) when
        ``width`` is None — which means the SCHEMA depends on the data
        (an empty input yields no part columns at all). Pass ``width``
        to pin the column count upfront: the schema becomes
        data-independent (stable under filters/empty partitions) and
        the width-discovery job is skipped entirely (r11).
        ``sep`` is literal, as in the reference's str.split."""
        self._resolve(col)
        prefix = prefix or col
        parts = F.split(F.col(colutils.quote(col)).cast("string"), re.escape(sep))
        width = int(width) if width is not None else \
            (self._df.agg(F.max(F.size(parts))).first()[0] or 0)
        out = self._df
        for i in range(width):
            # F.get, not parts[i]: GetArrayItem THROWS on out-of-range
            # under ANSI, so any row with fewer parts than the widest
            # row (or than a pinned width) would kill the job — latent
            # until r11's ragged-width test because the derived width
            # equals every row's width on uniform data
            out = out.withColumn(f"{prefix}{COL_SEP}{i + 1}",
                                 F.coalesce(F.get(parts, i), F.lit("")))
        return self._wrap(out)

    def replicate_rows(self, col: str, new_col: str | None = None,
                       max_repl: int = 0) -> "OmigoDF":
        """Repeat each row int(col) times (reference dataframe.py:4131-4162)."""
        self._resolve(col)
        # second try_cast: ANSI mode throws on NaN/overflow double->long
        cnt = F.col(colutils.quote(col)).try_cast("double").try_cast("long")
        if max_repl > 0:
            cnt = F.least(cnt, F.lit(max_repl))
        # count <= 0 must DROP the row (reference: `for i in range(int(v))`);
        # a bare sequence(1, cnt) instead auto-steps BACKWARDS for cnt < 1
        # ([1, 0] for 0) and would silently INFLATE zero-count rows.
        # explode of a NULL array drops the row.
        seq = F.explode(F.when(cnt >= 1, F.sequence(F.lit(1), cnt))
                        .otherwise(F.lit(None).cast("array<long>")))
        tmp = new_col or "__omigo_repl_idx__"
        out = self._df.withColumn(tmp, seq)
        if new_col is None:
            out = out.drop(tmp)
        return self._wrap(out)

    def explode_json(self, col: str, prefix: str | None = None,
                     collapse_primitive_list: bool = True, drop_col: bool = True,
                     schema=None, nested_cols=None, transpose_col_groups=None,
                     merge_list_method: str = "cogroup", with_index: bool = False,
                     add_json_index: bool = False) -> "OmigoDF":
        """Flatten a JSON-string column into ``<prefix>:<path>`` columns
        (reference dataframe.py:4292-4682, a ~390-line eager recursive
        flattener). Spark-first shape: schema inference runs distributed
        (spark.read.json over the column), then the flatten is a pure
        column-expression tree over from_json — codegen, no Python.

        * scalars (at any struct depth) → string column ``prefix:path:key``
        * arrays of scalars → ','-joined (collapse_primitive_list=True,
          reference dataframe.py:4410-4420) or exploded rows
        * arrays of structs → exploded rows (lateral view)
        * parallel arrays at one level merge per ``merge_list_method``
          (reference dataframe.py:4556-4581): 'cogroup' (default, as in
          the reference) zips them positionally via ``arrays_zip`` —
          shorter lists pad with null/''; 'join' explodes sequentially
          (= the combinatorial cartesian of the lists)
        * ``nested_cols``: keys whose whole subtree stays one url-encoded
          JSON blob column ``...:<key>:json_encoded`` (reference 4380-4385)
        * ``transpose_col_groups``: ':'-joined paths whose map becomes
          (``<prefix>:__key__``, ``<prefix>:__value__``) element rows
          participating in the list merge (reference 4522-4550)
        * ``with_index``: emit the per-element list index as
          ``<prefix>:__explode_json_index__`` (reference 4297/4438)
        * ``add_json_index``: 1-based source-row seq num as
          ``<prefix>:__json_index__`` before exploding (reference 4680) —
          opt-in here: a global row number is not free in a distributed
          engine, see add_seq_num
        """
        self._resolve(col)
        prefix = prefix if prefix is not None else col
        if merge_list_method not in ("cogroup", "join"):
            raise ValueError(f"unknown merge_list_method: {merge_list_method}")
        base = self
        if add_json_index:
            base = self.add_seq_num(f"{prefix}{COL_SEP}__json_index__")
        if schema is None:
            strings = base._df.select(F.col(colutils.quote(col)).cast("string").alias("j")) \
                              .where(F.col("j").isNotNull() & (F.col("j") != ""))
            try:
                schema = self.spark.read.json(strings.rdd.map(lambda r: r[0])).schema
            except Exception as e:  # older Sparks throw on an empty RDD
                raise ValueError(
                    f"explode_json: could not infer a schema from column "
                    f"'{col}' (no non-empty JSON values?) — pass an explicit "
                    f"schema= to explode an empty or all-NULL column"
                ) from e
            schema = T.StructType([f for f in schema.fields if f.name != "_corrupt_record"])
            if not schema.fields:
                # Spark 4 infers an EMPTY struct from an all-NULL column
                # instead of throwing — same remedy either way
                raise ValueError(
                    f"explode_json: could not infer a schema from column "
                    f"'{col}' (no non-empty JSON values?) — pass an explicit "
                    f"schema= to explode an empty or all-NULL column")
        tmp = "__omigo_json__"
        out = base._df.withColumn(tmp, F.from_json(F.col(colutils.quote(col)).cast("string"), schema))
        if drop_col:
            out = out.drop(col)
        nested_cols = set(nested_cols or [])
        transpose_col_groups = set(transpose_col_groups or [])
        idx_name = f"{prefix}{COL_SEP}__explode_json_index__"

        def _name(path: list[str]) -> str:
            return COL_SEP.join([prefix] + path)

        def _emit_scalar(df: DataFrame, comp, path: list[str]) -> DataFrame:
            return df.withColumn(_name(path),
                                 F.coalesce(comp.cast("string"), F.lit("")))

        def _explode_arrays(df: DataFrame, arrays) -> DataFrame:
            # arrays: list of (colname, path, kind) — kind in scalar|struct|kv
            if not arrays:
                return df
            pos = "__omigo_pos__"
            if merge_list_method == "cogroup" and len(arrays) > 1:
                z, ze = "__omigo_zip__", "__omigo_zip__e"
                # null list must pad, not null out the whole zip (reference
                # pads shorter/missing lists with empty maps, 4556-4568)
                zipped = F.arrays_zip(*[
                    F.coalesce(F.col(a),
                               F.array().cast(df.schema[a].dataType)).alias(a)
                    for a, _, _ in arrays])
                df = (df.withColumn(z, zipped)
                        .drop(*[a for a, _, _ in arrays]))
                df = df.select("*", F.posexplode_outer(df[z]).alias(pos, ze)).drop(z)
                for a, p, kind in arrays:
                    df = _emit_elem(df, df[ze][a], p, kind)
                df = df.drop(ze)
                if with_index:
                    # posexplode_outer of an all-empty zip yields one row
                    # with NULL pos — pad the index with '' like the values
                    df = df.withColumn(
                        idx_name, F.coalesce(F.col(pos).cast("string"), F.lit("")))
                return df.drop(pos)
            multi = len(arrays) > 1
            for a, p, kind in arrays:
                e = f"{a}__e"
                df = df.select("*", F.posexplode_outer(F.col(colutils.quote(a))).alias(pos, e)).drop(a)
                df = _emit_elem(df, df[e], p, kind).drop(e)
                if with_index:
                    # join (cartesian) mode explodes each array in sequence;
                    # with >1 array a single shared column would be
                    # overwritten by each successive explode, so the index
                    # is emitted per array path
                    nm = f"{_name(p)}{COL_SEP}__explode_json_index__" if multi \
                        else idx_name
                    df = df.withColumn(
                        nm, F.coalesce(F.col(pos).cast("string"), F.lit("")))
                df = df.drop(pos)
            return df

        def _emit_elem(df: DataFrame, comp, path: list[str], kind: str) -> DataFrame:
            if kind == "scalar":
                return _emit_scalar(df, comp, path)
            if kind == "kv":
                # reference 4522-4550: bare __key__/__value__ under the top
                # prefix (the group's own path is consumed)
                return (df.withColumn(f"{prefix}{COL_SEP}__key__",
                                      F.coalesce(comp["key"].cast("string"), F.lit("")))
                          .withColumn(f"{prefix}{COL_SEP}__value__",
                                      F.coalesce(comp["value"].cast("string"), F.lit(""))))
            sub = "__omigo_e_" + "_".join(path)
            df = df.withColumn(sub, comp)
            return _flatten(df, sub, path)

        def _flatten(df: DataFrame, src: str, path: list[str]) -> DataFrame:
            dt = df.schema[src].dataType
            if isinstance(dt, T.StructType):
                arrays = []
                for fld in dt.fields:
                    p = path + [fld.name]
                    sub = f"{src}__{fld.name}"
                    fdt = fld.dataType
                    if fld.name in nested_cols and isinstance(fdt, (T.StructType, T.ArrayType)):
                        df = df.withColumn(
                            f"{_name(p)}{COL_SEP}json_encoded",
                            F.url_encode(F.to_json(df[src][fld.name])))
                        continue
                    if (COL_SEP.join(p) in transpose_col_groups
                            and isinstance(fdt, T.StructType)):
                        df = df.withColumn(sub, F.map_entries(F.from_json(
                            F.to_json(df[src][fld.name]), "map<string,string>")))
                        arrays.append((sub, p, "kv"))
                        continue
                    df = df.withColumn(sub, df[src][fld.name])
                    if isinstance(fdt, T.StructType):
                        df = _flatten(df, sub, p)
                    elif isinstance(fdt, T.ArrayType):
                        if isinstance(fdt.elementType, T.StructType):
                            arrays.append((sub, p, "struct"))
                        elif collapse_primitive_list:
                            df = df.withColumn(
                                _name(p),
                                F.concat_ws(",", df[sub].cast("array<string>"))).drop(sub)
                        else:
                            arrays.append((sub, p, "scalar"))
                    else:
                        df = _emit_scalar(df, df[sub], p).drop(sub)
                return _explode_arrays(df.drop(src), arrays)
            if isinstance(dt, T.ArrayType):
                if isinstance(dt.elementType, T.StructType):
                    return _explode_arrays(df, [(src, path, "struct")])
                if collapse_primitive_list:
                    return df.withColumn(
                        _name(path),
                        F.concat_ws(",", df[src].cast("array<string>"))).drop(src)
                return _explode_arrays(df, [(src, path, "scalar")])
            out_df = _emit_scalar(df, df[src], path)
            return out_df.drop(src) if src != _name(path) else out_df

        return self._wrap(_flatten(out, tmp, []))

    def transpose(self, n: int = 1) -> "OmigoDF":
        """Display transpose of the first n rows (reference dataframe.py:4767-4788).
        Driver-side by design (display-only)."""
        rows = self._df.limit(n).collect()
        data = []
        for c in self._df.columns:
            rec = {"col_name": c}
            for i, r in enumerate(rows):
                v = r[c]
                rec[f"row{COL_SEP}{i + 1}"] = "" if v is None else str(v)
            data.append(rec)
        cols = ["col_name"] + [f"row{COL_SEP}{i + 1}" for i in range(len(rows))]
        return self._wrap(self.spark.createDataFrame(
            [tuple(d[c] for c in cols) for d in data],
            T.StructType([T.StructField(c, T.StringType()) for c in cols])))

    def reverse_transpose(self, grouping_cols, transpose_key: str, transpose_cols,
                          key_values: list | None = None) -> "OmigoDF":
        """Pivot (reference dataframe.py:4791-4818 does one join per distinct
        key value, flagged 'not implemented efficiently' — groupBy().pivot()
        is the single-shuffle Spark shape). Output named
        ``<col>:<key>:<value>`` per the reference convention.

        ``key_values`` (r11) pins the pivot values explicitly. Two wins
        at scale: Spark skips the eager distinct-values JOB it otherwise
        runs over the whole input just to learn the columns (a full
        extra scan at 100 TB), and the output schema stops depending on
        the data — an empty or filtered-down input still produces every
        pinned column, so downstream selects never break. Default None
        keeps the discover-from-data reference behavior."""
        gcols = self._resolve(grouping_cols)
        self._resolve(transpose_key)
        tcols = self._resolve(transpose_cols)
        aggs = [F.first(F.col(colutils.quote(c))).alias(c) for c in tcols]
        gb = self._df.groupBy(*[F.col(colutils.quote(g)) for g in gcols])
        p = (gb.pivot(transpose_key, key_values) if key_values is not None
             else gb.pivot(transpose_key)).agg(*aggs)
        renames = {}
        # multi-agg pivot columns are '{pivotValue}_{aggAlias}'; the pivot
        # VALUE may itself contain '_', so match the KNOWN agg alias as a
        # suffix (longest alias first, in case one alias suffixes another)
        # instead of splitting on the first underscore
        by_len = sorted(tcols, key=len, reverse=True)
        for c in p.columns:
            if c in gcols:
                continue
            if len(tcols) == 1:
                renames[c] = f"{tcols[0]}{COL_SEP}{transpose_key}{COL_SEP}{c}"
            else:
                tc = next((t for t in by_len if c.endswith(f"_{t}")), None)
                if tc is not None:
                    val = c[:-(len(tc) + 1)]
                    renames[c] = f"{tc}{COL_SEP}{transpose_key}{COL_SEP}{val}"
        out = p
        for old, new in renames.items():
            out = out.withColumnRenamed(old, new)
        return self._wrap(out)

    # ----------------------------------------------------- driver bridges
    def to_pandas_df(self):
        """(reference dataframe.py:2167-2222) — Arrow-accelerated collect."""
        return self._df.toPandas()

    def to_json_records(self, new_col: str = "json") -> "OmigoDF":
        """(reference dataframe.py:2227-2243)"""
        return self._wrap(self._df.select(F.to_json(F.struct("*")).alias(new_col)))

    def to_tuples(self, cols=None) -> list[tuple]:
        """(reference dataframe.py:4847-4879) — driver action."""
        use = self._resolve(cols) if cols is not None else list(self._df.columns)
        return [tuple(r) for r in self._df.select(*map(colutils.qcol, use)).collect()]

    def col_as_array(self, col: str) -> list[str]:
        """(reference dataframe.py:1912-1920)"""
        self._resolve(col)
        return [("" if r[0] is None else str(r[0]))
                for r in self._df.select(colutils.qcol(col)).collect()]

    def col_as_array_uniq(self, col: str) -> list[str]:
        self._resolve(col)
        return [("" if r[0] is None else str(r[0]))
                for r in self._df.select(colutils.qcol(col)).distinct().collect()]

    def col_as_array_uniq_non_empty(self, col: str) -> list[str]:
        return [v for v in self.col_as_array_uniq(col) if v != ""]

    def col_as_float_array(self, col: str) -> list[float]:
        self._resolve(col)
        return [float(r[0]) for r in self._df.select(colutils.qcol(col)).collect()]

    def col_as_int_array(self, col: str) -> list[int]:
        return [int(float(v)) for v in self.col_as_array(col)]

    def cols_as_map(self, key_cols, value_cols) -> dict:
        """(reference dataframe.py:4881-4907)"""
        kc = self._resolve(key_cols)
        vc = self._resolve(value_cols)
        out = {}
        # NULL renders as '' (the missing marker), matching col_as_array —
        # not the literal string 'None' (r10 review)
        for r in self._df.select(*map(colutils.qcol, kc + vc)).collect():
            cells = tuple("" if x is None else str(x) for x in r)
            k, v = cells[:len(kc)], cells[len(kc):]
            out[k[0] if len(k) == 1 else k] = v[0] if len(v) == 1 else v
        return out

    def first_value_with_default_if_missing(self, col: str, default: str = "") -> str:
        """(reference dataframe.py:5383-5393)"""
        if col not in self._df.columns:
            return default
        row = self._df.select(colutils.qcol(col)).first()
        if row is None or row[0] is None or str(row[0]) == "":
            return default
        return str(row[0])

    def resolve_template_col(self, template_col: str, new_col: str) -> "OmigoDF":
        """Interpolate '{col}' placeholders from other columns (reference
        dataframe.py:5321-5381). Native: chained replace()."""
        self._resolve(template_col)
        # discover placeholders driver-side from one sample? No — resolve
        # against the header: any column name may appear as a placeholder.
        expr = F.col(colutils.quote(template_col)).cast("string")
        for c in self._df.columns:
            if c == template_col:
                continue
            expr = F.replace(expr, F.lit("{" + c + "}"),
                             F.coalesce(F.col(colutils.quote(c)).cast("string"), F.lit("")))
        return self._wrap(self._df.withColumn(new_col, expr))

    # ----------------------------------------------------------- display
    def show(self, n: int = 20, truncate: bool = True, title: str | None = None) -> "OmigoDF":
        if title:
            print(title)
        self._df.show(n, truncate=truncate)
        return self

    def show_transpose(self, n: int = 1, title: str | None = None) -> "OmigoDF":
        self.transpose(n).show(100, truncate=False, title=title)
        return self

    def show_sample(self, n: int = 20, seed: int = 0, title: str | None = None) -> "OmigoDF":
        OmigoDF(self._df.orderBy(F.rand(seed)).limit(n)).show(n, title=title)
        return self

    def show_group_count(self, cols, title: str | None = None) -> "OmigoDF":
        self.group_count(cols).show(50, title=title)
        return self

    def explain(self, mode: str = "formatted") -> "OmigoDF":
        self._df.explain(mode)
        return self

    # noop shims for reference-API compatibility (hydra collect/materialize,
    # reference cluster_tsv.py:59-73 — Spark's laziness supersedes them)
    def collect_plan(self) -> "OmigoDF":
        return self

    def materialize(self) -> "OmigoDF":
        return self._wrap(self._df.cache())
