"""API-surface parity layer: the reference ``DataFrame``'s long tail of
deprecated aliases, driver-side introspection helpers, display wrappers,
array-cell predicates and warn-guards (reference omigo_core/dataframe.py —
file:line cites on each method). Kept out of dataframe.py so the core
operator file stays readable; ``OmigoDF`` mixes this in.

Scale notes: methods documented as ACTIONS run a Spark job (the reference
was eager and in-RAM so these were free there); content-returning helpers
(`get_data_fields`, `get_content_as_string`, `to_maps`) collect to the
driver and are guarded by a warning above ``_COLLECT_WARN_ROWS`` — they
exist for API parity, not for the 100 TB path.
"""

from __future__ import annotations

import logging
import time
from collections.abc import Callable

from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import colutils

logger = logging.getLogger(__name__)
# the debug toggles set the level of the whole package tree
_PKG_LOGGER = logging.getLogger(__name__.partition(".")[0])

_WARNED: set[str] = set()
_COLLECT_WARN_ROWS = 1_000_000

# reference dataframe.py:16-17
DEFAULT_COL_PREFIX = ":"
DEFAULT_ARRAY_PREFIX = "."

# module-level verbosity toggles (reference utils enable/disable_*_mode)
_MODES = {"debug": False, "info": True, "trace": False}


def warn(msg: str) -> None:
    logger.warning(msg)


def warn_once(msg: str) -> None:
    if msg not in _WARNED:
        _WARNED.add(msg)
        logger.warning(msg)


class CompatMixin:
    """Mixed into ``OmigoDF``; relies on its ``_df``, ``_wrap``, ``_resolve``
    and the operator methods defined there."""

    def parallelize(self, func, *args, num_batches: int = 10, **kwargs):
        """MultiThreadDF.parallelize parity (reference
        multithread_ext.py:25-101): split into row batches, apply a
        table→table func per batch, merge-union the outputs. On Spark the
        thread pool is unnecessary — each batch's plan already uses every
        core — so what's reproduced is the split/apply/merge semantics
        (visible when func is not row-wise, e.g. a per-batch aggregation).

        Batches are assigned in ONE tagging pass (same bucketing as
        ``split_batches``) over a localCheckpointed frame: membership is
        pinned, so the batches partition the input exactly — no overlap or
        loss — regardless of upstream shuffles/AQE. (The previous
        offset/limit slicing ran B+1 jobs and relied on a stable global
        row order across actions, which Spark does not guarantee.)
        Batch membership is hash-based rather than the reference's
        contiguous slices; for the supported func shapes (row-wise maps /
        per-batch reductions merged by union) the result set is the same."""
        if num_batches <= 1:
            return func(self, *args, **kwargs)
        tmp = "__omigo_batch__"
        from .dataframe import abs64
        bucket = F.pmod(abs64(F.xxhash64(F.monotonically_increasing_id(), F.lit(0))),
                        F.lit(num_batches))
        # lazy (r14): the present-buckets collect materializes it
        tagged = self._df.withColumn(tmp, bucket).localCheckpoint(eager=False)
        # one job to find non-empty buckets (reference skips empty batches)
        present = sorted(r[0] for r in tagged.select(tmp).distinct().collect())
        if not present:
            return func(self, *args, **kwargs)
        results = [func(self._wrap(tagged.filter(F.col(tmp) == i).drop(tmp)),
                        *args, **kwargs) for i in present]
        return results[0].merge_union(results[1:]) if len(results) > 1 else results[0]

    # ------------------------------------------------------- deprecated aliases
    def drop(self, col_or_cols, ignore_if_missing: bool = False):
        """(reference dataframe.py: deprecated alias of drop_cols)"""
        warn_once("drop: use drop_cols instead")
        return self.drop_cols(col_or_cols, ignore_if_missing=ignore_if_missing)

    def drop_if_exists(self, col_or_cols):
        return self.drop_cols(col_or_cols, ignore_if_missing=True)

    def skip(self, count: int):
        warn_once("skip: use skip_rows instead")
        return self.skip_rows(count)

    def split(self, *args, **kwargs):
        warn_once("split: use split_str instead")
        return self.split_str(*args, **kwargs)

    def match(self, col, pattern, ignore_if_missing: bool = False):
        warn("match: use regex_match instead")
        return self.regex_match(col, pattern, ignore_if_missing=ignore_if_missing)

    def not_match(self, col, pattern, ignore_if_missing: bool = False):
        warn("not_match: use not_regex_match instead")
        return self.not_regex_match(col, pattern, ignore_if_missing=ignore_if_missing)

    def not_eq(self, col, value, ignore_if_missing: bool = False):
        """Untyped != on the string image (reference warns on implicit
        conversion side effects; so do we)."""
        warn("not_eq: use not_eq_int, not_eq_str or not_eq_float")
        resolved = self._resolve([col], ignore_if_missing=ignore_if_missing)
        if not resolved:
            return self
        c = F.col(colutils.quote(resolved[0])).cast("string")
        return self._wrap(self._df.filter(c != F.lit(str(value))))

    def numerical_sort(self, cols, reorder: bool = False,
                       ignore_if_missing: bool = False):
        resolved = self._missing_ok(cols, ignore_if_missing, "numerical_sort")
        if resolved is None:
            return self
        return self.sort(resolved, reorder=reorder, all_numeric=True)

    def reverse_numerical_sort(self, cols, reorder: bool = False,
                               ignore_if_missing: bool = False):
        resolved = self._missing_ok(cols, ignore_if_missing,
                                    "reverse_numerical_sort")
        if resolved is None:
            return self
        return self.reverse_sort(resolved, reorder=reorder, all_numeric=True)

    def reorder_reverse(self, cols):
        warn("reorder_reverse: use reverse_reorder instead")
        return self.reverse_reorder(cols)

    def add_col_prefix(self, cols, prefix: str):
        warn("add_col_prefix: use add_prefix instead")
        return self.add_prefix(prefix, cols)

    def export_to_df(self, n: int = -1):
        warn("export_to_df: deprecated, use to_pandas_df()")
        return self.to_pandas_df()

    def to_df(self, *args, **kwargs):
        warn_once("to_df: deprecated, use to_pandas_df instead")
        return self.to_pandas_df()

    def to_simple_df(self, n=None):
        warn("to_simple_df: deprecated, use to_pandas_df")
        return self.to_pandas_df()

    def export_to_maps(self):
        warn("export_to_maps: use to_maps()")
        return self.to_maps()

    def get_col_index(self, col: str) -> int:
        warn("get_col_index: use get_column_index")
        return self.get_column_index(col)

    def get_size_in_bytes(self) -> int:
        warn("get_size_in_bytes: use size_in_bytes() instead")
        return self.size_in_bytes()

    def extend_external_class(self, newclass, *args, **kwargs):
        warn("extend_external_class: use extend_class instead")
        return newclass(self._df, *args, **kwargs)

    def explode_json_v2(self, col, prefix=None, fix_json_arr: bool = False,
                        **kwargs):
        """v2 of the JSON flattener (reference dataframe.py:4685-4765 —
        hash + pandas read_json + map-join back). Same observable output as
        explode_json here; the Spark plan already does the join-free
        flatten. ``fix_json_arr`` repairs single-quoted pseudo-JSON the way
        the reference does (4713-4717: strip double quotes, then ' → ") —
        as a native expression, not a driver loop."""
        src = self
        if fix_json_arr:
            from pyspark.sql import functions as F

            v = F.col(colutils.quote(col)).cast("string")
            broken = (v.startswith("{'") | v.startswith("\"{'")
                      | v.startswith("[{'") | v.startswith("\"[{'"))
            fixed = F.translate(F.translate(v, '"', ""), "'", '"')
            src = src._wrap(src._df.withColumn(col, F.when(broken, fixed)
                                               .otherwise(v)))
        return src.explode_json(col, prefix=prefix, **kwargs)

    def filter_json_by_xpath(self, col, xpath_filter, exclude: bool = False):
        """Filter rows by JSONPath over a JSON-string column. The reference
        declares this but raises (dataframe.py:4955-4956), so the semantics
        are defined here — all compiled to JVM-side get_json_object (no
        Python in the data path except the callable form):

          * str xpath            → keep rows where the path EXISTS
            (extract is non-null);
          * dict {xpath: value}  → keep rows where every path's extracted
            string equals str(value);
          * (xpath, callable)    → keep rows where callable(extracted_str
            | None) is truthy (documented Python-UDF slow path).

        Paths may be given as '$.a.b' or bare 'a.b'. ``exclude=True``
        inverts the predicate."""
        from pyspark.sql import functions as F

        def _p(x: str) -> str:
            return x if x.startswith("$") else "$." + x

        if isinstance(xpath_filter, str):
            cond = F.get_json_object(F.col(colutils.quote(col)).cast("string"),
                                     _p(xpath_filter)).isNotNull()
        elif isinstance(xpath_filter, dict):
            cond = F.lit(True)
            for xp, val in xpath_filter.items():
                cond = cond & (F.get_json_object(
                    F.col(colutils.quote(col)).cast("string"), _p(xp)) == F.lit(str(val)))
        elif (isinstance(xpath_filter, (tuple, list)) and len(xpath_filter) == 2
              and callable(xpath_filter[1])):
            xp, fn = xpath_filter
            f = F.udf(lambda s: bool(fn(s)), "boolean")
            cond = f(F.get_json_object(F.col(colutils.quote(col)).cast("string"), _p(xp)))
        else:
            raise ValueError(f"unsupported xpath_filter: {xpath_filter!r}")
        return self._wrap(self._df.where(~cond if exclude else cond))

    # -------------------------------------------------- array-cell predicates
    def _array_matching_cols(self, col: str) -> list[str]:
        return [c for c in self._df.columns
                if c.startswith(col + "[") and c.endswith("]")]

    def array_matches(self, col: str, func: Callable):
        """Keep rows where ANY exploded array column ``col[i]`` matches
        (reference dataframe.py:5395-5406)."""
        matching = self._array_matching_cols(col)
        if not matching:
            raise ValueError(f"array_matches: no matching cols found: {col}")
        return self.select_rows_with_cols_cond_exists(matching, func)

    def array_value_exists(self, col: str, value):
        """(reference dataframe.py:5408-5416)"""
        if value is None:
            raise ValueError("array_value_exists: value is None")
        return self.array_matches(col, lambda t: t == str(value))

    def array_value_find(self, col: str, value):
        """(reference dataframe.py:5418-5426)"""
        if value is None:
            raise ValueError("array_value_find: value is None")
        return self.array_matches(col, lambda t: t.find(str(value)) != -1)

    def nested_array_matches(self, col: str, func: Callable):
        """``col`` is ``base[].elt``: match every ``base[i].elt`` column
        (reference dataframe.py:5428-5453)."""
        index = col.rfind(DEFAULT_ARRAY_PREFIX)
        array_col, elt_col = col[:index], col[index + 1:]
        if not array_col.endswith("[]"):
            raise ValueError(f"nested_array_matches: bad col format: {col}")
        base = array_col[:-2]
        matching = [c for c in self._df.columns
                    if c.startswith(f"{base}[")
                    and c.endswith(f"{DEFAULT_ARRAY_PREFIX}{elt_col}")]
        if not matching:
            raise ValueError(f"nested_array_matches: no matching cols: {col}")
        return self.select_rows_with_cols_cond_exists(matching, func)

    def nested_array_value_exists(self, col: str, value):
        if value is None:
            raise ValueError("nested_array_value_exists: value is None")
        return self.nested_array_matches(col, lambda t: t == str(value))

    def nested_array_value_find(self, col: str, value):
        if value is None:
            raise ValueError("nested_array_value_find: value is None")
        return self.nested_array_matches(col, lambda t: t.find(str(value)) != -1)

    # --------------------------------------------- existence-filter variants
    def select_any_cols_with_cond_exists_filter(self, func: Callable, cols=None,
                                                ignore_if_missing: bool = False):
        """Rows where ANY selected col satisfies func (reference
        dataframe.py:1211-1250)."""
        use = (self._resolve(cols, ignore_if_missing=ignore_if_missing)
               if cols is not None else list(self._df.columns))
        if not use:
            return self
        return self._wrap(self._df.filter(self._exists_pred(use, func)))

    def select_any_cols_with_cond_exists_exclude_filter(self, func: Callable, cols=None,
                                                        ignore_if_missing: bool = False):
        use = (self._resolve(cols, ignore_if_missing=ignore_if_missing)
               if cols is not None else list(self._df.columns))
        if not use:
            return self
        return self._wrap(self._df.filter(~self._exists_pred(use, func)))

    def _forall_pred(self, cols: list[str], func: Callable):
        def _call(v):
            return bool(func("" if v is None else v))
        udf = F.udf(_call, T.BooleanType())
        # colutils.quote: names may contain '.' (array-cell convention)
        # AND backticks, which need doubling
        from . import colutils
        preds = [F.coalesce(udf(F.col(colutils.quote(c)).cast("string")),
                            F.lit(False))
                 for c in cols]
        out = preds[0]
        for p in preds[1:]:
            out = out & p
        return out

    def select_all_cols_with_cond_exists_filter(self, func: Callable, cols=None,
                                                ignore_if_missing: bool = False):
        """Rows where ALL selected cols satisfy func (reference
        dataframe.py:1252-1317)."""
        use = (self._resolve(cols, ignore_if_missing=ignore_if_missing)
               if cols is not None else list(self._df.columns))
        if not use:
            return self
        return self._wrap(self._df.filter(self._forall_pred(use, func)))

    def select_all_cols_with_cond_exists_exclude_filter(self, func: Callable, cols=None,
                                                        ignore_if_missing: bool = False):
        use = (self._resolve(cols, ignore_if_missing=ignore_if_missing)
               if cols is not None else list(self._df.columns))
        if not use:
            return self
        return self._wrap(self._df.filter(~self._forall_pred(use, func)))

    def select_rows_and_cols_with_cond_exists(self, func: Callable):
        """(reference dataframe.py:240-246)"""
        cols = list(self._df.columns)
        return (self.select_rows_with_cond_exists(cols, func)
                    .select_cols_with_cond_exists(cols, func))

    # -------------------------------------------------------- namespace mgmt
    def drop_cols_with_prefix_except(self, prefix: str, except_cols,
                                     ignore_if_missing: bool = False):
        """(reference dataframe.py:534-551)"""
        keep = set(except_cols if isinstance(except_cols, (list, tuple))
                   else [except_cols])
        doomed = [c for c in self._df.columns
                  if c.startswith(f"{prefix}{DEFAULT_COL_PREFIX}") and c not in keep]
        if not doomed:
            return self
        return self.drop_cols(doomed)

    def resolve_url_encoded_list_cols(self):
        """Decode ``,``-joined url-encoded list cells in
        ``*:url_encoded:mkstr`` / ``*:url_encoded:uniq_mkstr`` cols and strip
        the marker (reference dataframe.py:2268-2292; naming convention
        utils.py:894-905). JVM-side: split → transform(url_decode) →
        array_join, no Python UDF."""
        # single aliased select: the withColumn+withColumnRenamed loop
        # pair stacked two Projects per matched column (O(cols²)
        # analysis, CollapseProject stack overflow at ~1,000 columns —
        # r12 wide-schema probe)
        df = self._df
        exprs = []
        for c in df.columns:
            matched = None
            for agg_suffix in ("mkstr", "uniq_mkstr"):
                marker = f"{DEFAULT_COL_PREFIX}url_encoded{DEFAULT_COL_PREFIX}{agg_suffix}"
                if c.endswith(marker):
                    matched = c[: -len(marker)] + f"{DEFAULT_COL_PREFIX}{agg_suffix}"
                    break
            if matched is None:
                exprs.append(df[c])
            else:
                decoded = F.array_join(
                    F.transform(F.split(df[c].cast("string"), ","),
                                lambda x: F.url_decode(x)), ",")
                exprs.append(decoded.alias(matched))
        return self._wrap(df.select(*exprs))

    def resolve_all_url_encoded_cols(self):
        """(reference dataframe.py:2284-2292)"""
        return self.resolve_url_encoded_cols().resolve_url_encoded_list_cols()

    def resolve_template_col_inline(self, template_col: str, col_or_cols=None):
        """(reference dataframe.py:5321-5381, inline variant)"""
        return self.resolve_template_col(template_col, template_col)

    # -------------------------------------------------------------- sampling
    def sample_with_replacement(self, sampling_ratio, seed: int = 0):
        """(reference dataframe.py:2838-2839 raises too)"""
        raise NotImplementedError("sampling with replacement not implemented yet.")

    def sample_without_replacement(self, sampling_ratio, seed: int = 0):
        return self.sample(sampling_ratio, seed)

    def sample_n_without_replacement(self, n: int, seed: int = 0):
        return self.sample_n(n, seed)

    def sample_n_with_replacement(self, n: int, seed: int = 0):
        """Exact-n with replacement (reference dataframe.py:2873-2908,
        random.choices): seeded random row indices joined against
        row-numbered input — distributed, no driver materialization of
        data (only the n sampled indices live on the driver)."""
        import numpy as np
        m = self._df.count()
        if m == 0 or n <= 0:
            return self.take(0)
        rng = np.random.RandomState(seed)
        idxs = [(int(i),) for i in rng.randint(1, m + 1, size=n)]
        spark = self._df.sparkSession
        picks = spark.createDataFrame(idxs, ["__sno__"])
        numbered = self.add_seq_num("__sno__").df
        out = (numbered.join(picks, "__sno__").drop("__sno__"))
        return self._wrap(out)

    def sample_n_with_warn(self, limit: int, msg=None, seed: int = 0):
        """Downsample to ``limit`` with a warning if over (reference
        dataframe.py:2911-2926). ACTION: counts."""
        warn_once("sample_n_with_warn: this api name might change")
        n = self._df.count()
        if n <= limit:
            return self
        warn(msg or f"sample_n_with_warn: num rows {n} > limit {limit}, sampling")
        return self.sample_n(limit, seed)

    def sample_group_by_max_uniq_values_per_class(self, grouping_cols, class_col: str,
                                                  col: str, max_uniq_values_map: dict,
                                                  def_max_uniq_values=None, seed: int = 0):
        """Per-class distinct-value caps (reference dataframe.py:3195-3239):
        classes in the map get their own cap, others get the default (or
        pass through). Union of per-class capped subsets — class count is
        small, data stays distributed."""
        cls = F.col(colutils.quote(class_col)).cast("string")
        mapped = [str(k) for k in max_uniq_values_map]
        parts = []
        for k, cap in max_uniq_values_map.items():
            sub = self._wrap(self._df.filter(cls == F.lit(str(k))))
            parts.append(sub.sample_group_by_max_uniq_values_exact(
                grouping_cols, col, int(cap), seed=seed))
        # NULL-class rows must pass through to the default branch (a bare
        # ~isin evaluates to NULL and silently drops them)
        rest = self._wrap(self._df.filter(cls.isNull() | ~cls.isin(mapped)))
        if def_max_uniq_values is not None:
            rest = rest.sample_group_by_max_uniq_values_exact(
                grouping_cols, col, int(def_max_uniq_values), seed=seed)
        out = parts[0] if parts else rest
        for p in (parts[1:] + ([rest] if parts else [])):
            out = out.union(p)
        return out

    def sample_group_by_topk_if_reached_limit(self, limit: int, *args, **kwargs):
        """(reference dataframe.py:2938-2946). ACTION: counts."""
        warn_once("sample_group_by_topk_if_reached_limit: this api name might change")
        if self._df.count() >= limit:
            return self.sample_group_by_topk(*args, **kwargs)
        return self

    def warn_if_limit_reached(self, limit: int, msg=None):
        """(reference dataframe.py:2948-2960). ACTION: counts."""
        warn_once("warn_if_limit_reached: this api name might change")
        n = self._df.count()
        if n >= limit:
            warn(msg or f"warn_if_limit_reached: num rows {n} >= limit {limit}")
        return self

    # ------------------------------------------------- introspection / stats
    def get_columns(self) -> list[str]:
        return list(self._df.columns)

    def get_column(self, index: int) -> str:
        if index < 0 or index >= len(self._df.columns):
            raise ValueError(f"get_column: invalid index: {index}")
        return self._df.columns[index]

    def get_header_map(self) -> dict:
        return {c: i for i, c in enumerate(self._df.columns)}

    def has_col(self, col: str) -> bool:
        return col in self._df.columns

    def has_empty_header(self) -> bool:
        return len(self._df.columns) == 0

    def is_empty(self) -> bool:
        """(reference dataframe.py: empty header AND no rows). Cheap: a
        Spark DataFrame always has a schema, so usually False without a job."""
        return self.has_empty_header() and self._df.isEmpty()

    def get_data_fields(self) -> list[list[str]]:
        """All rows as lists of strings — ACTION, driver-side (the
        reference's native representation; here for parity/tests only)."""
        self._warn_big_collect("get_data_fields")
        cols = [F.coalesce(F.col(colutils.quote(c)).cast("string"), F.lit(""))
                for c in self._df.columns]
        return [list(r) for r in self._df.select(*cols).collect()]

    def get_hash(self) -> str:
        """Deterministic content hash: order-insensitive sum of per-row
        xxhash64 plus header hash (reference dataframe.py get_hash used
        mmh3 over serialized rows — same role, engine hash differs;
        documented delta). ACTION: one aggregate job, nothing collected."""
        row_hash = F.xxhash64(*[F.coalesce(F.col(colutils.quote(c)).cast("string"), F.lit(""))
                                for c in self._df.columns])
        # DECIMAL accumulator: sum of longs overflows under ANSI mode
        total = self._df.select(
            F.sum(row_hash.cast("decimal(38,0)")).alias("h")).first()["h"]
        total = int(total or 0)
        # stable digest, not built-in hash(): str hashing is salted per
        # process (PYTHONHASHSEED), which would break cross-run determinism
        import hashlib

        header_part = int.from_bytes(
            hashlib.md5("\t".join(self._df.columns).encode()).digest()[:4], "big")
        return f"{header_part:x}-{total & 0xFFFFFFFFFFFFFFFF:x}"

    def size_in_bytes(self) -> int:
        """Sum of cell string lengths (reference dataframe.py size_in_bytes).
        ACTION: one aggregate, distributed."""
        cell = sum((F.coalesce(F.length(F.col(colutils.quote(c)).cast("string")), F.lit(0))
                    for c in self._df.columns), F.lit(0))
        total = self._df.select(F.sum(cell).alias("b")).first()["b"] or 0
        return int(total) + sum(len(c) for c in self._df.columns)

    def size_in_mb(self) -> int:
        return int(self.size_in_bytes() / 1e6)

    def size_in_gb(self) -> int:
        return int(self.size_in_bytes() / 1e9)

    def get_max_size_cols_stats(self) -> dict:
        """Per-column max string length (reference dataframe.py
        get_max_size_cols_stats). ACTION: one aggregate."""
        aggs = [F.max(F.length(F.col(colutils.quote(c)).cast("string"))).alias(c)
                for c in self._df.columns]
        row = self._df.select(*aggs).first()
        return {c: (row[c] or 0) for c in self._df.columns}

    def to_string(self) -> str:
        return f"Header: {self._df.columns}, Data: {self._df.count()}"

    def get_content_as_string(self) -> str:
        """Whole table as TSV text — ACTION, driver-side, parity only."""
        self._warn_big_collect("get_content_as_string")
        rows = self.get_data_fields()
        lines = ["\t".join(self._df.columns)]
        lines.extend("\t".join(fields) for fields in rows)
        return "\n".join(lines) + "\n"

    def serialize_as_string(self) -> str:
        return self.get_content_as_string()

    def to_csv_text(self, comma_replacement: str = ";") -> str:
        """(reference dataframe.py to_csv_text) — ACTION, driver-side."""
        self._warn_big_collect("to_csv_text")
        rows = self.get_data_fields()
        lines = [",".join(self._df.columns)]
        lines.extend(",".join(f.replace(",", comma_replacement) for f in fields)
                     for fields in rows)
        return "\n".join(lines)

    def to_maps(self, resolve_url_encoded_cols: bool = False) -> list[dict]:
        """Rows as list of str→str dicts (reference dataframe.py to_maps,
        incl. the ``:url_encoded:[uniq_]mkstr`` key/value rewrite). ACTION,
        driver-side, parity only."""
        self._warn_big_collect("to_maps")
        src: CompatMixin = self
        if resolve_url_encoded_cols:
            src = self.resolve_all_url_encoded_cols()
        cols = src._df.columns
        return [dict(zip(cols, fields)) for fields in src.get_data_fields()]

    def to_maps_with_empty_data(self, resolve_url_encoded_cols: bool = False) -> list[dict]:
        return self.to_maps(resolve_url_encoded_cols=resolve_url_encoded_cols)

    def _warn_big_collect(self, op: str) -> None:
        # cheap structural guard: only warn, like the reference's 1 GB warn
        warn_once(f"{op}: driver-side materialization — parity helper, "
                  f"not for large tables")

    # ----------------------------------------------------- display / logging
    def show_custom_func(self, n: int, title, func: Callable, *args, **kwargs):
        """(reference dataframe.py show_custom_func)"""
        self.custom_func(func, *args, **kwargs).show(n=n, title=title)
        return self

    def show_select_func(self, col_or_cols, n: int = 20, title: str = "Show"):
        self.select(col_or_cols).show(n=n, title=title)
        return self

    def show_transpose_custom_func(self, n: int, title, func: Callable, *args, **kwargs):
        self.custom_func(func, *args, **kwargs).show_transpose(n=n, title=title)
        return self

    def show_transpose_non_empty(self, n: int = 1,
                                 title: str = "Show Transpose Non Empty"):
        self.take(n).drop_empty_cols().show_transpose(n=n, title=title)
        return self

    def show_transpose_sort_cols(self, n: int = 1, title: str = "Show Transpose"):
        self.select(sorted(self._df.columns)).show_transpose(n=n, title=title)
        return self

    def show_transpose_non_empty_sort_cols(self, n: int = 1,
                                           title: str = "Show Transpose Non Empty"):
        (self.take(n).drop_empty_cols()
             .custom_func(lambda df: df.select(*sorted(df.columns)))
             .show_transpose(n=n, title=title))
        return self

    def print(self, msg):
        print(msg)
        return self

    def print_stats(self, msg=None):
        prefix = f"{msg}: " if msg is not None else ""
        print(f"{prefix}num_rows: {self._df.count()}, num_cols: "
              f"{len(self._df.columns)}")
        return self

    def to_clipboard(self, n: int = 1000):
        """Copy up to ``n`` rows to the clipboard as TSV (reference
        dataframe.py:4937). Headless environments (no clipboard backend /
        display) degrade to a warning rather than fail the chain — the
        reference's show/display chains never abort the pipeline. The
        ``n`` cap bounds the driver-side collect."""
        try:
            self.take(n).to_pandas_df().to_clipboard(sep="\t", index=False)
        except Exception as e:  # headless container: no clipboard backend
            warn(f"to_clipboard: unavailable ({e.__class__.__name__})")
        return self

    def noop(self, *args, **kwargs):
        return self

    def sleep(self, secs: float):
        time.sleep(secs)
        return self

    def warn(self, msg):
        warn(msg)
        return self

    def warn_once(self, msg):
        warn_once(msg)
        return self

    def write(self, output_file: str, **kwargs):
        """Method-form sink (reference dataframe.py:5499-5501 delegates to
        hydra.write the same way)."""
        from ..sources import io
        io.write(self, output_file, **kwargs)
        return self

    # ----------------------------------------------------- verbosity toggles
    def enable_debug_mode(self):
        _MODES["debug"] = True
        _PKG_LOGGER.setLevel(logging.DEBUG)
        return self

    def disable_debug_mode(self):
        _MODES["debug"] = False
        _PKG_LOGGER.setLevel(logging.INFO)
        return self

    def enable_info_mode(self):
        _MODES["info"] = True
        return self

    def disable_info_mode(self):
        _MODES["info"] = False
        return self

    def enable_trace_mode(self):
        _MODES["trace"] = True
        return self

    def disable_trace_mode(self):
        _MODES["trace"] = False
        return self
