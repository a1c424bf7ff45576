"""Wide-schema hostile probe (r12): the reference's design target is
"100s or 1000s of columns" (reference README:14-17, docs/api-doc.md),
but nothing had ever exercised the column-namespace machinery past ~20
columns. This drives the §2.2/§2.3 bulk-column families, profile and
merge_union over a 1,000-column x 20,000-row parquet fixture and prints
per-op wall seconds.

The failure mode being hunted is DRIVER-side: N sequential
withColumn/withColumnRenamed calls each re-analyze a plan that is
already O(N) wide, so a bulk op written as a loop costs O(N^2) analysis
time — invisible at 20 columns, minutes at 1,000, and a driver hang at
the reference's "1000s". The fix shape is always the same: ONE select
with N aliased expressions.

Usage: python tools/wide_schema_probe.py [n_cols] [n_rows]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from omigo_data_analytics_spark import OmigoDF, get_spark  # noqa: E402

N_COLS = int(sys.argv[1]) if len(sys.argv) > 1 else 1000
N_ROWS = int(sys.argv[2]) if len(sys.argv) > 2 else 20_000
FIXTURE = f"/tmp/wide_{N_COLS}x{N_ROWS}.parquet"


def build_fixture(spark):
    if os.path.exists(FIXTURE):
        return
    base = spark.range(N_ROWS).withColumnRenamed("id", "row_id")
    # half int-ish strings (the reference's TSV model: everything is a
    # string column), half plain strings; deterministic, no UDFs
    exprs = [F.col("row_id")]
    for i in range(1, N_COLS):
        c = f"c{i:04d}"
        if i % 2 == 0:
            exprs.append(((F.col("row_id") * i) % 997).cast("string").alias(c))
        else:
            exprs.append(F.concat(F.lit(f"v{i}_"),
                                  (F.col("row_id") % 13).cast("string")).alias(c))
    base.select(*exprs).coalesce(4).write.mode("overwrite").parquet(FIXTURE)


def timed(label, fn, results):
    t0 = time.time()
    out = fn()
    # force full materialization driver-side cheaply
    n = out.df.count() if isinstance(out, OmigoDF) else out
    dt = time.time() - t0
    results.append((label, dt))
    print(f"{label:42s} {dt:8.2f}s  (n={n})", flush=True)
    return out


def main():
    spark = get_spark("wide_probe")
    build_fixture(spark)
    d = OmigoDF(spark.read.parquet(FIXTURE))
    int_cols = [f"c{i:04d}" for i in range(2, N_COLS, 2)]
    all_cols = [f"c{i:04d}" for i in range(1, N_COLS)]
    results = []

    timed("scan_count", lambda: OmigoDF(d.df), results)
    # §2.2 projections / column namespace ops
    timed("select_regex c0[0-4].*", lambda: d.select("c0[0-4].*"), results)
    timed("drop_cols 500", lambda: d.drop_cols(int_cols), results)
    timed("add_prefix ALL", lambda: d.add_prefix("p"), results)
    timed("remove_prefix ALL",
          lambda: d.add_prefix("p").remove_prefix("p"), results)
    timed("rename 500 cols (bulk dict)",
          lambda: d.rename({c: f"r_{c}" for c in int_cols}), results)
    timed("rename x100 (chained 1-col calls)",
          lambda: _rename_half(d, int_cols[:100]), results)
    timed("reorder (reverse)",
          lambda: d.reorder(list(reversed(d.df.columns))), results)
    timed("to_numeric 500", lambda: d.to_numeric(int_cols), results)
    timed("to_int 500", lambda: d.to_int(int_cols), results)
    timed("set_missing_values ALL",
          lambda: d.set_missing_values(all_cols, "NA"), results)
    timed("replace_str_inline 500",
          lambda: d.replace_str_inline(int_cols, "9", "#"), results)
    timed("transform_inline 500 (lambda)",
          lambda: d.transform_inline(int_cols, lambda s: s), results)
    timed("add_empty_cols_if_missing 200 new",
          lambda: d.add_empty_cols_if_missing(
              [f"x{i}" for i in range(200)]), results)
    timed("url_encode_inline x100 (chained 1-col calls)",
          lambda: _chain(d, d.url_encode_inline, int_cols[:100]), results)
    # §2.3 filters over a wide frame
    timed("typed filter eq (1 col of 1000)",
          lambda: d.eq_str("c0002", "0"), results)
    timed("drop_empty_cols",
          lambda: d.drop_empty_cols(), results)
    # aggregates / reshape over the full namespace
    timed("profile approx ALL", lambda: d.profile(), results)
    timed("profile exact 100", lambda: d.profile(all_cols[:100], exact=True),
          results)
    timed("merge_union (two 500-col halves)",
          lambda: d.select(["row_id"] + all_cols[:499]).merge_union(
              [d.select(["row_id"] + all_cols[499:])]), results)
    total = sum(t for _, t in results)
    print(f"{'TOTAL':42s} {total:8.2f}s")


def _rename_half(d, cols):
    """Chained 1-col renames — the reference's bulk-rename idiom."""
    out = d
    for c in cols:
        out = out.rename(c, f"r_{c}")
    return out


def _chain(d, method_name_unused, cols):
    out = d
    for c in cols:
        out = out.url_encode_inline(c)
    return out


if __name__ == "__main__":
    main()
