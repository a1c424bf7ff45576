"""Local replica of the driver's correctness gate: run every queries() entry
on Spark at a given SF and compare against oracle_sql() in DuckDB —
row count, column set, and order-insensitive exact value hash.

Both sides go through pandas (Spark ``toPandas()``; DuckDB ``.df()``) so the
comparison sees the same Arrow-converted dtypes the driver sees — e.g.
DuckDB's SUM(BIGINT) yields HUGEINT which pandas renders as float64; if the
oracle doesn't cast it back to BIGINT, an int64 Spark column hashes
differently even when values are equal. (Round 1 lost two queries to
exactly that: fetchall() returned Python ints and masked the drift.)

Dtype strictness (round 5): canonicalization is PER COLUMN, never via
``iterrows()`` — iterrows coerces each mixed-dtype row to one common dtype,
turning an int64-vs-float64 column divergence into identical float rows on
both sides. That coercion is exactly how the round-4 sessionize /
merge_intervals HUGEINT drift passed locally while failing the driver.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import numpy as np  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon_cell(v) -> str:
    if v is None:
        return ""
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    if isinstance(v, (np.floating,)):
        f = float(v)
        return "nan" if math.isnan(f) else repr(f)
    if isinstance(v, (np.integer,)):
        return str(int(v))
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return repr(float(v))
    except Exception:
        pass
    if v is None or v != v:  # pandas NaT/NaN objects
        return "nan"
    return str(v)


def frame_fingerprint(pdf):
    cols = sorted(pdf.columns)
    # per-column canon preserves each column's dtype; .tolist() yields
    # native ints for int64 and floats for float64, so "2" != "2.0"
    canon_cols = [[canon_cell(v) for v in pdf[c].tolist()] for c in cols]
    lines = sorted("\t".join(cells) for cells in zip(*canon_cols))
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest(), lines


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    if not os.path.isdir(sf_dir) and os.path.isdir(f"/root/testdata/{sf_dir}"):
        sf_dir = f"/root/testdata/{sf_dir}"  # accept bare "sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from omigo_data_analytics_spark import get_spark

    spark = get_spark("correctness")
    # robustness sweeps (r12): SPARK_GRAFT_CONF="k=v;k=v" overrides
    # runtime confs so the same battery can run AQE-off / odd
    # shuffle-partition postures without a separate harness
    for kv in os.environ.get("SPARK_GRAFT_CONF", "").split(";"):
        if "=" in kv:
            k, v = kv.split("=", 1)
            spark.conf.set(k.strip(), v.strip())

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spdf = sdf.toPandas()
        except Exception as e:
            print(f"FAIL  {name}: SPARK ERROR {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: rows={len(spdf)} cols={len(spdf.columns)} "
                  f"({time.time()-t0:.1f}s) [no oracle]")
            n_rows_only += 1
            continue
        try:
            dpdf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: DUCKDB ERROR {type(e).__name__}: {e}")
            n_fail += 1
            continue
        ok_rows = len(spdf) == len(dpdf)
        ok_cols = sorted(spdf.columns) == sorted(dpdf.columns)
        sh, slines = frame_fingerprint(spdf)
        dh, dlines = frame_fingerprint(dpdf) if ok_cols else ("", [])
        ok_hash = ok_cols and sh == dh
        status = "PASS" if (ok_rows and ok_cols and ok_hash) else "FAIL"
        print(f"{status}  {name}: rows {len(spdf)}/{len(dpdf)} "
              f"cols={'ok' if ok_cols else f'{sorted(spdf.columns)} vs {sorted(dpdf.columns)}'} "
              f"hash={'ok' if ok_hash else 'MISMATCH'} ({time.time()-t0:.1f}s)")
        if status == "PASS":
            n_pass += 1
        else:
            n_fail += 1
            if ok_cols and not ok_hash:
                sset, dset = set(slines), set(dlines)
                for ln in list(sset - dset)[:3]:
                    print("   spark-only:", ln[:200])
                for ln in list(dset - sset)[:3]:
                    print("   duck-only :", ln[:200])
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
