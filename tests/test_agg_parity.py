"""Native aggregate registry vs the reference-semantics Python bodies
(functions/udfs.py, which mirror omigo_core/udfs.py line-for-line): for
randomized adversarial groups — commas inside cells, blanks, whitespace-
only values, float-formatted ints — every shared aggregate name must
produce the same value through both paths. One Spark job for all seeds."""

import random

import pytest

from omigo_data_analytics_spark import OmigoDF
from omigo_data_analytics_spark.functions import udfs

# (agg name, value pool, normalizer applied to both sides)
CASES = [
    # mkstr preserves row order, which Spark's collect_list does not
    # guarantee across partitions — compare as a sorted multiset (the
    # blank-filtering semantics are still fully exercised)
    ("mkstr", ["a", "b,c", "", " ", "x y", "0"],
     lambda s: sorted(str(s).split(","))),
    ("sorted_mkstr", ["a", "b,c", "", " ", "zz", "-1"], str),
    ("uniq_mkstr", ["a,b", "b", "", " ", "a", "c,,d"], str),
    ("split_merge_uniq_mkstr", ["a,b", "b", "", "a", " ,c"], str),
    ("merge_uniq", ["a,b", "b", "", "a"], str),
    ("uniq_len", ["a,b", "b", "", " ", "a"], int),
    ("uniq_count", ["a", "b", "", " ", "a"], int),
    ("get_non_empty_len", ["a", "", " ", "b"], int),
    ("get_array_len", ["a", "b", ""], int),
    ("sumint", ["3.7", "2", "-1.2", "10"], int),
    ("minint", ["3.7", "2", "-1.2", "10"], int),
    ("maxint", ["3.7", "2", "-1.2", "10"], int),
    ("get_range_int", ["3.7", "2", "-1.2", "10"], int),
]


def _ref(name, vals):
    out = getattr(udfs, name)(vals)
    return out


@pytest.mark.parametrize("seed", [1, 7, 42])
def test_registry_matches_reference_bodies(spark, seed):
    rng = random.Random(seed)
    rows = []
    expected = {}
    for name, pool, norm in CASES:
        for g in range(4):
            vals = [rng.choice(pool) for _ in range(rng.randint(1, 8))]
            key = f"{name}__{g}"
            rows.extend((key, v) for v in vals)
            if name in ("minint", "maxint"):
                # reference returns str(original extreme element); the
                # typed engine returns the numeric int — compare ints
                expected[key] = int(float(_ref(name, vals)))
            else:
                expected[key] = norm(_ref(name, vals))
    df = OmigoDF(spark.createDataFrame(rows, ["k", "v"]))
    # group key encodes which aggregate to compare, but the frame runs
    # every aggregate over every group in one job; we pick per-group
    agg = df.aggregate(["k"], [ "v" ] * len(CASES),
                       [name for name, _, _ in CASES])
    got_rows = {r["k"]: r for r in agg.df.collect()}
    for key, exp in expected.items():
        name = key.rsplit("__", 1)[0]
        norm = next(n for c, _, n in CASES if c == name)
        got = norm(got_rows[key][f"v:{name}"])
        assert got == exp, (key, got, exp)


def test_minmax_int_aggs_nonfinite_null_not_crash(spark):
    """minint/maxint on NaN/Inf/1e308: the second cast step is try_cast
    now — one corrupt cell must not kill the whole aggregation job."""
    rows = [("g", "1.5"), ("g", "nan"), ("g", "inf"), ("g", "1e308"),
            ("g", "7.2")]
    d = OmigoDF(spark.createDataFrame(rows, "k string, v string"))
    r = d.aggregate(["k"], ["v", "v", "v"],
                    ["minint", "maxint", "get_range_int"]).df.collect()[0]
    assert r["v:minint"] == 1 and r["v:maxint"] == 7
    assert r["v:get_range_int"] == 6
