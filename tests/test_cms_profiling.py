"""Count-min sketch (operators/sketch.py) + key-skew profiler and
per-group IQR (operators/profiling.py).

CMS: overestimate-only guarantee, exactness at collision-free width,
mergeability (union+re-sum of two disjoint halves == one build over the
whole), and partitioning invariance. Profiler: closed-form expectations
on a constructed distribution, plus the single-key edge.
"""

import math

import pytest
from pyspark.sql import functions as F

from amazon_security_lake_transformation_library_spark.operators import profiling as prof
from amazon_security_lake_transformation_library_spark.operators import sketch as sk


@pytest.fixture(scope="module")
def vals_df(spark):
    # value v repeated v times, v in 1..30 (465 rows, known frequencies)
    rows = [(v,) for v in range(1, 31) for _ in range(v)]
    return spark.createDataFrame(rows, ["x"]).repartition(7)


def _estimates(counters, df, depth, width):
    probes = df.select("x").distinct()
    return {
        r.x: r.est
        for r in sk.cms_estimate(
            counters, probes, "x", depth=depth, width=width
        ).collect()
    }


def test_cms_overestimates_and_exact_at_wide_width(spark, vals_df):
    # narrow width -> collisions allowed but never underestimates
    narrow = sk.cms_build(vals_df, "x", depth=3, width=8)
    for v, est in _estimates(narrow, vals_df, 3, 8).items():
        assert est >= v, v
    # collision-free regime: 30 values, width 4096 -> est == exact
    wide = sk.cms_build(vals_df, "x", depth=4, width=4096)
    for v, est in _estimates(wide, vals_df, 4, 4096).items():
        assert est == v, v


def test_cms_merge_equals_full_build(spark, vals_df):
    a = vals_df.where(F.col("x") <= 15)
    b = vals_df.where(F.col("x") > 15)
    merged = (
        sk.cms_build(a, "x", depth=3, width=32)
        .unionByName(sk.cms_build(b, "x", depth=3, width=32))
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    full = sk.cms_build(vals_df, "x", depth=3, width=32)
    assert _estimates(merged, vals_df, 3, 32) == _estimates(
        full, vals_df, 3, 32
    )


def test_cms_partitioning_invariant(spark, vals_df):
    one = sk.cms_build(vals_df.coalesce(1), "x", depth=3, width=16)
    many = sk.cms_build(vals_df.repartition(13), "x", depth=3, width=16)
    assert sorted(map(tuple, one.collect())) == sorted(
        map(tuple, many.collect())
    )


def test_cms_unseen_value_estimate_lower_bound(spark, vals_df):
    counters = sk.cms_build(vals_df, "x", depth=4, width=4096)
    probes = spark.createDataFrame([(999999,)], ["x"])
    est = sk.cms_estimate(counters, probes, "x", depth=4, width=4096).collect()
    assert est[0].est == 0  # collision-free -> unseen value reads 0


def test_key_skew_profile_closed_form(spark):
    # key 'a' x 8, 'b' x 1, 'c' x 1 -> N=10, K=3
    rows = [("a",)] * 8 + [("b",)] + [("c",)]
    df = spark.createDataFrame(rows, ["k"]).repartition(4)
    r = prof.key_skew_profile(df, "k", top_n=1).collect()[0]
    assert (r.n_rows, r.n_keys, r.max_key_rows) == (10, 3, 8)
    assert r.top_share == pytest.approx(0.8)
    assert r.median_key_rows == pytest.approx(1.0)
    counts = [8, 1, 1]
    mean = sum(counts) / 3
    sd = math.sqrt(sum((c - mean) ** 2 for c in counts) / 3)
    assert r.cv == pytest.approx(round(sd / mean, 4))
    h = -sum(c / 10 * math.log2(c / 10) for c in counts)
    assert r.entropy_norm == pytest.approx(round(h / math.log2(3), 4))


def test_key_skew_profile_single_key(spark):
    df = spark.createDataFrame([("only",)] * 5, ["k"])
    r = prof.key_skew_profile(df, "k").collect()[0]
    assert (r.n_rows, r.n_keys, r.max_key_rows) == (5, 1, 5)
    assert r.top_share == pytest.approx(1.0)
    assert r.cv == pytest.approx(0.0)
    assert r.entropy_norm is None  # balance undefined for one key


def test_iqr_all_null_group_is_null(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0), ("b", None)],
        "g string, v double",
    )
    got = {r["g"]: r["iqr_value"] for r in prof.iqr_by_group(df, "v", "g").collect()}
    assert got["a"] == 1.5  # percentile_cont([1,2,3,4]): 3.25 - 1.75
    assert got["b"] is None
