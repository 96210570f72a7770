"""Tests for the KMV distinct-count sketch (sketch.py) and the CDC
merge/upsert operator (merge.py)."""

from __future__ import annotations

import hashlib

import pandas as pd
import pytest

from pyspark.sql import functions as F

from amazon_security_lake_transformation_library_spark.operators import merge as mg
from amazon_security_lake_transformation_library_spark.operators import sketch as sk


def _frac(v) -> float:
    h = hashlib.md5(str(v).encode()).hexdigest()
    return sum(int(c, 16) * 16.0 ** -(i + 1) for i, c in enumerate(h[:8]))


# ------------------------------------------------------------------ sketch

def test_kmv_exact_regime_below_k(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"g": ["a"] * 100, "v": [i % 10 for i in range(100)]})
    )
    out = sk.kmv_distinct(df, "g", "v", k=64).toPandas()
    assert len(out) == 1
    assert out.loc[0, "n_candidates"] == 10
    assert out.loc[0, "estimate"] == 10.0  # all hashes kept -> exact


def test_kmv_matches_python_order_statistic(spark):
    vals = list(range(500))
    df = spark.createDataFrame(
        pd.DataFrame({"g": ["x"] * 500, "v": vals})
    )
    k = 32
    out = sk.kmv_distinct(df, "g", "v", k=k).toPandas().iloc[0]
    hk = sorted(_frac(v) for v in set(vals))[k - 1]
    assert out["n_candidates"] == k
    assert out["estimate"] == pytest.approx(round((k - 1) / hk, 4))


def test_kmv_partition_invariant(spark):
    pdf = pd.DataFrame(
        {"g": [f"g{i % 3}" for i in range(900)], "v": [i % 200 for i in range(900)]}
    )
    df = spark.createDataFrame(pdf)
    a = (
        sk.kmv_distinct(df.repartition(1), "g", "v", k=16)
        .toPandas().sort_values("g").reset_index(drop=True)
    )
    b = (
        sk.kmv_distinct(df.repartition(13), "g", "v", k=16)
        .toPandas().sort_values("g").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)


def test_kmv_accuracy_within_bound(spark):
    # n=2000 distinct, k=64 -> relative stderr ~ 1/sqrt(k-2) ~ 12.7%;
    # 4 sigma gives a deterministic-but-loose acceptance band.
    df = spark.createDataFrame(pd.DataFrame({"g": ["u"] * 2000, "v": range(2000)}))
    est = sk.kmv_distinct(df, "g", "v", k=64).toPandas().loc[0, "estimate"]
    assert 2000 * 0.5 < est < 2000 * 1.5


def test_kmv_nulls_sort_last_like_the_oracle(spark):
    """NULL user_ids: a NULL arriving first in a partition must not push
    a real fraction out of the k-min set (the estimate equals the
    NULL-free one), and in the exact regime the NULL counts as one more
    candidate (5 values plus NULLs give 6) — both as the DuckDB oracle,
    which orders NULLS LAST."""
    import duckdb

    import __spark_entry__ as entrymod

    users = [None] + list(range(200)) + [1, None, 2, 3, None, 4, 5, 1]
    types = ["big"] * 201 + ["small"] * 8
    events = pd.DataFrame(
        {"event_type": types, "user_id": pd.array(users, dtype="Int64")}
    )
    df = spark.createDataFrame(
        list(zip(types, users)), "event_type string, user_id long"
    ).coalesce(1)
    got = {
        r["event_type"]: (r["n_candidates"], r["estimate"])
        for r in sk.kmv_distinct(df, "event_type", "user_id", k=64).collect()
    }
    hk = sorted(_frac(v) for v in range(200))[63]
    assert got["big"] == (64, round(63 / hk, 4))
    assert got["small"] == (6, 6.0)
    con = duckdb.connect()
    con.register("events", events)
    oracle = con.sql(entrymod.oracle_sql()["kmv_distinct_users"]).fetchall()
    assert got == {g: (n, est) for g, n, est in oracle}


def test_kmv_merges_rank_null_last(spark):
    """The synopsis merges re-rank NULL last as well: a NULL kept by an
    unsaturated side (or bucket) must not take rank 1 of the saturated
    union."""
    import datetime as dt

    from amazon_security_lake_transformation_library_spark.operators import (
        behavior as bhv,
    )

    k = 16
    union_est = round((k - 1) / sorted(_frac(v) for v in range(20))[k - 1], 4)
    a = spark.createDataFrame([(None,)] + [(i,) for i in range(10)], "v long")
    b = spark.createDataFrame([(None,)] + [(i,) for i in range(10, 20)], "v long")
    assert sk.kmv_set_overlap(a, b, "v", k=k).collect()[0]["est_union"] == union_est

    t0 = dt.datetime(2024, 1, 1)
    rows = [(None, t0)] + [(u, t0 + dt.timedelta(hours=u // 10)) for u in range(20)]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = bhv.rolling_distinct_kmv(ev, "user_id", "ts", 3600, 2, k=k).collect()
    assert max(r["estimate"] for r in out) == union_est


def test_hash_frac_range(spark):
    df = spark.range(0, 1000).select(sk.hash_frac(F.col("id")).alias("f"))
    row = df.agg(F.min("f"), F.max("f")).first()
    assert 0.0 <= row[0] and row[1] < 1.0


# ------------------------------------------------------------------- merge

@pytest.fixture()
def base_df(spark):
    return spark.createDataFrame(
        pd.DataFrame(
            {"k": [1, 2, 3, 4], "val": ["a", "b", "c", "d"]}
        )
    )


def test_merge_update_insert_delete(spark, base_df):
    upd = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": [2, 5, 3],
                "val": ["B", "E", "ignored"],
                "deleted": [False, False, True],
            }
        )
    )
    out = (
        mg.merge_upsert(base_df, upd, "k", deleted_col="deleted")
        .toPandas().sort_values("k").reset_index(drop=True)
    )
    assert list(out["k"]) == [1, 2, 4, 5]       # 3 deleted, 5 inserted
    assert dict(zip(out["k"], out["val"])) == {1: "a", 2: "B", 4: "d", 5: "E"}


def test_merge_without_delete_col(spark, base_df):
    upd = spark.createDataFrame(pd.DataFrame({"k": [1], "val": ["A"]}))
    out = mg.merge_upsert(base_df, upd, "k").toPandas().sort_values("k")
    assert dict(zip(out["k"], out["val"])) == {1: "A", 2: "b", 3: "c", 4: "d"}


def test_merge_broadcasts_update_keys(spark, base_df):
    upd = spark.createDataFrame(pd.DataFrame({"k": [1], "val": ["A"]}))
    plan = base_df._sc._jvm.PythonSQLUtils.explainString(
        mg.merge_upsert(base_df, upd, "k")._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" in plan, plan


# ----------------------------------------------------------- heavy hitters

def _zipf_rows(n_keys: int, scale: int, seed: int) -> list[tuple[str]]:
    """Deterministic zipf-ish multiset: key i appears ~ scale/i times,
    shuffled so partition boundaries mix hot and cold keys."""
    import random

    rows = []
    for i in range(1, n_keys + 1):
        rows += [(f"k{i:04d}",)] * max(1, scale // i)
    random.Random(seed).shuffle(rows)
    return rows


def _exact_hitters(rows, min_frac):
    import math
    from collections import Counter

    t = max(1, math.ceil(min_frac * len(rows)))
    c = Counter(r[0] for r in rows if r[0] is not None)
    return {(k, v) for k, v in c.items() if v >= t}


@pytest.mark.parametrize("min_frac", [0.05, 0.01, 0.004])
def test_heavy_hitters_exact_vs_naive(spark, min_frac):
    rows = _zipf_rows(150, 600, seed=11)
    df = spark.createDataFrame(rows, "conv_id string")
    got = {(r[0], r[1])
           for r in sk.heavy_hitters(df, "conv_id", min_frac).collect()}
    assert got == _exact_hitters(rows, min_frac)


@pytest.mark.parametrize("parts", [1, 3, 17])
def test_heavy_hitters_partitioning_invariant(spark, parts):
    # the MG candidate SET may vary with partitioning; the exact output
    # must not — the sketch proposes, the exact count disposes
    rows = _zipf_rows(80, 400, seed=5)
    df = spark.createDataFrame(rows, "conv_id string").repartition(parts)
    got = {(r[0], r[1])
           for r in sk.heavy_hitters(df, "conv_id", 0.02).collect()}
    assert got == _exact_hitters(rows, 0.02)


def test_heavy_hitters_abs_exact_at_threshold(spark):
    # a key with EXACTLY min_count rows must be returned (no fraction
    # round-trip ulp): 7 keys x 100 rows each, min_count=100
    rows = [(f"k{i}",) for i in range(7) for _ in range(100)]
    df = spark.createDataFrame(rows, "conv_id string").repartition(5)
    got = sk.heavy_hitters_abs(df, "conv_id", 100).collect()
    assert sorted((r[0], r[1]) for r in got) == [
        (f"k{i}", 100) for i in range(7)
    ]
    assert sk.heavy_hitters_abs(df, "conv_id", 101).count() == 0


def test_heavy_hitters_nulls_count_toward_n_but_never_hit(spark):
    rows = [("a",)] * 50 + [(None,)] * 150
    df = spark.createDataFrame(rows, "conv_id string")
    # N=200: 'a' at 25% clears frac=0.25 but not 0.26
    assert [(r[0], r[1])
            for r in sk.heavy_hitters(df, "conv_id", 0.25).collect()] == [
        ("a", 50)
    ]
    assert sk.heavy_hitters(df, "conv_id", 0.26).count() == 0


def test_mg_candidates_bounded_output(spark):
    # adversarial near-uniform input: the MERGED summary never exceeds k
    # keys even when distinct >> k and partitions each saturate their
    # local sketch (global merge rule, Mergeable Summaries Thm 1)
    parts = 4
    rows = [(f"k{i}",) for i in range(5000)]
    df = spark.createDataFrame(rows, "conv_id string").repartition(parts)
    k = 10
    assert sk.mg_candidates(df, "conv_id", k).count() <= k


def test_mg_candidates_superset_of_heavy_keys(spark):
    # merged-summary guarantee: every key with global count > N/(k+1)
    # appears among the candidates, under any partitioning
    rows = _zipf_rows(120, 900, seed=7)
    n = len(rows)
    k = 25
    counts: dict = {}
    for (key,) in rows:
        counts[key] = counts.get(key, 0) + 1
    heavy = {key for key, c in counts.items() if c > n / (k + 1)}
    assert heavy  # the fixture must actually exercise the property
    for parts in (1, 3, 17):
        df = spark.createDataFrame(rows, "conv_id string").repartition(parts)
        cands = {r[0] for r in sk.mg_candidates(df, "conv_id", k).collect()}
        assert heavy <= cands, parts
        assert len(cands) <= k


def test_heavy_hitters_rejects_bad_args(spark):
    df = spark.createDataFrame([("a",)], "conv_id string")
    with pytest.raises(ValueError):
        sk.heavy_hitters(df, "conv_id", 0.0)
    with pytest.raises(ValueError):
        sk.heavy_hitters(df, "conv_id", 1.5)
    with pytest.raises(ValueError):
        sk.heavy_hitters_abs(df, "conv_id", 0)


def test_heavy_hitters_abs_refuses_ballooning_k(spark):
    rows = [(f"k{i}",) for i in range(1000)]
    df = spark.createDataFrame(rows, "conv_id string")
    with pytest.raises(ValueError, match="max_k"):
        sk.heavy_hitters_abs(df, "conv_id", 2, max_k=100)
