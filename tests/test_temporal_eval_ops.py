"""Round-5 temporal-feature + evaluation operators: regular-grid
resample+ffill, cyclic calendar features, rolling correlation, CUSUM
drift (closed-form vs the sequential recurrence), char entropy, ROC-AUC
(vs an independent O(n^2) pair count), calibration bins."""

import datetime as dt
import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from amazon_security_lake_transformation_library_spark.operators import evalx
from amazon_security_lake_transformation_library_spark.operators import features as feat
from amazon_security_lake_transformation_library_spark.operators import textstats as ts_ops

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _series_df(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["ent", "ts", "eid", "v"])
    )


# --------------------------------------------------------------- resample

def test_resample_ffill_grid_and_asof(spark):
    rows = [
        # entity a: obs at 00:10, 01:30, 02:00 (exactly on a boundary)
        ("a", T0 + dt.timedelta(minutes=10), 1, 1.0),
        ("a", T0 + dt.timedelta(minutes=90), 2, 2.0),
        ("a", T0 + dt.timedelta(hours=2), 3, 3.0),
        # entity b: span shorter than one step -> no aligned instant
        ("b", T0 + dt.timedelta(minutes=61), 4, 9.0),
        ("b", T0 + dt.timedelta(minutes=80), 5, 10.0),
    ]
    out = feat.resample_ffill(
        _series_df(spark, rows), "ent", "ts", ["v"],
        step_seconds=3600, tiebreak="eid",
    )
    got = {
        (r["ent"], r["grid_ts"]): r["v"] for r in out.collect()
    }
    # a: grid at 01:00 (ffill from 00:10) and 02:00 (the on-boundary obs
    # itself is visible at its own instant)
    assert got == {
        ("a", T0 + dt.timedelta(hours=1)): 1.0,
        ("a", T0 + dt.timedelta(hours=2)): 3.0,
    }


def test_resample_ffill_duplicate_ts_tiebreak(spark):
    rows = [
        ("a", T0, 1, 1.0),
        ("a", T0 + dt.timedelta(minutes=30), 2, 5.0),
        ("a", T0 + dt.timedelta(minutes=30), 3, 7.0),  # same instant, later id
        ("a", T0 + dt.timedelta(hours=1), 4, 8.0),
    ]
    out = feat.resample_ffill(
        _series_df(spark, rows).where(F.col("eid") != 4),
        "ent", "ts", ["v"], step_seconds=3600, tiebreak="eid",
    )
    # only grid point inside the span is 00:00; add a wider case: grid at
    # 00:00 sees obs eid=1 (at the boundary)
    vals = {r["grid_ts"]: r["v"] for r in out.collect()}
    assert vals[T0] == 1.0
    out2 = feat.resample_ffill(
        _series_df(spark, rows), "ent", "ts", ["v"],
        step_seconds=3600, tiebreak="eid",
    )
    vals2 = {r["grid_ts"]: r["v"] for r in out2.collect()}
    # at 01:00 the last obs at-or-before is eid=4; dropping it, the two
    # duplicate-instant rows resolve by id -> eid=3 wins
    assert vals2[T0 + dt.timedelta(hours=1)] == 8.0
    null_row = spark.createDataFrame(
        [("a", T0 + dt.timedelta(hours=1), 9)],
        "ent string, ts timestamp, eid bigint",
    ).withColumn("v", F.lit(None).cast("double"))
    out3 = feat.resample_ffill(
        _series_df(spark, rows).where(F.col("eid") != 4).unionByName(null_row),
        "ent", "ts", ["v"], step_seconds=3600, tiebreak="eid",
    )
    vals3 = {r["grid_ts"]: r["v"] for r in out3.collect()}
    # NULL obs at the boundary does not clobber the ffill (ignorenulls)
    assert vals3[T0 + dt.timedelta(hours=1)] == 7.0


# ----------------------------------------------------------------- calendar

def test_calendar_features_values(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"ts": [dt.datetime(2024, 1, 1, 6, 0, 0)]})  # a Monday
    )
    r = feat.calendar_features(df, "ts").collect()[0]
    assert r["cal_hour"] == 6 and r["cal_dow"] == 0
    assert r["cal_dom"] == 1 and r["cal_month"] == 1
    assert r["cal_hour_sin"] == 1.0  # sin(2*pi*6/24) = sin(pi/2)
    assert abs(r["cal_hour_cos"]) == 0.0 and str(r["cal_hour_cos"])[0] != "-"
    assert r["cal_dow_sin"] == 0.0 and r["cal_dow_cos"] == 1.0
    assert r["cal_month_sin"] == 0.0 and r["cal_month_cos"] == 1.0


# ------------------------------------------------------------- rolling corr

def test_rolling_corr_matches_pandas(spark):
    rng = np.random.RandomState(7)
    n = 80
    pdf = pd.DataFrame({
        "ent": ["a"] * n,
        "ts": [T0 + dt.timedelta(minutes=i) for i in range(n)],
        "eid": range(n),
        "x": rng.randn(n).round(3),
        "y": rng.randn(n).round(3),
    })
    pdf["y"] = (0.5 * pdf["x"] + pdf["y"]).round(3)
    df = spark.createDataFrame(pdf)
    out = (
        feat.rolling_corr(df, "ent", "ts", "x", "y",
                          n_preceding=10, min_periods=5, tiebreak="eid")
        .orderBy("eid").select("roll_corr").toPandas()["roll_corr"]
    )
    expected = pdf["x"].rolling(11, min_periods=5).corr(pdf["y"])
    for i in range(n):
        e = expected.iloc[i]
        g = out.iloc[i]
        if i < 4:
            assert g is None or (isinstance(g, float) and np.isnan(g)) or g != g
        else:
            assert g == pytest.approx(round(e, 4), abs=2e-4), i


# ------------------------------------------------------------------- CUSUM

def test_cusum_closed_form_equals_recurrence(spark):
    rng = np.random.RandomState(11)
    vals = np.concatenate([rng.normal(50, 5, 60), rng.normal(70, 5, 40)])
    pdf = pd.DataFrame({
        "ent": ["u"] * 100,
        "ts": [T0 + dt.timedelta(minutes=i) for i in range(100)],
        "eid": range(100),
        "v": vals.round(3),
    })
    out = (
        feat.cusum_drift(
            spark.createDataFrame(pdf), "ent", "ts", "v",
            target=50.0, slack=2.0, threshold=100.0, tiebreak="eid",
        )
        .orderBy("eid").select("cusum", "drift_alarm").collect()
    )
    s = 0.0
    fired = False
    for i, r in enumerate(out):
        s = max(0.0, s + (pdf["v"].iloc[i] - 52.0))
        assert r["cusum"] == pytest.approx(round(s, 4), abs=1e-6), i
        assert r["drift_alarm"] == (round(s, 4) > 100.0)
        fired = fired or r["drift_alarm"]
    assert fired  # the level shift must raise an alarm


# ------------------------------------------------------------ char entropy

def test_char_entropy_values(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 4],
                      "text": ["aaaa", "abab", "abcd", ""]})
    )
    got = {
        r["doc_id"]: r["h"]
        for r in df.select(
            "doc_id",
            F.round(ts_ops.char_entropy(F.col("text")), 6).alias("h"),
        ).collect()
    }
    assert got[1] == 0.0
    assert got[2] == pytest.approx(1.0, abs=1e-9)
    assert got[3] == pytest.approx(2.0, abs=1e-9)
    assert got[4] is None


def test_char_entropy_backends_agree(spark):
    """Arrow batch-flattened backend == Catalyst lambda-fold backend,
    bit-for-bit at 9 dp, across unicode, runs, NULL, empty, and a
    long mixed doc (both are float64 on the same formula; only the
    summation grouping differs)."""
    texts = [
        "aaaa", "abab", "abcd", "", None, "αβγδε αβγ", "日本語テキスト処理",
        "the quick brown fox jumps over the lazy dog 0123456789" * 40,
        "x", "  \t\n ", "mixed ASCII und Ümläute — plus €¥₹",
    ]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )
    rows = df.select(
        "doc_id",
        F.round(ts_ops.char_entropy(F.col("text")), 9).alias("h_sql"),
        F.round(ts_ops.char_entropy_arrow(F.col("text")), 9).alias("h_arrow"),
    ).collect()
    for r in rows:
        assert r["h_sql"] == r["h_arrow"], (r["doc_id"], r["h_sql"], r["h_arrow"])


def test_entropy_gate_routes_rejects(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2],
                      "text": ["aaaaaaaa", "the quick brown fox 0123"]})
    )
    rows = {r["doc_id"]: r for r in
            ts_ops.entropy_gate(df, min_bits=1.0, max_bits=6.0).collect()}
    assert rows[1]["keep"] is False and rows[1]["reject_reason"] == "low_entropy"
    assert rows[2]["keep"] is True and rows[2]["reject_reason"] is None


# ---------------------------------------------------------------- ROC-AUC

def _auc_pairs(y, s):
    """O(n^2) reference: P(score_pos > score_neg) + 0.5 P(tie)."""
    pos = [si for yi, si in zip(y, s) if yi == 1]
    neg = [si for yi, si in zip(y, s) if yi == 0]
    wins = sum(1.0 for p in pos for q in neg if p > q)
    ties = sum(1.0 for p in pos for q in neg if p == q)
    return (wins + 0.5 * ties) / (len(pos) * len(neg))


def test_roc_auc_matches_pair_count_with_ties(spark):
    rng = np.random.RandomState(3)
    y = rng.randint(0, 2, 200)
    s = np.round(rng.rand(200) + 0.3 * y, 1)  # coarse scores -> many ties
    df = spark.createDataFrame(pd.DataFrame({"y": y, "s": s}))
    got = evalx.roc_auc(df, "y", "s").collect()[0]
    assert got["auc"] == pytest.approx(round(_auc_pairs(y, s), 4), abs=1e-9)
    assert got["n_pos"] == int(y.sum())
    assert got["n_neg"] == int((1 - y).sum())


def test_roc_auc_degenerate_group_is_null(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"g": ["a", "a", "b", "b"],
                      "y": [1, 0, 1, 1], "s": [0.9, 0.1, 0.5, 0.6]})
    )
    rows = {r["g"]: r for r in evalx.roc_auc(df, "y", "s", by=["g"]).collect()}
    assert rows["a"]["auc"] == 1.0
    assert rows["b"]["auc"] is None  # no negatives -> undefined, not 0.5


def test_roc_auc_perfect_and_inverted(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"y": [0, 0, 1, 1], "s": [0.1, 0.2, 0.8, 0.9]})
    )
    assert evalx.roc_auc(df, "y", "s").collect()[0]["auc"] == 1.0
    df2 = df.withColumn("s", 1 - F.col("s"))
    assert evalx.roc_auc(df2, "y", "s").collect()[0]["auc"] == 0.0


# ------------------------------------------------------------- calibration

def test_calibration_bins_edges(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"y": [1, 0, 1, 0], "s": [0.0, 0.05, 0.95, 1.0]})
    )
    rows = {r["bin"]: r for r in
            evalx.calibration_bins(df, "y", "s", n_bins=10).collect()}
    assert set(rows) == {0, 9}
    assert rows[0]["n"] == 2 and rows[0]["pos_rate"] == 0.5
    assert rows[9]["n"] == 2  # score exactly 1.0 folds into the top bin
    assert rows[9]["mean_score"] == pytest.approx(0.975)


# ------------------------------------------------------- rolling OLS slope

def test_rolling_slope_exact_linear_series(spark):
    # y = 3*t_hours + noise-free  -> slope per hour == 3 everywhere
    n = 30
    pdf = pd.DataFrame({
        "ent": ["a"] * n,
        "ts": [T0 + dt.timedelta(minutes=10 * i) for i in range(n)],
        "eid": range(n),
        "v": [3.0 * (10 * i) / 60.0 for i in range(n)],
    })
    out = (
        feat.rolling_slope(spark.createDataFrame(pdf), "ent", "ts", "v",
                           n_preceding=10, min_periods=3, tiebreak="eid")
        .orderBy("eid").select("roll_slope").collect()
    )
    for i, r in enumerate(out):
        if i < 2:
            assert r["roll_slope"] is None
        else:
            assert r["roll_slope"] == pytest.approx(3.0, abs=1e-6), i


def test_rolling_slope_matches_numpy_polyfit(spark):
    rng = np.random.RandomState(9)
    n = 40
    ts = [T0 + dt.timedelta(seconds=int(x)) for x in
          np.cumsum(rng.randint(30, 600, n))]
    v = rng.randn(n).round(3) * 10
    pdf = pd.DataFrame({"ent": ["a"] * n, "ts": ts, "eid": range(n), "v": v})
    out = (
        feat.rolling_slope(spark.createDataFrame(pdf), "ent", "ts", "v",
                           n_preceding=7, min_periods=4, tiebreak="eid")
        .orderBy("eid").select("roll_slope").collect()
    )
    xs = np.array([t.timestamp() for t in ts])
    for i in range(5, n):
        lo = max(0, i - 7)
        beta = np.polyfit(xs[lo:i + 1], v[lo:i + 1], 1)[0] * 3600.0
        assert out[i]["roll_slope"] == pytest.approx(beta, abs=2e-3), i


# ------------------------------------------------------ quantile binning

def test_quantile_bin_train_only_fit(spark):
    from amazon_security_lake_transformation_library_spark.operators import encoders as enc
    # train values 1..100; test values shifted way up -> all land in top bin
    pdf = pd.DataFrame({
        "split": ["train"] * 100 + ["test"] * 10,
        "v": list(range(1, 101)) + [1000] * 10,
        "rid": range(110),
    })
    out = enc.quantile_bin_encode(
        spark.createDataFrame(pdf), "v", "split", n_bins=4
    )
    rows = {r["rid"]: r["qbin"] for r in out.collect()}
    # quartile boundaries of 1..100 ~ (25.75, 50.5, 75.25)
    assert rows[0] == 0 and rows[30] == 1 and rows[55] == 2 and rows[99] == 3
    assert all(rows[100 + i] == 3 for i in range(10))
    # train bins are (near-)equal frequency
    from collections import Counter
    c = Counter(rows[i] for i in range(100))
    assert all(20 <= c[b] <= 30 for b in range(4))


# -------------------------------------------------------------- KS drift

def test_ks_drift_matches_scipy_style_reference(spark):
    from amazon_security_lake_transformation_library_spark.operators import curation as cur
    rng = np.random.RandomState(4)
    a = rng.normal(0, 1, 400).round(2)
    b = rng.normal(0.6, 1, 300).round(2)   # shifted -> detectable KS
    c = rng.normal(0, 1, 300).round(2)     # same dist -> small KS
    pdf = pd.DataFrame({
        "split": ["train"] * 400 + ["val"] * 300 + ["test"] * 300,
        "v": np.concatenate([a, b, c]),
    })
    out = {r["split"]: r["ks"] for r in
           cur.ks_drift(spark.createDataFrame(pdf), "split", "v",
                        base_split="train").collect()}

    def ks_ref(x, y):
        grid = np.union1d(x, y)
        fx = np.searchsorted(np.sort(x), grid, side="right") / len(x)
        fy = np.searchsorted(np.sort(y), grid, side="right") / len(y)
        return np.max(np.abs(fx - fy))

    assert out["val"] == pytest.approx(round(ks_ref(a, b), 4), abs=1e-9)
    assert out["test"] == pytest.approx(round(ks_ref(a, c), 4), abs=1e-9)
    assert out["val"] > out["test"]
