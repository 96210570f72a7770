"""As-of join: Spark (every physical strategy) vs pandas merge_asof oracle,
<= vs < tie semantics, tolerance, and zero-leakage properties.
"""

import numpy as np
import pandas as pd
import pytest

from amazon_security_lake_transformation_library_spark.operators.asof import (
    asof_join,
    asof_join_directional,
    asof_join_interval,
    latest_per_key,
)
from amazon_security_lake_transformation_library_spark.oracle import pandas_oracle as ora

KEYS = ["conv_id", "turn_idx"]


def _sorted(pdf):
    return pdf.sort_values(KEYS, kind="mergesort").reset_index(drop=True)


def _check(got_pdf, transcripts_pdf, conv_features_pdf, strict, tol=None):
    want = _sorted(
        ora.asof(
            transcripts_pdf, conv_features_pdf, strict=strict, tolerance_seconds=tol
        )
    )
    got = _sorted(got_pdf)
    assert len(got) == len(want)
    np.testing.assert_allclose(
        got["feature_val"].to_numpy(dtype="float64"),
        want["feature_val"].to_numpy(dtype="float64"),
    )
    gt = got["asof_ts"].astype("datetime64[us]")
    wt = want["asof_ts"].astype("datetime64[us]")
    assert (gt.isna() == wt.isna()).all()
    assert (gt.dropna() == wt.dropna()).all()


@pytest.mark.parametrize("strict", [False, True])
def test_asof_union_window_matches_merge_asof(
    spark, transcripts_df, conv_features_df, transcripts_pdf, conv_features_pdf, strict
):
    got = asof_join(
        transcripts_df, conv_features_df, on="conv_id", ts="ts", strict=strict
    ).toPandas()
    _check(got, transcripts_pdf, conv_features_pdf, strict)


@pytest.mark.parametrize("strict", [False, True])
def test_asof_range_fallback_matches(
    spark, transcripts_df, conv_features_df, transcripts_pdf, conv_features_pdf, strict
):
    # the interval form (build rows -> [ts, next_ts) validity intervals)
    # replaced the range-join fallback; same merge_asof check, both ties
    got = asof_join_interval(
        transcripts_df,
        conv_features_df,
        on="conv_id",
        ts="ts",
        build_cols=["feature_val"],
        strict=strict,
    ).toPandas()
    _check(got, transcripts_pdf, conv_features_pdf, strict)


def test_asof_tolerance(
    spark, transcripts_df, conv_features_df, transcripts_pdf, conv_features_pdf
):
    got = asof_join(
        transcripts_df, conv_features_df, tolerance_seconds=600.0
    ).toPandas()
    _check(got, transcripts_pdf, conv_features_pdf, strict=False, tol=600.0)


def test_zero_leakage_prefix_property(
    spark, transcripts_df, conv_features_df, transcripts_pdf, conv_features_pdf
):
    """Features computed with the build side truncated to ts <= T equal the
    full-build result for every probe with ts <= T — no feature reads a
    build row with ts' > probe ts."""
    cuts = conv_features_pdf["ts"].quantile([0.25, 0.6, 0.9]).tolist()
    full = asof_join(transcripts_df, conv_features_df).toPandas()
    for T in cuts:
        trunc = conv_features_df.filter(conv_features_df.ts <= pd.Timestamp(T))
        got = asof_join(transcripts_df.filter(transcripts_df.ts <= pd.Timestamp(T)), trunc).toPandas()
        want = full[full["ts"] <= T]
        g, w = _sorted(got), _sorted(want)
        np.testing.assert_allclose(
            g["feature_val"].to_numpy(dtype="float64"),
            w["feature_val"].to_numpy(dtype="float64"),
        )


def test_leakage_mutation_audit(
    spark, transcripts_df, conv_features_pdf, transcripts_pdf
):
    """Mutating every build row with ts > T must not change any feature for
    probes at ts <= T."""
    T = conv_features_pdf["ts"].quantile(0.5)
    mutated = conv_features_pdf.copy()
    mask = mutated["ts"] > T
    mutated.loc[mask, "feature_val"] = -9999.0
    base = ora.asof(transcripts_pdf, conv_features_pdf)
    got = asof_join(
        transcripts_df, transcripts_df.sparkSession.createDataFrame(mutated)
    ).toPandas()
    g = _sorted(got[got["ts"] <= T])
    w = _sorted(base[base["ts"] <= T])
    np.testing.assert_allclose(
        g["feature_val"].to_numpy(dtype="float64"),
        w["feature_val"].to_numpy(dtype="float64"),
    )


def test_latest_per_key_dedupe(spark):
    pdf = pd.DataFrame(
        {
            "k": ["a", "a", "a", "b"],
            "ts": pd.to_datetime(["2024-01-01", "2024-01-01", "2024-01-02", "2024-01-01"]),
            "seq": [1, 2, 1, 1],
            "v": [10.0, 20.0, 30.0, 40.0],
        }
    )
    df = spark.createDataFrame(pdf)
    out = latest_per_key(df, ["k", "ts"], ["seq"], ["v"]).toPandas()
    out = out.sort_values(["k", "ts"]).reset_index(drop=True)
    assert out["v"].tolist() == [20.0, 30.0, 40.0]


# ---- directional (forward / nearest) — pandas merge_asof parity ----


def _check_dir(got_pdf, transcripts_pdf, conv_features_pdf, direction,
               strict=False, tol=None):
    want = _sorted(
        ora.asof(transcripts_pdf, conv_features_pdf, strict=strict,
                 tolerance_seconds=tol, direction=direction)
    )
    got = _sorted(got_pdf)
    assert len(got) == len(want)
    np.testing.assert_allclose(
        got["feature_val"].to_numpy(dtype="float64"),
        want["feature_val"].to_numpy(dtype="float64"),
    )
    gt = got["asof_ts"].astype("datetime64[us]")
    wt = want["asof_ts"].astype("datetime64[us]")
    assert (gt.isna() == wt.isna()).all()
    assert (gt.dropna() == wt.dropna()).all()


@pytest.mark.parametrize(
    "direction,strict",
    [("backward", False), ("backward", True),
     ("forward", False), ("forward", True), ("nearest", False)],
)
def test_asof_directional_matches_merge_asof(
    spark, transcripts_df, conv_features_df, transcripts_pdf,
    conv_features_pdf, direction, strict
):
    got = asof_join_directional(
        transcripts_df, conv_features_df, on="conv_id", ts="ts",
        direction=direction, strict=strict,
    ).toPandas()
    _check_dir(got, transcripts_pdf, conv_features_pdf, direction, strict)


@pytest.mark.parametrize("direction", ["forward", "nearest"])
def test_asof_directional_tolerance(
    spark, transcripts_df, conv_features_df, transcripts_pdf,
    conv_features_pdf, direction
):
    got = asof_join_directional(
        transcripts_df, conv_features_df, direction=direction,
        tolerance_seconds=600.0,
    ).toPandas()
    _check_dir(got, transcripts_pdf, conv_features_pdf, direction, tol=600.0)


def test_asof_nearest_tie_resolves_backward(spark):
    """Exact-distance ties take the EARLIER build row (the leakage-safe
    side; pandas merge_asof agrees)."""
    probe = pd.DataFrame({
        "conv_id": ["c1"], "turn_idx": [0],
        "ts": pd.to_datetime(["2024-01-01 00:10:00"]),
    })
    build = pd.DataFrame({
        "conv_id": ["c1", "c1"],
        "ts": pd.to_datetime(["2024-01-01 00:05:00", "2024-01-01 00:15:00"]),
        "feature_val": [1.0, 2.0],
    })
    out = asof_join_directional(
        spark.createDataFrame(probe), spark.createDataFrame(build),
        direction="nearest",
    ).toPandas()
    assert out["feature_val"].tolist() == [1.0]


def test_asof_nearest_equal_ts_wins_at_distance_zero(spark):
    """An equal-ts build row matches at distance 0 in nearest mode even
    though the forward frame only sees strictly-later rows."""
    probe = pd.DataFrame({
        "conv_id": ["c1"], "turn_idx": [0],
        "ts": pd.to_datetime(["2024-01-01 00:10:00"]),
    })
    build = pd.DataFrame({
        "conv_id": ["c1", "c1"],
        "ts": pd.to_datetime(["2024-01-01 00:10:00", "2024-01-01 00:11:00"]),
        "feature_val": [5.0, 9.0],
    })
    out = asof_join_directional(
        spark.createDataFrame(probe), spark.createDataFrame(build),
        direction="nearest",
    ).toPandas()
    assert out["feature_val"].tolist() == [5.0]


def test_asof_directional_rejects_bad_args(spark, transcripts_df, conv_features_df):
    with pytest.raises(ValueError):
        asof_join_directional(transcripts_df, conv_features_df,
                              direction="sideways")
    with pytest.raises(ValueError):
        asof_join_directional(transcripts_df, conv_features_df,
                              direction="nearest", strict=True)


def test_directional_plan_single_exchange_sort(spark, transcripts_df, conv_features_df):
    """nearest evaluates BOTH frames but still plans over ONE Exchange +
    ONE Sort (the frames share the window partitioning/ordering)."""
    df = asof_join_directional(
        transcripts_df, conv_features_df, direction="nearest"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_sort = sum(
        1 for ln in plan.splitlines() if ln.lstrip("+-* :").startswith("Sort ")
    )
    assert n_sort == 1
    assert plan.count("Exchange") <= 1
