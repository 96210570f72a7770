"""Feature-parity tests (SURVEY.md §5.2 item 3): Spark window features vs
the pure-pandas oracle — allclose per (conv_id, turn_idx, ts), text
byte-equal under stable (conv_id, turn_idx) ordering.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from amazon_security_lake_transformation_library_spark.operators.features import (
    build_turn_features,
    forward_fill,
    sessionize,
    with_lag_lead,
)
from amazon_security_lake_transformation_library_spark.oracle import pandas_oracle as ora

from conftest import spark_to_pandas_sorted

KEYS = ["conv_id", "turn_idx"]


def test_flagship_turn_features_match_oracle(spark, transcripts_df, transcripts_pdf):
    got = spark_to_pandas_sorted(build_turn_features(transcripts_df), KEYS)
    want = (
        ora.turn_features(transcripts_pdf)
        .sort_values(KEYS, kind="mergesort")
        .reset_index(drop=True)
    )
    assert len(got) == len(want)

    # text byte-equality under stable (conv_id, turn_idx) order
    assert (got["text"].to_numpy() == want["text"].to_numpy()).all()

    for col in ["text_len", "n_tokens", "session_id", "user_turn_cum"]:
        np.testing.assert_allclose(
            got[col].to_numpy(dtype="float64"),
            want[col].to_numpy(dtype="float64"),
            err_msg=col,
        )
    for col in ["prev_role", "next_role", "tool_ffill"]:
        pd.testing.assert_series_equal(
            got[col].astype("object"),
            want[col].astype("object").where(want[col].notna(), None),
            check_names=False,
        )
    np.testing.assert_allclose(
        got["prev_text_len"].to_numpy(dtype="float64"),
        want["prev_text_len"].to_numpy(dtype="float64"),
    )


def test_first_last_rows_null_lag_lead(spark, transcripts_df):
    got = spark_to_pandas_sorted(
        with_lag_lead(transcripts_df, {"role": transcripts_df.role}), KEYS
    )
    first = got.groupby("conv_id").head(1)
    last = got.groupby("conv_id").tail(1)
    assert first["prev_role"].isna().all()
    assert last["next_role"].isna().all()


def test_forward_fill_spans_session_boundaries(spark, transcripts_df, transcripts_pdf):
    got = spark_to_pandas_sorted(forward_fill(transcripts_df, ["tool"]), KEYS)
    want = ora.turn_features(transcripts_pdf).sort_values(KEYS, kind="mergesort")
    g = got["tool_ffill"].where(got["tool_ffill"].notna(), None).tolist()
    w = want["tool_ffill"].where(want["tool_ffill"].notna(), None).tolist()
    assert g == w


def test_sessionize_gap_rule(spark, transcripts_df, transcripts_pdf):
    got = spark_to_pandas_sorted(sessionize(transcripts_df, gap_seconds=1800), KEYS)
    want = ora.sessionize(
        transcripts_pdf, entity="conv_id", gap_seconds=1800, order=["ts", "turn_idx"]
    ).sort_values(KEYS, kind="mergesort")
    np.testing.assert_array_equal(
        got["session_id"].to_numpy(), want["session_id"].to_numpy()
    )
    # fixture must actually exercise multi-session convs
    assert want.groupby("conv_id")["session_id"].max().max() >= 3


def test_single_window_node_in_plan(spark, transcripts_df):
    """The whole flagship feature block must cost ONE shuffle + ONE sort.
    (Two pipelined Window nodes are expected: sum(session_flag) depends on
    lag(ts), a two-level window dependency — but both share the same
    partitioning+ordering so no re-exchange / re-sort happens.)"""
    plan = build_turn_features(transcripts_df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert plan.count("+- Sort") == 1, plan


# ------------------------------------------------ time-decayed EWMA features

def _ewma_fixture(spark, day_span: float, n_users: int = 5, n_rows: int = 400,
                  null_every: int = 0):
    """Deterministic irregular-timestamp events over `day_span` days;
    every `null_every`-th value NULL when set."""
    rng = np.random.default_rng(3)
    base = pd.Timestamp("2024-01-01")
    pdf = pd.DataFrame({
        "event_id": np.arange(n_rows),
        "user_id": rng.integers(0, n_users, n_rows),
        "ts": base + pd.to_timedelta(
            np.sort(rng.uniform(0, day_span * 86400, n_rows)), unit="s"),
        "value": rng.normal(10, 3, n_rows).round(3),
    })
    if null_every:
        pdf.loc[pdf.index % null_every == 0, "value"] = np.nan
    sdf = spark.createDataFrame(pdf).withColumn(
        "value", F.when(~F.isnan("value"), F.col("value")))  # NaN -> NULL
    return sdf, pdf


def _pandas_ewma(pdf, hl: float) -> dict:
    want = {}
    for _, g in pdf.sort_values(["ts", "event_id"]).groupby("user_id"):
        e = g["value"].ewm(halflife=pd.Timedelta(seconds=hl),
                           times=pd.DatetimeIndex(g["ts"])).mean()
        want.update(dict(zip(g["event_id"], e)))
    return want


def _ewma(sdf, hl: float) -> dict:
    from amazon_security_lake_transformation_library_spark.operators.features import (
        ewma_time_decay)

    return {r["event_id"]: r["ewma"] for r in ewma_time_decay(
        sdf, "user_id", "ts", "value", hl, order_tiebreak="event_id").collect()}


def test_ewma_matches_pandas(spark):
    sdf, pdf = _ewma_fixture(spark, day_span=30)
    hl = 3 * 86400.0
    got = _ewma(sdf, hl)
    for k, w in _pandas_ewma(pdf, hl).items():
        assert abs(got[k] - w) < 1e-8, k


def test_ewma_null_values_add_no_weight(spark):
    """pandas' rule: a NULL value adds neither to the numerator nor to the
    denominator, so a NULL row reads the mean of the rows before it and
    rows before an entity's first value read NULL."""
    sdf, pdf = _ewma_fixture(spark, day_span=30, null_every=7)
    hl = 3 * 86400.0
    got = _ewma(sdf, hl)
    want = _pandas_ewma(pdf, hl)
    assert any(np.isnan(w) for w in want.values())  # a leading NULL
    for k, w in want.items():
        if np.isnan(w):
            assert got[k] is None, k
        else:
            assert abs(got[k] - w) < 1e-8, k


def test_ewma_no_range_limit(spark):
    """2000 days at a 1-hour halflife is 48,000 halflives: far past where
    one 2^((t - t_first)/halflife) weight overflows a double. The per-chunk
    rebase keeps every row finite and equal to pandas."""
    sdf, pdf = _ewma_fixture(spark, day_span=2000, n_users=1)
    hl = 3600.0
    got = _ewma(sdf, hl)
    for k, w in _pandas_ewma(pdf, hl).items():
        assert got[k] is not None and np.isfinite(got[k]), k
        assert abs(got[k] - w) <= 1e-9 * abs(w), k


def test_ewma_null_after_long_gap_carries_last_mean(spark):
    """2000 days at a 1-hour halflife over two users leaves NULL rows more
    than one 512-halflife chunk after their user's last value: no weight
    is in reach, and pandas carries the old mean. Every row matches."""
    sdf, pdf = _ewma_fixture(spark, day_span=2000, n_users=2, null_every=7)
    hl = 3600.0
    got = _ewma(sdf, hl)
    want = _pandas_ewma(pdf, hl)
    assert len(got) == len(want) == 400
    for k, w in want.items():
        if np.isnan(w):
            assert got[k] is None, k
        else:
            assert got[k] is not None and abs(got[k] - w) <= 1e-9 * abs(w), k


def test_ewma_rejects_bad_halflife(spark):
    from amazon_security_lake_transformation_library_spark.operators.features import (
        ewma_time_decay)

    sdf, _ = _ewma_fixture(spark, day_span=30)
    for hl in (0.0, -3600.0, float("nan"), float("inf")):
        with pytest.raises(ValueError, match="halflife"):
            ewma_time_decay(sdf, "user_id", "ts", "value", hl)


def test_ewma_plan_shapes(spark):
    from amazon_security_lake_transformation_library_spark.operators.features import (
        ewma_time_decay)

    sdf, _ = _ewma_fixture(spark, day_span=30)
    plan = ewma_time_decay(
        sdf, "user_id", "ts", "value", 1000.0, order_tiebreak="event_id"
    )._jdf.queryExecution().executedPlan().toString()
    # the chunk totals (partitionBy entity) and the in-chunk running sums
    # (partitionBy entity, chunk) share ONE exchange on the entity key
    assert plan.count("Exchange") == 1, plan
    assert plan.count("+- Sort") == 2, plan
    assert "Python" not in plan and "Pandas" not in plan, plan
