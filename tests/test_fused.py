"""Fused as-of+feature block == modular composition, for all three
physical strategies (plain / salted chunk-and-carry / the hybrid front
door), and the front door's plan choice.

The fused operator exists purely as a physical optimization (one
Exchange+Sort instead of two); these tests pin that it is semantically
invisible, including on the skewed fixture (conv 0 holds ~10% of rows)
and across chunk sizes that split sessions/ffill runs mid-chunk.
"""

from __future__ import annotations

import re

import pandas as pd
import pytest
from pandas.testing import assert_frame_equal
from pyspark.sql import functions as F

from amazon_security_lake_transformation_library_spark.operators.asof import asof_join
from amazon_security_lake_transformation_library_spark.operators.features import (
    build_turn_features,
)
from amazon_security_lake_transformation_library_spark.operators.fused import (
    asof_turn_features,
    asof_turn_features_hybrid,
    asof_turn_features_salted,
)
from amazon_security_lake_transformation_library_spark.operators.salted import time_chunk

from conftest import spark_to_pandas_sorted

KEYS = ["conv_id", "turn_idx"]


def _modular(transcripts_df, conv_features_df) -> pd.DataFrame:
    featd = build_turn_features(transcripts_df)
    return asof_join(
        featd, conv_features_df, on="conv_id", ts="ts", build_cols=["feature_val"]
    )


def _cmp(a, b):
    pa = spark_to_pandas_sorted(a, KEYS)
    pb = spark_to_pandas_sorted(b, KEYS)
    assert_frame_equal(
        pa[sorted(pa.columns)], pb[sorted(pb.columns)], check_like=True
    )


def test_fused_equals_modular(spark, transcripts_df, conv_features_df):
    _cmp(
        asof_turn_features(transcripts_df, conv_features_df),
        _modular(transcripts_df, conv_features_df),
    )


@pytest.mark.parametrize("chunk_seconds", [3600, 6 * 3600, 10])
def test_fused_salted_equals_plain(
    spark, transcripts_df, conv_features_df, chunk_seconds
):
    _cmp(
        asof_turn_features_salted(
            transcripts_df, conv_features_df, time_chunk(chunk_seconds=chunk_seconds)
        ),
        asof_turn_features(transcripts_df, conv_features_df),
    )


@pytest.mark.parametrize("threshold", [0, 50, 10**9])
def test_hybrid_equals_plain(spark, transcripts_df, conv_features_df, threshold):
    # threshold 0: everything salted; 50: only hot convs salted; huge:
    # everything plain — all three routings must agree
    _cmp(
        asof_turn_features_hybrid(
            transcripts_df,
            conv_features_df,
            time_chunk(chunk_seconds=3600),
            hot_threshold_rows=threshold,
        ),
        asof_turn_features(transcripts_df, conv_features_df),
    )


def test_fused_strict_matches_modular_strict(spark, transcripts_df, conv_features_df):
    """strict=True (< instead of <=): a build row AT the probe ts must NOT
    be visible. The synthetic fixture samples build rows exactly at turn
    timestamps, so strict vs non-strict genuinely differ here."""
    fused_strict = asof_turn_features(transcripts_df, conv_features_df, strict=True)
    modular_strict = asof_join(
        build_turn_features(transcripts_df), conv_features_df,
        on="conv_id", ts="ts", build_cols=["feature_val"], strict=True,
    )
    _cmp(fused_strict, modular_strict)
    # and strict really differs from non-strict on this fixture
    a = spark_to_pandas_sorted(fused_strict, KEYS)
    b = spark_to_pandas_sorted(
        asof_turn_features(transcripts_df, conv_features_df), KEYS
    )
    assert not a["feature_val"].equals(b["feature_val"])


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _n_sorts(plan: str) -> int:
    return len(re.findall(r"\bSort\b", plan))


def _assert_single_exchange(plan: str) -> None:
    assert plan.count("Exchange") == 1, plan
    assert _n_sorts(plan) == 1, plan
    assert "unboundedfollowing" not in plan.lower().replace(" ", ""), plan


def test_fused_single_exchange_on_big_table(spark, transcripts_df, conv_features_df):
    """The point of the fusion: exactly ONE Exchange and ONE Sort (the
    modular plan has two of each), and no O(partition^2)
    unbounded-FOLLOWING frame — next_role is a lead() after the probe
    filter that reuses the existing partitioning+ordering."""
    _assert_single_exchange(_plan(asof_turn_features(transcripts_df, conv_features_df)))


def test_hybrid_no_hot_plans_single_exchange(spark, transcripts_df, conv_features_df):
    """The front door with no entity over its threshold is the plain
    block itself, not the routed chunk-and-carry plan."""
    _assert_single_exchange(_plan(asof_turn_features_hybrid(
        transcripts_df, conv_features_df, time_chunk(chunk_seconds=3600),
        hot_threshold_rows=10**9,
    )))


def test_hybrid_routes_when_hot(spark, transcripts_df, conv_features_df):
    """With a hot entity the front door keeps the routed chunk-and-carry
    plan: the broadcast hot set, and more than the plain block's one
    Exchange and one Sort."""
    plan = _plan(asof_turn_features_hybrid(
        transcripts_df, conv_features_df, time_chunk(chunk_seconds=3600),
        hot_threshold_rows=50,
    ))
    assert "__salt_chunk" in plan and "BroadcastHashJoin" in plan, plan
    assert plan.count("Exchange") > 1, plan
    assert _n_sorts(plan) > 1, plan


def test_fused_salted_single_chunk_degenerates(
    spark, transcripts_df, conv_features_df
):
    # one constant chunk (what the front door gives every tail entity):
    # the boundary and carry logic must be a no-op, not a corruption
    _cmp(
        asof_turn_features_salted(transcripts_df, conv_features_df, F.lit(0)),
        asof_turn_features(transcripts_df, conv_features_df),
    )
