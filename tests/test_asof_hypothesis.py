"""Property-based as-of join testing (SURVEY.md §5.2.4): random probe/build
frames with adversarial structure — equal-ts ties, duplicate build
timestamps, entities missing from either side, empty builds — must match
pandas ``merge_asof`` (latest-wins, <= semantics) and its strict variant.

Examples are deliberately few (Spark round-trip per example) but each is
dense with edge cases because timestamps draw from a tiny integer domain.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from amazon_security_lake_transformation_library_spark.operators.asof import asof_join

ENTITIES = ["a", "b", "c"]


@st.composite
def frames(draw):
    n_probe = draw(st.integers(1, 12))
    n_build = draw(st.integers(0, 12))
    # tiny ts domain -> many exact collisions
    p_ts = draw(st.lists(st.integers(0, 6), min_size=n_probe, max_size=n_probe))
    b_ts = draw(st.lists(st.integers(0, 6), min_size=n_build, max_size=n_build))
    p_ent = draw(st.lists(st.sampled_from(ENTITIES), min_size=n_probe, max_size=n_probe))
    b_ent = draw(st.lists(st.sampled_from(ENTITIES), min_size=n_build, max_size=n_build))
    strict = draw(st.booleans())
    probe = pd.DataFrame(
        {
            "conv_id": p_ent,
            "ts": pd.to_datetime(p_ts, unit="h", origin="2024-01-01"),
            "probe_id": np.arange(n_probe, dtype="int64"),
        }
    )
    build = pd.DataFrame(
        {
            "conv_id": b_ent,
            "ts": pd.to_datetime(b_ts, unit="h", origin="2024-01-01"),
            "feature_val": np.arange(n_build, dtype="float64") + 1.0,
        }
    )
    return probe, build, strict


def _pandas_asof(probe, build, strict):
    """merge_asof oracle; build deduped to latest row per (conv_id, ts) --
    same contract asof_join documents."""
    if len(build):
        build = (
            build.sort_values(["conv_id", "ts", "feature_val"])
            .groupby(["conv_id", "ts"], as_index=False)
            .last()
        )
    out = []
    for _, r in probe.iterrows():
        cand = build[(build["conv_id"] == r["conv_id"])]
        cand = cand[cand["ts"] < r["ts"]] if strict else cand[cand["ts"] <= r["ts"]]
        if len(cand):
            best = cand.sort_values("ts").iloc[-1]
            out.append(best["feature_val"])
        else:
            out.append(np.nan)
    res = probe.copy()
    res["feature_val"] = out
    return res.sort_values("probe_id").reset_index(drop=True)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(fb=frames())
def test_asof_matches_pandas_oracle(spark, fb):
    probe_pdf, build_pdf, strict = fb
    probe = spark.createDataFrame(probe_pdf)
    if len(build_pdf):
        # dedupe to one row per (conv_id, ts): max feature_val wins — the
        # same latest-wins contract the pandas oracle applies
        build = (
            spark.createDataFrame(build_pdf)
            .groupBy("conv_id", "ts")
            .agg({"feature_val": "max"})
            .withColumnRenamed("max(feature_val)", "feature_val")
        )
    else:
        build = spark.createDataFrame(
            [], schema="conv_id string, ts timestamp, feature_val double"
        )

    got = (
        asof_join(probe, build, on="conv_id", ts="ts",
                  build_cols=["feature_val"], strict=strict)
        .toPandas()
        .sort_values("probe_id")
        .reset_index(drop=True)
    )
    want = _pandas_asof(probe_pdf, build_pdf, strict)
    np.testing.assert_allclose(
        got["feature_val"].to_numpy(dtype="float64"),
        want["feature_val"].to_numpy(dtype="float64"),
        equal_nan=True,
    )


def _pandas_directional(probe, build, direction, strict):
    """Brute-force per-row oracle for asof_join's directions: scan every
    build candidate, apply the direction's visibility rule, pick by
    min/max ts (forward/backward) or min |distance| with backward ties
    (nearest)."""
    if len(build):
        build = (
            build.sort_values(["conv_id", "ts", "feature_val"])
            .groupby(["conv_id", "ts"], as_index=False)
            .last()
        )
    out = []
    for _, r in probe.iterrows():
        cand = build[build["conv_id"] == r["conv_id"]]
        back = cand[cand["ts"] < r["ts"]] if strict else cand[cand["ts"] <= r["ts"]]
        fwd = cand[cand["ts"] > r["ts"]] if strict else cand[cand["ts"] >= r["ts"]]
        pick = np.nan
        if direction == "backward" and len(back):
            pick = back.sort_values("ts").iloc[-1]["feature_val"]
        elif direction == "forward" and len(fwd):
            pick = fwd.sort_values("ts").iloc[0]["feature_val"]
        elif direction == "nearest":
            b = back.sort_values("ts").iloc[-1] if len(back) else None
            f = fwd.sort_values("ts").iloc[0] if len(fwd) else None
            if b is not None and f is not None:
                db = (r["ts"] - b["ts"]).total_seconds()
                df_ = (f["ts"] - r["ts"]).total_seconds()
                pick = f["feature_val"] if df_ < db else b["feature_val"]
            elif b is not None:
                pick = b["feature_val"]
            elif f is not None:
                pick = f["feature_val"]
        out.append(pick)
    res = probe.copy()
    res["feature_val"] = out
    return res.sort_values("probe_id").reset_index(drop=True)


@st.composite
def frames_directional(draw):
    probe, build, strict = draw(frames())
    direction = draw(st.sampled_from(["backward", "forward", "nearest"]))
    if direction == "nearest":
        strict = False
    return probe, build, direction, strict


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(fb=frames_directional())
def test_asof_directional_matches_bruteforce(spark, fb):
    probe_pdf, build_pdf, direction, strict = fb
    probe = spark.createDataFrame(probe_pdf)
    if len(build_pdf):
        build = (
            spark.createDataFrame(build_pdf)
            .groupBy("conv_id", "ts")
            .agg({"feature_val": "max"})
            .withColumnRenamed("max(feature_val)", "feature_val")
        )
    else:
        build = spark.createDataFrame(
            [], schema="conv_id string, ts timestamp, feature_val double"
        )
    got = (
        asof_join(
            probe, build, on="conv_id", ts="ts",
            build_cols=["feature_val"], direction=direction, strict=strict,
        )
        .toPandas()
        .sort_values("probe_id")
        .reset_index(drop=True)
    )
    want = _pandas_directional(probe_pdf, build_pdf, direction, strict)
    np.testing.assert_allclose(
        got["feature_val"].to_numpy(dtype="float64"),
        want["feature_val"].to_numpy(dtype="float64"),
        equal_nan=True,
    )
