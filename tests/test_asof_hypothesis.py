"""Property-based as-of join testing (SURVEY.md §5.2.4): random probe/build
frames with adversarial structure — equal-ts ties, duplicate build
timestamps, entities missing from either side, empty builds — must match
pandas ``merge_asof`` (latest-wins, <= semantics) and its strict variant.

Examples are deliberately few (Spark round-trip per example) but each is
dense with edge cases because timestamps draw from a tiny integer domain.

The time-decayed EWMA gets the same treatment: timestamps drawn at and
around its rebase-chunk boundaries, must match the EWMA's definition
computed directly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from amazon_security_lake_transformation_library_spark.operators.asof import asof_join
from amazon_security_lake_transformation_library_spark.operators.features import (
    EWMA_CHUNK_HALFLIVES,
    ewma_time_decay,
)

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


@st.composite
def ewma_frames(draw):
    """Events whose timestamps sit on, just before and just after the
    EWMA's rebase-chunk boundaries across eight chunks, so rows straddle
    boundaries, skip whole chunks and tie exactly; entities may hold one
    row."""
    hl = draw(st.sampled_from([1.0, 2.5, 60.0, 3600.0]))
    chunk = int(EWMA_CHUNK_HALFLIVES * hl)  # seconds
    origin = -(-1_704_067_200 // chunk) * chunk  # first boundary after 2024-01-01
    pool = [k * chunk + d for k in range(8) for d in (-1, 0, 1)]
    n = draw(st.integers(1, 14))
    secs = draw(st.lists(
        st.one_of(st.sampled_from(pool), st.integers(0, 8 * chunk)),
        min_size=n, max_size=n,
    ))
    pdf = pd.DataFrame({
        "event_id": np.arange(n, dtype="int64"),
        "user_id": draw(st.lists(st.sampled_from(ENTITIES), min_size=n, max_size=n)),
        "ts": pd.to_datetime([origin + s for s in secs], unit="s"),
        "value": draw(st.lists(st.integers(1, 100), min_size=n, max_size=n)),
    })
    return pdf.astype({"value": "float64"}), hl


def _ewma_definition(pdf, hl):
    """ewma_i = sum_j w_ij x_j / sum_j w_ij over the entity's rows j at or
    before i in (ts, event_id) order, w_ij = 2^(-(t_i - t_j)/hl)."""
    out = {}
    for _, g in pdf.sort_values(["ts", "event_id"]).groupby("user_id"):
        t = (g["ts"] - g["ts"].min()).dt.total_seconds().to_numpy()
        x = g["value"].to_numpy()
        for i, eid in enumerate(g["event_id"]):
            w = np.exp2(-(t[i] - t[: i + 1]) / hl)
            out[eid] = float((w * x[: i + 1]).sum() / w.sum())
    return out


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(fh=ewma_frames())
def test_ewma_matches_definition_across_chunks(spark, fh):
    pdf, hl = fh
    got = {
        r["event_id"]: r["ewma"]
        for r in ewma_time_decay(
            spark.createDataFrame(pdf), "user_id", "ts", "value", hl,
            order_tiebreak="event_id",
        ).collect()
    }
    for eid, want in _ewma_definition(pdf, hl).items():
        assert got[eid] == pytest.approx(want, rel=1e-12), eid
