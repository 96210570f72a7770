"""Fused as-of+feature block == modular composition, for all three
physical strategies (plain / salted chunk-and-carry / the hybrid front
door), and the front door's plan choice.

The fused operator exists purely as a physical optimization (one
Exchange+Sort instead of two); these tests pin that it is semantically
invisible, including on the skewed fixture (conv 0 holds ~10% of rows)
and across chunk sizes that split sessions/ffill runs mid-chunk.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pandas as pd
import pytest
from pandas.testing import assert_frame_equal
from pyspark.sql import functions as F

from amazon_security_lake_transformation_library_spark.operators.asof import asof_join
from amazon_security_lake_transformation_library_spark.operators.features import (
    build_turn_features,
)
from amazon_security_lake_transformation_library_spark.operators.fused import (
    _asof_turn_features_routed,
    asof_turn_features,
    asof_turn_features_hybrid,
    asof_turn_features_salted,
)
from amazon_security_lake_transformation_library_spark.operators.salted import (
    WINDOW_FACTOR,
    WINDOW_FLOOR,
    hot_entities,
    hot_rule,
    time_chunk,
)
from amazon_security_lake_transformation_library_spark.synth.transcripts import (
    gen_conv_features,
    gen_transcripts,
)

from conftest import spark_to_pandas_sorted

KEYS = ["conv_id", "turn_idx"]
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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


@pytest.mark.parametrize("hot", ["all", "hot", "none"])
def test_routed_equals_plain(spark, transcripts_df, conv_features_df, hot):
    # every entity salted, only the planted hot conversation salted, or
    # none (every entity on the one constant chunk): all three routings
    # must agree
    keys = {
        "all": [r[0] for r in transcripts_df.select("conv_id").distinct().collect()],
        "hot": ["conv_00000000"],
        "none": [],
    }[hot]
    _cmp(
        _asof_turn_features_routed(
            transcripts_df, conv_features_df, time_chunk(chunk_seconds=3600), keys
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
    """The front door with no hot entity is the plain block itself, not
    the routed plan."""
    _assert_single_exchange(_plan(asof_turn_features_hybrid(
        transcripts_df, conv_features_df, time_chunk(chunk_seconds=3600),
    )))


def test_building_the_block_captures_no_call_site(
    spark, transcripts_df, conv_features_df, monkeypatch
):
    """get_spark turns off pyspark's per-call call-site capture: building
    and planning the flagship block walks no Python stack for error
    contexts (each capture also costs py4j round-trips)."""
    from pyspark.errors import utils

    calls = []
    real = utils._capture_call_site
    monkeypatch.setattr(utils, "_enable_debugging_cache", None)  # re-read the conf
    monkeypatch.setattr(
        utils, "_capture_call_site", lambda depth: calls.append(depth) or real(depth))
    _plan(asof_turn_features_hybrid(
        transcripts_df, conv_features_df, time_chunk(chunk_seconds=3600)))
    assert calls == []


@pytest.mark.parametrize("seed", [1, 101])
def test_feature_build_input_keeps_plain_plan(spark, seed):
    """The feature_build benchmark's input (40k turns, 13-14% in the
    hottest conversation) plans the 1-Exchange/1-Sort block at local[4],
    and the rule keeps it plain on more cores too: its hottest conversation
    is under WINDOW_FLOOR rows."""
    pdf = gen_transcripts(n_convs=2400, seed=seed).iloc[:40_000]
    sizes = list(pdf["conv_id"].value_counts().items())
    assert 0.13 < sizes[0][1] / len(pdf) < 0.145
    for cores in (8, 16, 1024):
        assert hot_rule(sizes, len(pdf), cores, WINDOW_FLOOR) == []
    t = spark.createDataFrame(pdf)
    cf = spark.createDataFrame(gen_conv_features(pdf))
    assert hot_entities(t, "conv_id", WINDOW_FLOOR) == []
    _assert_single_exchange(_plan(asof_turn_features_hybrid(
        t, cf, time_chunk(chunk_seconds=6 * 3600),
    )))


_ROUTES_WHEN_HOT = """
import json, re
from amazon_security_lake_transformation_library_spark.operators.fused import (
    asof_turn_features, asof_turn_features_hybrid)
from amazon_security_lake_transformation_library_spark.operators.salted import (
    WINDOW_FACTOR, WINDOW_FLOOR, hot_entities, time_chunk)
from amazon_security_lake_transformation_library_spark.session import get_spark
from amazon_security_lake_transformation_library_spark.synth.transcripts import (
    gen_conv_features, gen_transcripts)

spark = get_spark("routes-when-hot", master="local[%d]")
cores = spark.sparkContext.defaultParallelism
pdf = gen_transcripts(n_convs=WINDOW_FLOOR // 30, seed=7, hot_frac=0.65)
n_hot = int((pdf["conv_id"] == "conv_00000000").sum())
t = spark.createDataFrame(pdf)
cf = spark.createDataFrame(gen_conv_features(pdf))
out = asof_turn_features_hybrid(t, cf, time_chunk(chunk_seconds=3600))
plan = out._jdf.queryExecution().executedPlan().toString()
ref = asof_turn_features(t, cf).select(*out.columns)
print(json.dumps({
    "hot_share_over_bar": n_hot / len(pdf) > WINDOW_FACTOR / cores,
    "over_floor": n_hot >= WINDOW_FLOOR,
    "hot": hot_entities(t, "conv_id", WINDOW_FLOOR),
    "salt_chunk": "__salt_chunk" in plan,
    "exchanges": plan.count("Exchange"),
    "sorts": len(re.findall(r"\\bSort\\b", plan)),
    "diff": out.exceptAll(ref).count() + ref.exceptAll(out).count(),
}))
"""


def test_hybrid_routes_when_hot():
    """One entity with more than WINDOW_FACTOR / cores of the turns and at
    least WINDOW_FLOOR of them: the front door routes exactly that entity
    (chunk-and-carry: more than the plain block's one Exchange and one
    Sort), and the answer equals the plain block's. Runs in its own
    local[8] session: at the suite's local[4] the window form is never
    hot (cores <= WINDOW_FACTOR)."""
    cores = 2 * int(WINDOW_FACTOR)
    env = dict(os.environ, PYTHONPATH=ROOT)
    out = subprocess.run(
        [sys.executable, "-c", _ROUTES_WHEN_HOT % cores],
        capture_output=True, text=True, env=env, cwd=ROOT, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    rec = json.loads(out.stdout.strip().splitlines()[-1])
    assert rec["hot_share_over_bar"] and rec["over_floor"], rec
    assert rec["hot"] == ["conv_00000000"], rec
    assert rec["salt_chunk"] and rec["exchanges"] > 1 and rec["sorts"] > 1, rec
    assert rec["diff"] == 0, rec


def test_fused_salted_single_chunk_degenerates(
    spark, transcripts_df, conv_features_df
):
    # one constant chunk (what the front door gives every tail entity):
    # the boundary and carry logic must be a no-op, not a corruption
    _cmp(
        asof_turn_features_salted(transcripts_df, conv_features_df, F.lit(0)),
        asof_turn_features(transcripts_df, conv_features_df),
    )
