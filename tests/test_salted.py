"""The one hot-entity rule behind all three skew routers (salted.py):
entity e is hot when its work w_e > F * sum(w) / cores and w_e >= FLOOR,
with w_e = n_e and F = WINDOW_FACTOR for the window block, w_e = its band
comparisons p_e * b_e and F = BAND_FACTOR for the band joins, and FLOOR
set by the routed plan. The rule itself is checked on work vectors with
no Spark; the Spark pre-pass on shaped inputs. Salted-vs-plain equality
of the chunk-and-carry block is in tests/test_fused.py.
"""

import random

import pandas as pd
import pytest

from amazon_security_lake_transformation_library_spark.operators import salted
from amazon_security_lake_transformation_library_spark.operators.salted import (
    BAND_FACTOR,
    CARRY_FLOOR,
    UNION_FLOOR,
    WINDOW_FACTOR,
    WINDOW_FLOOR,
    hot_rule,
)


def _rule(works, cores, floor=1, band=False):
    return hot_rule(list(enumerate(works)), sum(works), cores, floor, band)


@pytest.mark.parametrize("band", [False, True])
@pytest.mark.parametrize("cores", [1, 2, 3, 4, 5, 8, 16, 64, 1024])
def test_hot_set_is_under_cores_over_factor(cores, band):
    """No work vector yields cores / F or more hot entities, so the
    pre-pass's top cores // F sizes always hold the hot set."""
    f = BAND_FACTOR if band else WINDOW_FACTOR
    rng = random.Random(cores)
    for _ in range(200):
        works = [rng.choice([1, 1, 2, 5, 40])
                 for _ in range(rng.randint(1, 3 * cores + 2))]
        hot = _rule(works, cores, band=band)
        assert len(hot) < cores / f or not hot
        assert len(hot) <= cores // f
        top = sorted(range(len(works)), key=lambda i: -works[i])
        assert set(hot) <= set(top[:int(cores // f)])


def test_constants_per_cost_form_and_routed_plan():
    # routing a window block only spreads its work, at a premium; routing
    # a band join removes its quadratic term, so it pays on one core
    assert WINDOW_FACTOR > 1 > BAND_FACTOR > 0
    # the union form is a cheaper detour than chunk-and-carry
    assert 0 < UNION_FLOOR < CARRY_FLOOR
    assert WINDOW_FLOOR > 0


@pytest.mark.parametrize("cores", range(1, int(WINDOW_FACTOR) + 1))
def test_window_form_is_never_hot_at_or_under_factor_cores(cores):
    assert _rule([10**9], cores) == []
    assert _rule([10**9, 1], cores) == []
    # the band form routes a dominant entity at any core count
    assert _rule([10**9, 1], cores, band=True) == [0]


@pytest.mark.parametrize("band", [False, True])
def test_rule_threshold_and_floor(band):
    cores = int(4 * (BAND_FACTOR if band else WINDOW_FACTOR))
    bar = 1 / 4  # F / cores: the share of the work a hot entity must exceed
    rest = [10**6] * 20
    # the smallest hot entity: its work just over bar / (1 - bar) x the rest
    w_bar = bar / (1 - bar) * sum(rest)
    assert _rule([w_bar + 10, *rest], cores, band=band) == [0]
    assert _rule([w_bar - 10, *rest], cores, band=band) == []
    # the floor is on the entity's own work, whatever its share
    assert _rule([w_bar + 10, *rest], cores, w_bar + 10, band) == [0]
    assert _rule([w_bar + 10, *rest], cores, w_bar + 11, band) == []


def test_quadratic_work_makes_a_mid_entity_hot():
    # at the same 1/4 bar, an entity with 3/23 of the rows is not hot
    # under linear work, and is under band work (9/29 of sum n^2)
    counts = [3, *[1] * 20]
    assert _rule(counts, int(4 * WINDOW_FACTOR)) == []
    assert _rule([n * n for n in counts], int(4 * BAND_FACTOR), band=True) == [0]


def test_empty_input_has_no_hot_entity():
    assert hot_rule([], 0, 64, 1) == []
    assert hot_rule([], None, 64, 1, band=True) == []


def test_hot_entity_detection(spark):
    """The Spark pre-pass on a shaped input at local[4]: one entity with
    90% of all rows is hot under the band form (one action), where
    ``band_rows`` equal to the input's own rows gives it w = n^2 band
    comparisons; the floor cuts exactly there; and the window form runs
    no job at all at cores <= F."""
    sc = spark.sparkContext
    assert sc.defaultParallelism <= WINDOW_FACTOR
    n_hot = 3000
    tail = pd.DataFrame({"conv_id": [f"c{i}" for i in range(n_hot // 9)]})
    hot = pd.DataFrame({"conv_id": ["hot"] * n_hot})
    df = spark.createDataFrame(pd.concat([hot, tail], ignore_index=True)).cache()
    rows = df.count()
    try:
        sc.setJobGroup("hot_prepass_window", "window form pre-pass")
        assert salted.hot_entities(df, "conv_id", 1) == []
        assert sc.statusTracker().getJobIdsForGroup("hot_prepass_window") == []
        sc.setJobGroup("hot_prepass_band", "band form pre-pass")
        assert salted.hot_entities(
            df, "conv_id", n_hot**2, band_rows=rows) == ["hot"]
        assert len(sc.statusTracker().getJobIdsForGroup("hot_prepass_band")) <= 2
        # the estimate scales with the other side's rows
        assert salted.hot_entities(
            df, "conv_id", n_hot**2 + 1, band_rows=rows) == []
        assert salted.hot_entities(
            df, "conv_id", 2 * n_hot**2, band_rows=2 * rows) == ["hot"]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        df.unpersist()
    assert salted.hot_entities(
        spark.createDataFrame([], "conv_id string"), "conv_id", 1, band_rows=0
    ) == []
