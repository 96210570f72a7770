"""Single-pass stacked multi-table as-of join (asof_join_stacked):
per-source equivalence to pandas merge_asof, tie semantics, left-outer
NULLs for sources with no visible row, and the one-Window plan shape.
"""

import math

import numpy as np
import pandas as pd
import pytest

from amazon_security_lake_transformation_library_spark.operators.asof import (
    asof_join_stacked,
)


def _mk_inputs(seed=7, n_entities=12, n_probe=240, n_build=60):
    rng = np.random.default_rng(seed)
    base = pd.Timestamp("2026-01-01")

    def tbl(n, value_name, entity_drop=None):
        ents = rng.integers(0, n_entities, size=n)
        if entity_drop is not None:
            ents = ents[ents != entity_drop]
        ts = base + pd.to_timedelta(rng.integers(0, 50_000, size=len(ents)), unit="s")
        df = pd.DataFrame(
            {
                "conv_id": [f"c{e:03d}" for e in ents],
                "ts": ts,
                value_name: rng.normal(size=len(ents)).round(6),
            }
        )
        # unique per (conv_id, ts): the operator's documented precondition
        return df.drop_duplicates(["conv_id", "ts"]).reset_index(drop=True)

    probe = pd.DataFrame(
        {
            "conv_id": [f"c{e:03d}" for e in rng.integers(0, n_entities, n_probe)],
            "ts": base
            + pd.to_timedelta(rng.integers(0, 50_000, size=n_probe), unit="s"),
            "probe_id": np.arange(n_probe, dtype="int64"),
        }
    )
    builds = {
        "alpha": tbl(n_build, "a_val"),
        "beta": tbl(n_build, "b_val"),
        # gamma never has rows for entity 0 -> those probes must keep NULLs
        "gamma": tbl(n_build, "g_val", entity_drop=0),
    }
    return probe, builds


def _oracle(probe, builds, strict):
    """Per-source pandas merge_asof on the same inputs."""
    out = probe.sort_values("ts", kind="mergesort").reset_index(drop=True)
    for s, b in builds.items():
        val = [c for c in b.columns if c not in ("conv_id", "ts")][0]
        bb = b.sort_values("ts", kind="mergesort").rename(
            columns={"ts": f"{s}_asof_ts", val: f"{s}_{val}"}
        )
        out = pd.merge_asof(
            out,
            bb,
            left_on="ts",
            right_on=f"{s}_asof_ts",
            by="conv_id",
            allow_exact_matches=not strict,
            direction="backward",
        )
    return out.sort_values("probe_id", kind="mergesort").reset_index(drop=True)


@pytest.mark.parametrize("strict", [False, True])
def test_stacked_matches_merge_asof_per_source(spark, strict):
    probe, builds = _mk_inputs()
    got = (
        asof_join_stacked(
            spark.createDataFrame(probe),
            {s: spark.createDataFrame(b) for s, b in builds.items()},
            on="conv_id",
            ts="ts",
            strict=strict,
        )
        .toPandas()
        .sort_values("probe_id", kind="mergesort")
        .reset_index(drop=True)
    )
    want = _oracle(probe, builds, strict)
    assert len(got) == len(probe)
    for s, b in builds.items():
        val = [c for c in b.columns if c not in ("conv_id", "ts")][0]
        np.testing.assert_allclose(
            got[f"{s}_{val}"].to_numpy("float64"),
            want[f"{s}_{val}"].to_numpy("float64"),
        )
        gt = got[f"{s}_asof_ts"].astype("datetime64[us]")
        wt = want[f"{s}_asof_ts"].astype("datetime64[us]")
        assert (gt.isna() == wt.isna()).all()
        assert (gt.dropna() == wt.dropna()).all()


def test_stacked_zero_leakage(spark):
    """No matched build timestamp may exceed the probe timestamp (the
    north rule's temporal-leakage invariant), for every source at once."""
    probe, builds = _mk_inputs(seed=11)
    got = asof_join_stacked(
        spark.createDataFrame(probe),
        {s: spark.createDataFrame(b) for s, b in builds.items()},
        on="conv_id",
        ts="ts",
    ).toPandas()
    for s in builds:
        m = got[f"{s}_asof_ts"].notna()
        assert (got.loc[m, f"{s}_asof_ts"] <= got.loc[m, "ts"]).all()


def test_stacked_missing_source_entity_keeps_nulls(spark):
    probe, builds = _mk_inputs(seed=3)
    got = asof_join_stacked(
        spark.createDataFrame(probe),
        {s: spark.createDataFrame(b) for s, b in builds.items()},
        on="conv_id",
        ts="ts",
    ).toPandas()
    e0 = got[got["conv_id"] == "c000"]
    assert len(e0) > 0
    assert e0["gamma_g_val"].isna().all()
    assert e0["gamma_asof_ts"].isna().all()


def test_stacked_single_window_plan(spark):
    """K=3 sources must plan as ONE Window / ONE Sort and at most ONE
    Exchange on the union (that collapse is the whole point vs chaining
    K as-of joins)."""
    probe, builds = _mk_inputs(seed=5)
    df = asof_join_stacked(
        spark.createDataFrame(probe),
        {s: spark.createDataFrame(b) for s, b in builds.items()},
        on="conv_id",
        ts="ts",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") - plan.count("WindowGroupLimit") == 1
    n_sort = sum(
        1 for ln in plan.splitlines() if ln.lstrip("+-* :").startswith("Sort ")
    )
    assert n_sort == 1
    assert plan.count("Exchange") <= 1


def _melt(builds):
    """Per-table builds -> one skinny (conv_id, ts, feature, value) log."""
    frames = []
    for s, b in builds.items():
        val = [c for c in b.columns if c not in ("conv_id", "ts")][0]
        frames.append(
            b.rename(columns={val: "value"}).assign(feature=s)[
                ["conv_id", "ts", "feature", "value"]
            ]
        )
    return pd.concat(frames, ignore_index=True)


def _routed(probe, log, hot, sources, **kw):
    """The skinny router's routed plan with the ``hot`` entities named."""
    from amazon_security_lake_transformation_library_spark.operators.asof import (
        _skinny_routed,
    )

    kw = dict(source_col="feature", value_col="value", on="conv_id", ts="ts",
              strict=False, asof_ts_suffix="_asof_ts") | kw
    return _skinny_routed(probe, log, sources, hot, **kw)[0]


@pytest.mark.parametrize("strict", [False, True])
def test_skinny_equals_stacked(spark, strict):
    """The skinny/EAV feature-log form must produce the same feature
    vectors as the per-table stacked form on equivalent inputs."""
    from amazon_security_lake_transformation_library_spark.operators.asof import (
        asof_join_skinny,
    )

    probe, builds = _mk_inputs(seed=13)
    stacked = (
        asof_join_stacked(
            spark.createDataFrame(probe),
            {s: spark.createDataFrame(b) for s, b in builds.items()},
            on="conv_id",
            ts="ts",
            strict=strict,
        )
        .toPandas()
        .sort_values("probe_id", kind="mergesort")
        .reset_index(drop=True)
    )
    skinny = (
        asof_join_skinny(
            spark.createDataFrame(probe),
            spark.createDataFrame(_melt(builds)),
            sources=list(builds),
            source_col="feature",
            value_col="value",
            on="conv_id",
            ts="ts",
            strict=strict,
        )
        .toPandas()
        .sort_values("probe_id", kind="mergesort")
        .reset_index(drop=True)
    )
    for s, b in builds.items():
        val = [c for c in b.columns if c not in ("conv_id", "ts")][0]
        np.testing.assert_allclose(
            skinny[f"{s}_value"].to_numpy("float64"),
            stacked[f"{s}_{val}"].to_numpy("float64"),
        )
        gt = skinny[f"{s}_asof_ts"].astype("datetime64[us]")
        wt = stacked[f"{s}_asof_ts"].astype("datetime64[us]")
        assert (gt.isna() == wt.isna()).all()
        assert (gt.dropna() == wt.dropna()).all()


def test_skinny_single_window_plan(spark):
    from amazon_security_lake_transformation_library_spark.operators.asof import (
        asof_join_skinny,
    )

    probe, builds = _mk_inputs(seed=17)
    df = asof_join_skinny(
        spark.createDataFrame(probe),
        spark.createDataFrame(_melt(builds)),
        sources=list(builds),
        on="conv_id",
        ts="ts",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") - plan.count("WindowGroupLimit") == 1
    n_sort = sum(
        1 for ln in plan.splitlines() if ln.lstrip("+-* :").startswith("Sort ")
    )
    assert n_sort == 1
    assert plan.count("Exchange") <= 1


# ------------------------------------ interval form (bucketed probe path)


@pytest.mark.parametrize("strict", [False, True])
def test_skinny_intervals_equals_skinny(spark, strict):
    """The pre-widened interval form must produce the same K-vector as
    the single-pass union+window form, both tie semantics."""
    from amazon_security_lake_transformation_library_spark.operators.asof import (
        asof_join_skinny,
        asof_join_skinny_intervals,
    )

    probe, builds = _mk_inputs(seed=23)
    log = spark.createDataFrame(_melt(builds))
    kw = dict(sources=list(builds), on="conv_id", ts="ts", strict=strict)
    a = (
        asof_join_skinny(spark.createDataFrame(probe), log, **kw)
        .toPandas().sort_values("probe_id", kind="mergesort")
        .reset_index(drop=True)
    )
    b = (
        asof_join_skinny_intervals(spark.createDataFrame(probe), log, **kw)
        .toPandas().sort_values("probe_id", kind="mergesort")
        .reset_index(drop=True)
    )
    for s in builds:
        np.testing.assert_allclose(
            b[f"{s}_value"].to_numpy("float64"),
            a[f"{s}_value"].to_numpy("float64"),
        )
        gt = b[f"{s}_asof_ts"].astype("datetime64[us]")
        wt = a[f"{s}_asof_ts"].astype("datetime64[us]")
        assert (gt.isna() == wt.isna()).all()
        assert (gt.dropna() == wt.dropna()).all()


def test_skinny_intervals_bucketed_probe_no_exchange(spark, tmp_path):
    """Over a conv_id-bucketed ts-sorted probe table (buckets == shuffle
    partitions) the interval form's PROBE side plans with neither
    Exchange nor Sort — the same pipeline over plain parquet pays one
    more of each. This is the claim the union+window form CANNOT make
    (bucketing does not propagate through a Union — also asserted)."""
    from amazon_security_lake_transformation_library_spark.operators.asof import (
        asof_join_skinny,
        asof_join_skinny_intervals,
    )

    probe, builds = _mk_inputs(seed=29)
    log_pdf = _melt(builds)

    def counts(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        n_ex = sum(
            1 for ln in plan.splitlines()
            if ln.lstrip("+-* :").startswith("Exchange ")
        )
        n_sort = sum(
            1 for ln in plan.splitlines()
            if ln.lstrip("+-* :").startswith("Sort ")
        )
        return n_ex, n_sort

    old_shuf = spark.conf.get("spark.sql.shuffle.partitions")
    old_ord = spark.conf.get(
        "spark.sql.legacy.bucketedTableScan.outputOrdering", "false"
    )
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.sql("DROP TABLE IF EXISTS iv_probe")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        spark.conf.set(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", "true"
        )
        # force the SMJ the at-scale plan takes (a broadcast log makes the
        # probe side trivially exchange-free in BOTH encodings)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        (
            spark.createDataFrame(probe)
            .repartition(1)
            .write.bucketBy(8, "conv_id").sortBy("conv_id", "ts")
            .option("path", str(tmp_path / "iv_probe"))
            .saveAsTable("iv_probe")
        )
        log = spark.createDataFrame(log_pdf)
        kw = dict(sources=list(builds), on="conv_id", ts="ts")

        plain = asof_join_skinny_intervals(
            spark.createDataFrame(probe), log, **kw)
        bucketed = asof_join_skinny_intervals(
            spark.table("iv_probe"), log, **kw)
        ex_p, so_p = counts(plain)
        ex_b, so_b = counts(bucketed)
        assert ex_b == ex_p - 1, (ex_b, ex_p)
        assert so_b == so_p - 1, (so_b, so_p)

        # rows still identical between the two probe encodings
        cols = ["conv_id", "ts", "probe_id"] + [
            f"{s}_value" for s in builds
        ]
        a = plain.select(*cols).toPandas().sort_values(
            "probe_id", kind="mergesort").reset_index(drop=True)
        b = bucketed.select(*cols).toPandas().sort_values(
            "probe_id", kind="mergesort").reset_index(drop=True)
        for s in builds:
            np.testing.assert_allclose(
                b[f"{s}_value"].to_numpy("float64"),
                a[f"{s}_value"].to_numpy("float64"),
            )

        # the union+window form does NOT lose its Exchange over the same
        # bucketed probe: bucketing stops at the Union
        union_form = asof_join_skinny(spark.table("iv_probe"), log, **kw)
        ex_u, _ = counts(union_form)
        assert ex_u >= 1
    finally:
        spark.sql("DROP TABLE IF EXISTS iv_probe")
        spark.conf.set("spark.sql.shuffle.partitions", old_shuf)
        spark.conf.set(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", old_ord
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)


@pytest.mark.parametrize("strict", [False, True])
def test_skinny_routed_equals_skinny_on_skew(spark, strict):
    """The hot/tail router's routed plan must reproduce the single-
    strategy answer on a skewed input where one named entity holds most
    of the change points."""
    from amazon_security_lake_transformation_library_spark.operators.asof import (
        asof_join_skinny,
    )

    probe, builds = _mk_inputs(seed=31)
    log = _melt(builds)
    # graft a hot entity: one conversation with 600 change points across
    # the three sources, plus matching probes
    base = pd.Timestamp("2026-01-01")
    hot_log = pd.DataFrame({
        "conv_id": "hot",
        "ts": base + pd.to_timedelta(np.arange(600) * 7, unit="s"),
        "feature": [list(builds)[i % 3] for i in range(600)],
        "value": np.arange(600, dtype="float64"),
    })
    hot_probe = pd.DataFrame({
        "conv_id": "hot",
        "ts": base + pd.to_timedelta(np.arange(0, 4200, 3), unit="s"),
        "probe_id": np.arange(10_000, 10_000 + 1400, dtype="int64"),
    })
    probe = pd.concat([probe, hot_probe], ignore_index=True)
    log = pd.concat([log, hot_log], ignore_index=True)

    kw = dict(sources=list(builds), on="conv_id", ts="ts", strict=strict)
    want = (
        asof_join_skinny(spark.createDataFrame(probe),
                         spark.createDataFrame(log), **kw)
        .toPandas().sort_values("probe_id", kind="mergesort")
        .reset_index(drop=True)
    )
    got = (
        _routed(spark.createDataFrame(probe), spark.createDataFrame(log),
                ["hot"], **kw)
        .toPandas().sort_values("probe_id", kind="mergesort")
        .reset_index(drop=True)
    )
    assert len(got) == len(want) == len(probe)
    for s in builds:
        np.testing.assert_allclose(
            got[f"{s}_value"].to_numpy("float64"),
            want[f"{s}_value"].to_numpy("float64"),
        )
        gt = got[f"{s}_asof_ts"].astype("datetime64[us]")
        wt = want[f"{s}_asof_ts"].astype("datetime64[us]")
        assert (gt.isna() == wt.isna()).all()
        assert (gt.dropna() == wt.dropna()).all()


def test_skinny_routed_named_keys(spark):
    """The routed plan splits by the named keys: entity a (named) takes
    the union path, b stays on the interval path, and the answer equals
    plain intervals; naming no entity IS the plain interval plan (no
    union, no split)."""
    from amazon_security_lake_transformation_library_spark.operators.asof import (
        asof_join_skinny_intervals,
    )

    base = pd.Timestamp("2026-01-01")
    log = pd.DataFrame({
        "conv_id": ["a"] * 4 + ["b"] * 3,
        "ts": list(base + pd.to_timedelta(np.arange(4), unit="h")) * 1
        + list(base + pd.to_timedelta(np.arange(3), unit="h")),
        "feature": ["f0"] * 7,
        "value": np.arange(7, dtype="float64"),
    })
    probe = pd.DataFrame({
        "conv_id": ["a", "b"] * 3,
        "ts": base + pd.to_timedelta(np.arange(6), unit="h"),
        "probe_id": np.arange(6, dtype="int64"),
    })
    kw = dict(sources=["f0"], on="conv_id", ts="ts")
    want = (
        asof_join_skinny_intervals(spark.createDataFrame(probe),
                                   spark.createDataFrame(log), **kw)
        .toPandas().sort_values("probe_id").reset_index(drop=True)
    )
    routed = _routed(spark.createDataFrame(probe), spark.createDataFrame(log),
                     ["a"], **kw)
    # each skinny form plans one Union; the routed plan unions two of them
    assert routed._jdf.queryExecution().executedPlan().toString().count("Union") == 3
    got = routed.toPandas().sort_values("probe_id").reset_index(drop=True)
    np.testing.assert_allclose(got["f0_value"].to_numpy("float64"),
                               want["f0_value"].to_numpy("float64"))
    plain = _routed(spark.createDataFrame(probe), spark.createDataFrame(log),
                    [], **kw)
    assert plain._jdf.queryExecution().executedPlan().toString().count("Union") == 1


@pytest.mark.parametrize("form", ["skinny", "intervals", "routed"])
def test_skinny_forms_zero_leakage_mutation_audit(spark, form):
    """The north-rule leakage contract, K-feature edition: mutating
    every log row with ts > T must not change any feature for probes at
    ts <= T — for each physical strategy."""
    from amazon_security_lake_transformation_library_spark.operators.asof import (
        asof_join_skinny,
        asof_join_skinny_intervals,
    )

    probe, builds = _mk_inputs(seed=37)
    log = _melt(builds)
    # the routed plan with the entities of at least 15 (the median)
    # change points named
    hot = list(log.groupby("conv_id")["ts"].nunique().loc[lambda b: b >= 15].index)
    assert 0 < len(hot) < log["conv_id"].nunique()
    fns = {
        "skinny": asof_join_skinny,
        "intervals": asof_join_skinny_intervals,
        "routed": lambda p, l, **kw: _routed(p, l, hot, **kw),
    }
    T = log["ts"].quantile(0.5)
    mutated = log.copy()
    mutated.loc[mutated["ts"] > T, "value"] = -9999.0

    kw = dict(sources=list(builds), on="conv_id", ts="ts")
    base = (
        fns[form](spark.createDataFrame(probe), spark.createDataFrame(log), **kw)
        .toPandas().sort_values("probe_id", kind="mergesort")
    )
    mut = (
        fns[form](spark.createDataFrame(probe), spark.createDataFrame(mutated), **kw)
        .toPandas().sort_values("probe_id", kind="mergesort")
    )
    sel = base["ts"] <= T
    assert sel.any()
    for s in builds:
        np.testing.assert_allclose(
            mut.loc[sel, f"{s}_value"].to_numpy("float64"),
            base.loc[sel, f"{s}_value"].to_numpy("float64"),
        )


# ------------------------------------------ the assembly chooser (auto)


def _auto_inputs(branch):
    """Inputs that steer asof_join_skinny_auto down one branch: a log at
    least a quarter the probe's size (single_pass); a smaller log on which
    the hot-entity rule names no entity (intervals); the same plus one
    entity with sqrt(UNION_FLOOR) change points and a probe large enough
    to stay 4x the log, so its estimated band comparisons pass
    UNION_FLOOR (routed)."""
    probe, builds = _mk_inputs(seed=41, n_probe=240 if branch == "single_pass"
                               else 1200)
    log = _melt(builds)
    if branch == "routed":
        from amazon_security_lake_transformation_library_spark.operators.salted import (
            UNION_FLOOR,
        )

        n_hot = math.isqrt(UNION_FLOOR)
        base = pd.Timestamp("2026-01-01")
        log = pd.concat([log, pd.DataFrame({
            "conv_id": "hot",
            "ts": base + pd.to_timedelta(np.arange(n_hot) * 7, unit="s"),
            "feature": [list(builds)[i % 3] for i in range(n_hot)],
            "value": np.arange(n_hot, dtype="float64"),
        })], ignore_index=True)
        hot_ts = np.arange(0, 7 * n_hot, 1.5)
        probe = pd.concat([probe, pd.DataFrame({
            "conv_id": "hot",
            "ts": base + pd.to_timedelta(hot_ts, unit="s"),
            "probe_id": np.arange(10_000, 10_000 + len(hot_ts), dtype="int64"),
        })], ignore_index=True)
    return probe, log, list(builds)


@pytest.mark.parametrize("strict", [False, True])
@pytest.mark.parametrize("branch", ["single_pass", "intervals", "routed"])
def test_skinny_auto_branch_equals_skinny(spark, branch, strict):
    """Each chooser branch is taken on the input built for it, and its
    answer equals asof_join_skinny row for row, both tie semantics. The
    no-hot branch is the plain interval plan: no semi/anti split."""
    from amazon_security_lake_transformation_library_spark.operators.asof import (
        SINGLE_PASS_LOG_RATIO,
        asof_join_skinny,
        asof_join_skinny_auto,
    )
    from amazon_security_lake_transformation_library_spark.operators.salted import (
        UNION_FLOOR,
        hot_rule,
    )

    probe, log, sources = _auto_inputs(branch)
    assert (len(log) >= SINGLE_PASS_LOG_RATIO * len(probe)) == (
        branch == "single_pass")
    # the pre-pass's estimate: p_e x b_e = b_e^2 x |probe| / sum(b)
    b = log.groupby("conv_id")["ts"].nunique().astype(float)
    rate = len(probe) / b.sum()
    hot = hot_rule(list((rate * b * b).items()), rate * (b * b).sum(),
                   spark.sparkContext.defaultParallelism, UNION_FLOOR, band=True)
    assert (hot == ["hot"]) == (branch == "routed")
    kw = dict(sources=sources, on="conv_id", ts="ts", strict=strict)
    out, plan = asof_join_skinny_auto(
        spark.createDataFrame(probe), spark.createDataFrame(log), **kw)
    assert plan == branch
    physical = out._jdf.queryExecution().executedPlan().toString()
    # each skinny form plans one Union of its own; the routed plan adds
    # the union of its two branches
    assert (physical.count("Union") > 1) == (branch == "routed"), physical

    got = out.toPandas().sort_values("probe_id", kind="mergesort") \
        .reset_index(drop=True)
    want = (
        asof_join_skinny(spark.createDataFrame(probe),
                         spark.createDataFrame(log), **kw)
        .toPandas().sort_values("probe_id", kind="mergesort")
        .reset_index(drop=True)
    )
    assert len(got) == len(want) == len(probe)
    assert list(got.columns) == list(want.columns)
    for s in sources:
        np.testing.assert_allclose(
            got[f"{s}_value"].to_numpy("float64"),
            want[f"{s}_value"].to_numpy("float64"),
        )
        gt = got[f"{s}_asof_ts"].astype("datetime64[us]")
        wt = want[f"{s}_asof_ts"].astype("datetime64[us]")
        assert (gt.isna() == wt.isna()).all()
        assert (gt.dropna() == wt.dropna()).all()
