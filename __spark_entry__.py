"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship north-rule feature build over the sf0.001
``events`` stream (entity=user_id): lag/lead, forward-fill, gap
sessionization, running aggregates, as-of join — one window shuffle.

``queries()`` / ``oracle_sql()`` — one entry per implemented operator
family from SURVEY.md §2 (reference-parity scalar ops, joins/aggs,
north-rule window/as-of ops, training-data dedup/similarity/text ops).
Every float that crosses the differential gate is rounded to a fixed
number of decimals on BOTH sides before ranking/comparison, and ``+ 0.0``
normalizes IEEE negative zero, so Spark and DuckDB agree bit-for-bit.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from amazon_security_lake_transformation_library_spark.functions.timeops import eventday
from amazon_security_lake_transformation_library_spark.operators import annotation as ann
from amazon_security_lake_transformation_library_spark.operators import asof as asof_ops
from amazon_security_lake_transformation_library_spark.operators import behavior as bhv
from amazon_security_lake_transformation_library_spark.operators import chatprep as chp
from amazon_security_lake_transformation_library_spark.operators import curation as cur
from amazon_security_lake_transformation_library_spark.operators import datasetops as dso
from amazon_security_lake_transformation_library_spark.operators import dedup as dd
from amazon_security_lake_transformation_library_spark.operators import encoders as enc
from amazon_security_lake_transformation_library_spark.operators import features as feat
from amazon_security_lake_transformation_library_spark.operators import fused as fused_ops
from amazon_security_lake_transformation_library_spark.operators import merge as merge_ops
from amazon_security_lake_transformation_library_spark.operators import repetition as rep
from amazon_security_lake_transformation_library_spark.operators import retrieval as ret
from amazon_security_lake_transformation_library_spark.operators import profiling as prof
from amazon_security_lake_transformation_library_spark.operators import scaling as scl
from amazon_security_lake_transformation_library_spark.operators import sketch as sk
from amazon_security_lake_transformation_library_spark.operators import similarity as sim
from amazon_security_lake_transformation_library_spark.operators import textstats as ts_ops
from amazon_security_lake_transformation_library_spark.operators import turnsim as tsim
from amazon_security_lake_transformation_library_spark.operators.salted import time_chunk
from amazon_security_lake_transformation_library_spark.synth import transcripts as synth

GAP_S = 1800
QUERY_VEC_IDS = list(range(10))
# hybrid router threshold for the synthesized flagship fixture: the hot
# conversation holds ~10% of rows (>500 at every bench scale), the Pareto
# tail stays under it -> both paths exercised. TEST THRESHOLD ONLY — the
# library default (fused.asof_turn_features_hybrid hot_threshold_rows=1M)
# is the scale-sane per-task row budget; 500 exists so the sf0.01 gate
# covers both router branches.
HYBRID_HOT_ROWS = 500


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------- entry

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the full per-event feature
    block over the events stream — every north-rule operator in one plan."""
    sf_dir = "/root/testdata/sf0.001"
    ev = _t(spark, sf_dir, "events")
    featd = _event_features(ev)
    build = _purchase_build(ev)
    return asof_ops.asof_join(
        featd, build, on="user_id", ts="ts", build_cols=["feature_val"]
    )


# ----------------------------------------------------- shared event pipelines

def _event_features(ev: DataFrame) -> DataFrame:
    """Per-event windowed feature block (single Exchange+Sort: all window
    exprs share one (user_id | ts, event_id) spec)."""
    w = feat.entity_window("user_id", ("ts", "event_id"))
    wc = feat.cumulative_window("user_id", ("ts", "event_id"))
    flag = feat.session_flag("ts", GAP_S, w)
    purchase_val = F.when(F.col("event_type") == "purchase", F.col("value"))
    return ev.select(
        "*",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.lag("event_type").over(w).alias("prev_type"),
        F.last(purchase_val, ignorenulls=True).over(wc).alias("purchase_ffill"),
        (F.sum(flag).over(wc) - F.lit(1)).cast("long").alias("session_id"),
        F.round(F.sum("value").over(wc), 4).alias("cum_value"),
    )


def _purchase_build(ev: DataFrame) -> DataFrame:
    """As-of build side: one feature row per (user_id, ts) — the latest
    purchase event at that instant (event_id desc wins), value rounded."""
    w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    return (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", F.round("value", 4).alias("feature_val"),
                F.row_number().over(w).alias("__rn"))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ------------------------------------------------------------------- queries

def _q_lag_lead(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = feat.entity_window("user_id", ("ts", "event_id"))
    return ev.select(
        "event_id", "user_id",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.lag("event_type").over(w).alias("prev_type"),
    )


def _q_ffill(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    wc = feat.cumulative_window("user_id", ("ts", "event_id"))
    purchase_val = F.when(F.col("event_type") == "purchase", F.col("value"))
    return ev.select(
        "event_id", "user_id",
        F.last(purchase_val, ignorenulls=True).over(wc).alias("purchase_ffill"),
    )


def _q_sessionize(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = feat.sessionize(ev, entity="user_id", ts_col="ts",
                          gap_seconds=GAP_S, order=("ts", "event_id"))
    return out.select("event_id", "user_id", "session_id")


def _q_session_stats(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    s = feat.sessionize(ev, entity="user_id", ts_col="ts",
                        gap_seconds=GAP_S, order=("ts", "event_id"))
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
        (F.max(us) - F.min(us)).alias("duration_us"),
    )


def _q_cumsum(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    wc = feat.cumulative_window("user_id", ("ts", "event_id"))
    return ev.select(
        "event_id", "user_id",
        F.round(F.sum("value").over(wc), 4).alias("cum_value"),
    )


def _q_asof(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    joined = asof_ops.asof_join(
        ev.select("event_id", "user_id", "ts"),
        _purchase_build(ev),
        on="user_id", ts="ts", build_cols=["feature_val"],
    )
    return joined.select("event_id", "user_id", "feature_val")


def _q_asof_forward(spark, sf_dir):
    # forward direction (pandas merge_asof direction='forward'): first
    # build row at-or-after the probe ts — the label-attachment shape
    # ("next outcome observed after this turn"); DuckDB oracles it
    # natively with ASOF ... ON e.ts <= b.ts
    ev = _t(spark, sf_dir, "events")
    joined = asof_ops.asof_join_directional(
        ev.select("event_id", "user_id", "ts"),
        _purchase_build(ev),
        on="user_id", ts="ts", build_cols=["feature_val"],
        direction="forward",
    )
    return joined.select("event_id", "user_id", "feature_val")


def _q_asof_nearest(spark, sf_dir):
    # nearest direction: closer of the backward/forward candidates,
    # exact-distance ties backward (pandas-compatible); oracle rebuilds
    # the same union + two-frame window choice in DuckDB SQL
    ev = _t(spark, sf_dir, "events")
    joined = asof_ops.asof_join_directional(
        ev.select("event_id", "user_id", "ts"),
        _purchase_build(ev),
        on="user_id", ts="ts", build_cols=["feature_val"],
        direction="nearest",
    )
    return joined.select("event_id", "user_id", "feature_val")


def _q_asof_interval(spark, sf_dir):
    # the interval-form strategy (build rows -> [ts, next_ts) validity
    # intervals, one SMJ match per probe; the zero-Exchange bucketed
    # flagship's join) must produce identical results to the union+window
    # primary (same oracle SQL). It also serves asof_join_events_range:
    # the interval form replaced the quadratic range join.
    ev = _t(spark, sf_dir, "events")
    joined = asof_ops.asof_join_interval(
        ev.select("event_id", "user_id", "ts"),
        _purchase_build(ev),
        on="user_id", ts="ts", build_cols=["feature_val"],
    )
    return joined.select("event_id", "user_id", "feature_val")


def _q_asof_multi(spark, sf_dir):
    """Multi-source point-in-time assembly: each probe event picks the
    latest PURCHASE value AND the latest ERROR value independently, as-of
    its own timestamp — the feature-VECTOR shape (one as-of per feature
    table, chained; each is the linear interval form). Physical strategy
    is AQE's call per build side: tiny builds broadcast (plan observed at
    sf0.001 — zero SMJ); at scale both become SMJs on the shared entity
    key, and over a bucketed layout the whole chain stays Exchange-free
    (each interval join adds one in-partition window + one merge)."""
    ev = _t(spark, sf_dir, "events")
    probe = ev.select("event_id", "user_id", "ts")

    def _build(etype: str, out: str) -> DataFrame:
        w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
        return (
            ev.filter(F.col("event_type") == etype)
            .select("user_id", "ts", F.round("value", 4).alias(out),
                    F.row_number().over(w).alias("__rn"))
            .filter(F.col("__rn") == 1).drop("__rn")
        )

    step1 = asof_ops.asof_join_interval(
        probe, _build("purchase", "purchase_val"),
        on="user_id", ts="ts", build_cols=["purchase_val"],
        asof_ts_col="purchase_asof_ts",
    )
    step2 = asof_ops.asof_join_interval(
        step1, _build("error", "error_val"),
        on="user_id", ts="ts", build_cols=["error_val"],
        asof_ts_col="error_asof_ts",
    )
    return step2.select("event_id", "user_id", "purchase_val", "error_val")


def _q_asof_stacked(spark, sf_dir):
    """Single-pass K-table point-in-time assembly (asof_join_stacked):
    same feature-vector semantics as `asof_join_events_multi` but THREE
    sources resolved in ONE Exchange + ONE Sort + ONE Window total — the
    stacked union form a feature store wants when K grows (chaining costs
    K joins; this is K `last(ignorenulls)` calls sharing one window spec,
    plan pinned in tests/test_asof_stacked.py)."""
    ev = _t(spark, sf_dir, "events")
    probe = ev.select("event_id", "user_id", "ts")

    def _build(etype: str) -> DataFrame:
        w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
        return (
            ev.filter(F.col("event_type") == etype)
            .select("user_id", "ts", F.round("value", 4).alias("val"),
                    F.row_number().over(w).alias("__rn"))
            .filter(F.col("__rn") == 1).drop("__rn")
        )

    out = asof_ops.asof_join_stacked(
        probe,
        {"purchase": _build("purchase"), "error": _build("error"),
         "click": _build("click")},
        on="user_id", ts="ts",
    )
    return out.select(
        "event_id", "user_id",
        F.col("purchase_val").alias("purchase_v"),
        F.col("error_val").alias("error_v"),
        F.col("click_val").alias("click_v"),
    )


def _q_asof_skinny(spark, sf_dir):
    """Same feature vectors as `asof_join_events_stacked` (literally the
    same oracle SQL) through the skinny/EAV feature-log strategy
    (asof_join_skinny): all K features read from ONE table, deduped in
    ONE window, resolved in ONE stacked window — no per-source scan
    branch, so the whole K-feature assembly is two Exchanges end-to-end
    (dedupe + stack) vs the per-table form's 2K."""
    ev = _t(spark, sf_dir, "events")
    probe = ev.select("event_id", "user_id", "ts")
    w = Window.partitionBy("event_type", "user_id", "ts").orderBy(
        F.col("event_id").desc()
    )
    log = (
        ev.filter(F.col("event_type").isin("purchase", "error", "click"))
        .select("event_type", "user_id", "ts",
                F.round("value", 4).alias("val"),
                F.row_number().over(w).alias("__rn"))
        .filter(F.col("__rn") == 1).drop("__rn")
    )
    out = asof_ops.asof_join_skinny(
        probe, log, sources=["purchase", "error", "click"],
        source_col="event_type", value_col="val", on="user_id", ts="ts",
    )
    return out.select(
        "event_id", "user_id",
        F.col("purchase_val").alias("purchase_v"),
        F.col("error_val").alias("error_v"),
        F.col("click_val").alias("click_v"),
    )


def _q_asof_skinny_iv(spark, sf_dir):
    """Same feature vectors again (same oracle SQL as the stacked and
    skinny forms) through the INTERVAL strategy
    (asof_join_skinny_intervals, §7.12): the log is widened once into
    K-vector validity intervals, then a sort-merge interval join — the
    form whose probe side goes zero-Exchange/zero-Sort over a bucketed
    layout and whose shuffle is proportional to the log, never the
    probe."""
    ev = _t(spark, sf_dir, "events")
    probe = ev.select("event_id", "user_id", "ts")
    w = Window.partitionBy("event_type", "user_id", "ts").orderBy(
        F.col("event_id").desc()
    )
    log = (
        ev.filter(F.col("event_type").isin("purchase", "error", "click"))
        .select("event_type", "user_id", "ts",
                F.round("value", 4).alias("val"),
                F.row_number().over(w).alias("__rn"))
        .filter(F.col("__rn") == 1).drop("__rn")
    )
    out = asof_ops.asof_join_skinny_intervals(
        probe, log, sources=["purchase", "error", "click"],
        source_col="event_type", value_col="val", on="user_id", ts="ts",
    )
    return out.select(
        "event_id", "user_id",
        F.col("purchase_val").alias("purchase_v"),
        F.col("error_val").alias("error_v"),
        F.col("click_val").alias("click_v"),
    )


def _q_asof_skinny_routed(spark, sf_dir):
    """Fourth physical strategy over the same oracle: the hot/tail
    router (asof_join_skinny_routed, §7.15) — entities with many change
    points take the union path, the tail keeps the interval SMJ. A low
    threshold forces BOTH branches to carry rows at sf0.01, so the gate
    exercises the split+union, not just one side."""
    ev = _t(spark, sf_dir, "events")
    probe = ev.select("event_id", "user_id", "ts")
    w = Window.partitionBy("event_type", "user_id", "ts").orderBy(
        F.col("event_id").desc()
    )
    log = (
        ev.filter(F.col("event_type").isin("purchase", "error", "click"))
        .select("event_type", "user_id", "ts",
                F.round("value", 4).alias("val"),
                F.row_number().over(w).alias("__rn"))
        .filter(F.col("__rn") == 1).drop("__rn")
    )
    out = asof_ops.asof_join_skinny_routed(
        probe, log, sources=["purchase", "error", "click"],
        source_col="event_type", value_col="val", on="user_id", ts="ts",
        # the fixture's per-user change-point counts span 22-56 with
        # median 39: threshold 39 puts ~half the entities on EACH branch
        hot_threshold_changes=39,
    )
    return out.select(
        "event_id", "user_id",
        F.col("purchase_val").alias("purchase_v"),
        F.col("error_val").alias("error_v"),
        F.col("click_val").alias("click_v"),
    )


def _q_asof_skinny_stream_form(spark, sf_dir):
    """Fifth physical strategy over the same stacked oracle: the
    STREAMING skinny enrichment's exact composition
    (streaming.pipeline.skinny_feature_intervals -> persisted widened
    table -> asof_enrich_stream_skinny(intervals=...), i.e. the
    stateless asof_join_over_intervals join) run in batch form — the
    live-tail path's correctness gate. The widened table is persisted
    here exactly as the per-refresh caller contract prescribes."""
    from amazon_security_lake_transformation_library_spark.streaming import pipeline as stp

    ev = _t(spark, sf_dir, "events")
    probe = ev.select("event_id", "user_id", "ts")
    w = Window.partitionBy("event_type", "user_id", "ts").orderBy(
        F.col("event_id").desc()
    )
    log = (
        ev.filter(F.col("event_type").isin("purchase", "error", "click"))
        .select("event_type", "user_id", "ts",
                F.round("value", 4).alias("val"),
                F.row_number().over(w).alias("__rn"))
        .filter(F.col("__rn") == 1).drop("__rn")
    )
    from amazon_security_lake_transformation_library_spark.caching import persist_tracked

    iv = persist_tracked(stp.skinny_feature_intervals(
        log, sources=["purchase", "error", "click"],
        source_col="event_type", value_col="val", on="user_id", ts="ts",
    ))
    out = stp.asof_enrich_stream_skinny(
        probe, intervals=iv, on="user_id", ts="ts",
    )
    return out.select(
        "event_id", "user_id",
        F.col("purchase_val").alias("purchase_v"),
        F.col("error_val").alias("error_v"),
        F.col("click_val").alias("click_v"),
    )


def _q_asof_tolerance(spark, sf_dir):
    # bounded-staleness as-of (north rule's "r.ts BETWEEN l.ts - horizon
    # AND l.ts"): a match older than the horizon is as good as no match —
    # the serving-time rule that stops a week-old feature from leaking
    # into a live prediction
    ev = _t(spark, sf_dir, "events")
    joined = asof_ops.asof_join(
        ev.select("event_id", "user_id", "ts"),
        _purchase_build(ev),
        on="user_id", ts="ts", build_cols=["feature_val"],
        tolerance_seconds=3600.0,
    )
    return joined.select("event_id", "user_id", "feature_val")


def _q_session_window(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    sw = ev.groupBy(
        F.session_window("ts", f"{GAP_S} seconds").alias("sw"), F.col("user_id")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return sw.select(
        "user_id",
        F.unix_micros(F.col("sw.start").cast("timestamp")).alias("sess_start_us"),
        F.unix_micros(F.col("sw.end").cast("timestamp")).alias("sess_end_us"),
        "n_events",
    )


def _q_tumbling_hourly(spark, sf_dir):
    """Tumbling event-time window (F.window, batch mode — the same
    expression the streaming rate-feature path uses; SURVEY §2.B
    'streaming: windows'). Oracle: epoch-floor bucketing."""
    ev = _t(spark, sf_dir, "events")
    w = ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )
    return w.select(
        F.unix_micros(F.col("w.start").cast("timestamp")).alias("win_start_us"),
        "event_type", "n_events", "sum_value",
    )


def _q_sliding_rate(spark, sf_dir):
    """Sliding event-time window (1 h window, 15 min slide): each event
    lands in 4 overlapping windows — the rate-feature shape. Oracle
    replicates the window-assignment rule by cross-joining each event to
    its 4 slide offsets."""
    ev = _t(spark, sf_dir, "events")
    w = ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return w.select(
        F.unix_micros(F.col("w.start").cast("timestamp")).alias("win_start_us"),
        "n_events",
    )


def _q_enum_case(spark, sf_dir):
    # Reference A14/A15/A17: enum lookup + matched-value dispatch + type_uid
    # arithmetic (transformation_function/app.py:118-124,227-251,68-70)
    ev = _t(spark, sf_dir, "events")
    activity = (
        F.when(F.col("event_type") == "view", 1)
        .when(F.col("event_type") == "click", 2)
        .when(F.col("event_type") == "purchase", 3)
        .when(F.col("event_type") == "error", 4)
        .otherwise(99)
    ).cast("long")
    return ev.select(
        "event_id",
        activity.alias("activity_id"),
        (F.lit(4002) * 100 + activity).cast("long").alias("type_uid"),
    )


def _q_json_locator(spark, sf_dir):
    # Reference A12 dot-locator over dynamic JSON (app.py:92-109)
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k_val"),
    )


def _q_eventday(spark, sf_dir):
    # Reference A16 partition-key derivation (app.py:73-81) + count
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(eventday("ts").alias("eventday")).agg(
        F.count(F.lit(1)).alias("n")
    )


def _q1_pricing(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _q3_top_orders(spark, sf_dir):
    cu = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    od = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    j = li.join(od, li.l_orderkey == od.o_orderkey).join(
        F.broadcast(cu), od.o_custkey == cu.c_custkey
    )
    g = j.groupBy("o_orderkey", "o_orderdate").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
        .alias("revenue")
    )
    return (
        g.orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate_str"),
            "revenue",
        )
    )


def _q_region_stats(spark, sf_dir):
    cu = _t(spark, sf_dir, "customer")
    na = F.broadcast(_t(spark, sf_dir, "nation"))
    re = F.broadcast(_t(spark, sf_dir, "region"))
    return (
        cu.join(na, cu.c_nationkey == na.n_nationkey)
        .join(re, na.n_regionkey == re.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("c_acctbal"), 2).alias("avg_acctbal"),
        )
    )


def _q_anti_join(spark, sf_dir):
    cu = _t(spark, sf_dir, "customer")
    od = _t(spark, sf_dir, "orders")
    no_orders = cu.join(od, cu.c_custkey == od.o_custkey, "left_anti")
    return no_orders.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


def _q_rollup(spark, sf_dir):
    od = _t(spark, sf_dir, "orders")
    return od.rollup("o_orderpriority", "o_orderstatus").agg(
        F.round(F.sum("o_totalprice"), 2).alias("sum_total"),
        F.count(F.lit(1)).alias("n_orders"),
    )


def _q_cube(spark, sf_dir):
    od = _t(spark, sf_dir, "orders")
    return od.cube("o_orderpriority", "o_orderstatus").agg(
        F.round(F.sum("o_totalprice"), 2).alias("sum_total"),
        F.count(F.lit(1)).alias("n_orders"),
    )


def _q_except(spark, sf_dir):
    od = _t(spark, sf_dir, "orders")
    all_cust = od.select("o_custkey")
    big_cust = od.filter(F.col("o_totalprice") > 150000).select("o_custkey")
    return all_cust.distinct().exceptAll(big_cust.distinct())


def _q_union_by_name(spark, sf_dir):
    # mixed-schema union (reference writes mixed event classes into one
    # file, app.py:396-401): unionByName with allowMissingColumns
    od = _t(spark, sf_dir, "orders")
    a = od.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", F.col("o_totalprice").alias("price")
    )
    b = od.filter(F.col("o_orderstatus") == "O").select(
        "o_orderkey", F.col("o_orderpriority").alias("priority")
    )
    return a.unionByName(b, allowMissingColumns=True)


def _q_topk_per_group(spark, sf_dir):
    od = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        od.select(
            "o_orderpriority", "o_orderkey", "o_totalprice",
            F.row_number().over(w).cast("long").alias("rank"),
        )
        .filter(F.col("rank") <= 3)
    )


def _q_distinct_users(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users")
    )


def _q_rolling_1h(spark, sf_dir):
    """Trailing 1-hour RANGE-frame rolling count/sum per user — 'activity
    velocity' features. One Exchange+Sort for both aggregates; the frame
    is a sliding two-pointer pass, never a self-join (features.py)."""
    ev = _t(spark, sf_dir, "events")
    out = feat.rolling_time_window(
        ev, "user_id", "ts",
        {"n_1h": F.count(F.lit(1)), "sum_1h_raw": F.sum("value")},
        window_seconds=3600.0,
    )
    return out.select(
        "event_id", "user_id", "n_1h",
        F.round(F.col("sum_1h_raw"), 4).alias("sum_1h"),
    )


def _q_pivot(spark, sf_dir):
    """groupBy().pivot() with an explicit value list (no extra distinct
    job, stable column order) — one hash aggregate, never a self-join."""
    od = _t(spark, sf_dir, "orders")
    p = (
        od.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.round(F.sum("o_totalprice"), 2))
    )
    return p.select(
        "o_orderpriority",
        F.col("F").alias("total_f"),
        F.col("O").alias("total_o"),
        F.col("P").alias("total_p"),
    )


def _q_unpivot(spark, sf_dir):
    """DataFrame.unpivot (melt): wide measures -> long (metric, val) rows.
    Pure narrow Expand — zero shuffle."""
    od = _t(spark, sf_dir, "orders")
    wide = od.select(
        "o_orderkey",
        F.col("o_totalprice").alias("total_price"),
        F.col("o_custkey").cast("double").alias("cust_key"),
    )
    return wide.unpivot("o_orderkey", ["total_price", "cust_key"], "metric", "val")


def _q_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS with grouping() flags (the general form of
    rollup/cube): one Expand + one hash aggregate."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("gs_orders")
    return spark.sql("""
        SELECT o_orderpriority, o_orderstatus,
               CAST(grouping(o_orderpriority) AS BIGINT) AS g_pri,
               CAST(grouping(o_orderstatus) AS BIGINT) AS g_st,
               round(sum(o_totalprice), 2) AS sum_total,
               count(*) AS n_orders
        FROM gs_orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
    """)


def _q_ntile(spark, sf_dir):
    """Rank-family window surface: ntile / percent_rank / cume_dist per
    user in event-time order (event_id tiebreak makes peers impossible,
    so both engines agree bit-for-bit)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id", "user_id",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


def _q_histogram(spark, sf_dir):
    """Fixed-width histogram of document lengths: bucket arithmetic + one
    hash agg on ~20 keys — the scale-safe distribution profile (vs exact
    quantiles, which sort)."""
    docs = _t(spark, sf_dir, "documents")
    b = F.least(F.floor(F.col("n_chars") / F.lit(100)), F.lit(19)).cast("long")
    return (
        docs.select(b.alias("bucket"), "n_chars")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


def _q_full_outer(spark, sf_dir):
    """Full-outer join of two pre-aggregated daily activity tables (the
    disjoint date ranges exercise both null sides); aggregate-then-join
    keeps the shuffled sides small."""
    od = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    ev = (
        _t(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return od.join(ev, "day", "full_outer").select(
        F.date_format("day", "yyyy-MM-dd").alias("day_str"),
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
    )


def _q_doc_stats(spark, sf_dir):
    return ts_ops.doc_stats(_t(spark, sf_dir, "documents"))


def _q_dedup_exact(spark, sf_dir):
    return dd.exact_dedup(_t(spark, sf_dir, "documents"))


def _q_minhash(spark, sf_dir):
    return dd.minhash_candidate_pairs(_t(spark, sf_dir, "documents"))


def _q_dedup_incremental(spark, sf_dir):
    """Incremental dedup (dedup.dedup_incremental, r5): even-doc_id docs
    play the already-indexed corpus (their band index built once via
    minhash_band_buckets — at scale a persisted table), odd docs the
    ingest batch; result = every (new, indexed) LSH candidate pairing.
    The corpus text is touched only to build the index here because the
    fixture has no persisted one; production reads the 3-column index."""
    docs = _t(spark, sf_dir, "documents")
    index = dd.minhash_band_buckets(docs.filter(F.col("doc_id") % 2 == 0))
    return dd.dedup_incremental(index, docs.filter(F.col("doc_id") % 2 == 1))


def _q_ngram_jaccard(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    pairs = dd.minhash_candidate_pairs(docs).select("doc_a", "doc_b")
    return dd.ngram_jaccard_pairs(docs, pairs)


def _q_jaccard_exact(spark, sf_dir):
    """EXACT threshold Jaccard self-join (dedup.jaccard_join_exact):
    prefix-filtered candidate generation (rare-first canonical shingle
    order) + exact verify — zero false negatives, never all-pairs. The
    oracle IS the all-pairs brute force, so the gate proves the prefix
    filter loses nothing at this scale."""
    return dd.jaccard_join_exact(
        _t(spark, sf_dir, "documents"), threshold=0.6
    )


ZORDER_BITS, ZORDER_BUCKET_BITS = 8, 4


def _q_zorder_events(spark, sf_dir):
    """Z-order clustering keys over events (plans/layout.zorder_key):
    Morton interleave of the 8-bit fixed-point ranks of (user_id, value)
    — ONE scalar min/max aggregate broadcast back, then a constant-folded
    JVM shift/and/or chain; z_bucket = top 4 bits (the "file" a
    repartitionByRange layout would put the row in)."""
    from amazon_security_lake_transformation_library_spark.plans import layout

    ev = _t(spark, sf_dir, "events")
    out = layout.zorder_key(ev, ["user_id", "value"], bits=ZORDER_BITS)
    shift = 2 * ZORDER_BITS - ZORDER_BUCKET_BITS
    return out.select(
        "event_id",
        "z_key",
        F.shiftright("z_key", shift).alias("z_bucket"),
    )


def _q_zorder_spans(spark, sf_dir):
    """Layout-quality diagnostic (plans/layout.bucket_spans): bucket rows
    by the top 4 Z-key bits (the "file" a range re-layout would cut) and
    report per-bucket row counts + per-dimension min/max spans — ONE
    16-group hash aggregate over the zorder_key projection."""
    from amazon_security_lake_transformation_library_spark.plans import layout

    ev = _t(spark, sf_dir, "events")
    z = layout.zorder_key(ev, ["user_id", "value"], bits=ZORDER_BITS)
    return layout.bucket_spans(
        z, ["user_id", "value"], bits=ZORDER_BITS,
        bucket_bits=ZORDER_BUCKET_BITS,
    ).select(
        "z_bucket", "n_rows",
        "min_user_id", "max_user_id",
        (F.round("min_value", 4) + 0.0).alias("min_value"),
        (F.round("max_value", 4) + 0.0).alias("max_value"),
    )


def _zorder_sql() -> str:
    """DuckDB replay of _q_zorder_events: identical double arithmetic for
    the quantization, identical bit interleave (generated term list)."""
    bits, n = ZORDER_BITS, 2
    terms = " | ".join(
        f"(((q_{i} >> {b}) & 1) << {b * n + i})"
        for b in range(bits)
        for i in range(n)
    )
    scale = float((1 << bits) - 1)
    shift = n * bits - ZORDER_BUCKET_BITS
    return f"""
        WITH s AS (
          SELECT min(user_id::DOUBLE) AS mn0, max(user_id::DOUBLE) AS mx0,
                 min(value::DOUBLE) AS mn1, max(value::DOUBLE) AS mx1
          FROM events
        ),
        q AS (
          SELECT event_id,
                 CASE WHEN mx0 > mn0 THEN
                   floor((user_id::DOUBLE - mn0) / (mx0 - mn0) * {scale})::BIGINT
                 ELSE 0 END AS q_0,
                 CASE WHEN mx1 > mn1 THEN
                   floor((value::DOUBLE - mn1) / (mx1 - mn1) * {scale})::BIGINT
                 ELSE 0 END AS q_1
          FROM events, s
        )
        SELECT event_id, ({terms}) AS z_key,
               (({terms}) >> {shift}) AS z_bucket
        FROM q
    """


def _zorder_spans_sql() -> str:
    """DuckDB replay of _q_zorder_spans: the _zorder_sql construction
    aggregated to per-bucket counts + dimension spans."""
    bits, n = ZORDER_BITS, 2
    terms = " | ".join(
        f"(((q_{i} >> {b}) & 1) << {b * n + i})"
        for b in range(bits)
        for i in range(n)
    )
    scale = float((1 << bits) - 1)
    shift = n * bits - ZORDER_BUCKET_BITS
    return f"""
        WITH s AS (
          SELECT min(user_id::DOUBLE) AS mn0, max(user_id::DOUBLE) AS mx0,
                 min(value::DOUBLE) AS mn1, max(value::DOUBLE) AS mx1
          FROM events
        ),
        q AS (
          SELECT user_id, value,
                 CASE WHEN mx0 > mn0 THEN
                   floor((user_id::DOUBLE - mn0) / (mx0 - mn0) * {scale})::BIGINT
                 ELSE 0 END AS q_0,
                 CASE WHEN mx1 > mn1 THEN
                   floor((value::DOUBLE - mn1) / (mx1 - mn1) * {scale})::BIGINT
                 ELSE 0 END AS q_1
          FROM events, s
        )
        SELECT (({terms}) >> {shift}) AS z_bucket,
               count(*)::BIGINT AS n_rows,
               min(user_id) AS min_user_id, max(user_id) AS max_user_id,
               round(min(value), 4) + 0.0 AS min_value,
               round(max(value), 4) + 0.0 AS max_value
        FROM q GROUP BY 1
    """


def _q_ngram_containment(spark, sf_dir):
    """Directional n-gram containment on the LSH candidate pairs — the
    asymmetric companion score to dedup_ngram_jaccard (catches short-doc-
    quoted-in-long-doc wrappers that symmetric Jaccard misses)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dd.minhash_candidate_pairs(docs).select("doc_a", "doc_b")
    return dd.ngram_containment_pairs(docs, pairs)


def _q_simhash(spark, sf_dir):
    return dd.simhash_dedup(_t(spark, sf_dir, "documents"))


def _q_dedup_clusters(spark, sf_dir):
    """Cluster-resolve step on top of the MinHash-LSH pairs: connected
    components via min-label propagation + pointer jumping (graph.py); the
    oracle computes the same fixpoint with a DuckDB recursive CTE —
    transitive closure on a different engine with a different algorithm.
    keep=true marks the one canonical doc per near-duplicate group."""
    from amazon_security_lake_transformation_library_spark.operators import graph as g

    docs = _t(spark, sf_dir, "documents")
    pairs = dd.minhash_candidate_pairs(docs).select("doc_a", "doc_b")
    return g.dedup_clusters(docs, pairs)


def _norm_zero(df: DataFrame, col: str) -> DataFrame:
    return df.withColumn(col, F.col(col) + F.lit(0.0))


def _q_ann_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    out = sim.cosine_topk(emb, QUERY_VEC_IDS, k=5)
    return _norm_zero(out.withColumn("rank", F.col("rank").cast("long")), "cos_sim")


def _q_ivf_assign(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    cents = sim.centroids_by_label(emb)
    out = sim.ivf_assign(emb, cents)
    return _norm_zero(
        out.withColumn("cell", F.col("cell").cast("long")), "cos_to_centroid"
    )


def _q_ivf_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    out = sim.ivf_topk(emb, QUERY_VEC_IDS, k=5, n_probe=2)
    return _norm_zero(out.withColumn("rank", F.col("rank").cast("long")), "cos_sim")


def _q_embedding_near_dup(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return sim.cosine_near_dup_pairs(emb, threshold=0.35)


def _q_multimodal_frames(spark, sf_dir):
    from amazon_security_lake_transformation_library_spark.operators import multimodal as mm
    docs = _t(spark, sf_dir, "documents")
    blobs = docs.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    return mm.fake_frame_sample(blobs)


def _q_multimodal(spark, sf_dir):
    # Binary-column plumbing: text -> utf-8 bytes stand in for an opaque
    # image/audio payload; "decode" derives metadata from the bytes via
    # mapInPandas (Arrow batches). See operators/multimodal.py.
    from amazon_security_lake_transformation_library_spark.operators import multimodal as mm
    docs = _t(spark, sf_dir, "documents")
    blobs = docs.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    return mm.fake_decode_meta(blobs)


def _q_multimodal_decode(spark, sf_dir):
    """REAL image decode (r5, VERDICT r4 #6): synthesize one solid-color
    24-bit BMP per document (deterministic pixel function of doc_id,
    built by multimodal.encode_bmp inside mapInPandas — real container
    bytes, header + bottom-up padded rows), then decode_image parses the
    payloads back with the pure-numpy backend and reports width/height/
    mode/mean-luma. Solid color makes the exact integer ITU-R 601 luma
    analytic, so the DuckDB oracle recomputes every output column from
    doc_id alone without a decoder."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from amazon_security_lake_transformation_library_spark.operators import multimodal as mm

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"].astype("int64"):
                w = 8 + int(doc_id) % 8
                h = 8 + (int(doc_id) * 3) % 8
                rgb = (int(doc_id) % 256, (int(doc_id) * 7) % 256,
                       (int(doc_id) * 13) % 256)
                px = np.tile(
                    np.array(rgb, dtype=np.uint8), (h, w, 1)
                )
                payloads.append(bytearray(mm.encode_bmp(px)))
            yield pd.DataFrame({"doc_id": pdf["doc_id"].astype("int64"),
                                "payload": payloads})

    blobs = docs.mapInPandas(gen, schema="doc_id long, payload binary")
    out = mm.decode_image(blobs)
    return out.select(
        "doc_id",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        "mode",
        F.round("mean_luma", 4).alias("mean_luma"),
    )


def _flagship_inputs(spark, sf_dir):
    """Deterministic synthesized transcripts, materialized ONCE to parquet
    (synth.ensure_fixture) so (a) the job reads a distributed scan instead
    of shipping rows through the driver, and (b) the DuckDB oracle reads
    the very same bytes via read_parquet."""
    d = synth.ensure_fixture(synth.sf_from_dir(sf_dir))
    return (
        spark.read.parquet(f"{d}/transcripts.parquet"),
        spark.read.parquet(f"{d}/conv_features.parquet"),
    )


def _q_flagship_transcripts(spark, sf_dir):
    # North-star flagship: the fused single-window block (ONE Exchange +
    # Sort for lag/lead, ffill, sessionize, cumsum AND the as-of join —
    # operators/fused.py; equality with the modular composition is
    # property-tested in tests/test_fused.py).
    t, cf = _flagship_inputs(spark, sf_dir)
    return fused_ops.asof_turn_features(t, cf, gap_seconds=GAP_S)


def _q_flagship_bucketed(spark, sf_dir):
    """Storage-partitioned flagship (SURVEY.md §4.2): the fixture is
    re-written ONCE per scale as conv_id-bucketed ts-sorted tables; the
    feature block + as-of then run with ZERO Exchange (plan pinned in
    tests/test_plans_quality.py) — the layout the engine would keep the
    10^12-turn Iceberg table in, where the write-once shuffle amortizes
    over every feature build."""
    from amazon_security_lake_transformation_library_spark.plans import bucketed

    t, cf = _flagship_inputs(spark, sf_dir)
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    tt, ct = f"transcripts_bk_{tag}", f"conv_features_bk_{tag}"
    bucketed.ensure_flagship_tables(
        spark, t, cf, tt, ct, path_root=f"/tmp/spark_graft_bucketed/{tag}"
    )
    # hot_threshold_rows=HYBRID_HOT_ROWS (test threshold, see its comment):
    # the fixture's ~10%-hot conversation exceeds it at every bench scale,
    # so the driver gate verifies the ROUTED plan (cold zero-Exchange SMJ
    # unioned with the salted hot slice) against the same DuckDB oracle.
    return bucketed.flagship_bucketed(
        spark, tt, ct, gap_seconds=GAP_S, hot_threshold_rows=HYBRID_HOT_ROWS
    )


def _q_flagship_salted(spark, sf_dir):
    # Hot-conversation-safe variant: chunk-and-carry over the fused union,
    # so even the as-of fill of the hot conversation spreads across tasks.
    t, cf = _flagship_inputs(spark, sf_dir)
    return fused_ops.asof_turn_features_salted(
        t, cf, time_chunk(chunk_seconds=6 * 3600), gap_seconds=GAP_S
    )


def _q_flagship_hybrid(spark, sf_dir):
    # Skew router: hot conv_ids (pre-pass count) -> salted path, Pareto
    # tail -> plain path; identical output, no salted constant factor on
    # the tail, no single-task floor on the hot entity.
    t, cf = _flagship_inputs(spark, sf_dir)
    return fused_ops.asof_turn_features_hybrid(
        t, cf, time_chunk(chunk_seconds=6 * 3600),
        hot_threshold_rows=HYBRID_HOT_ROWS, gap_seconds=GAP_S,
    )


# ------------------------------------------- reference-parity ingest surface

def _alb_line(od: DataFrame):
    """Deterministic well-formed ALB access-log line per order row —
    16 real tokens (quote-aware fields with spaces inside, '-' sentinels,
    a malformed request every 7th row, short-line tail fields absent)."""
    method = F.element_at(
        F.array(F.lit("GET"), F.lit("POST"), F.lit("PUT")),
        (F.col("o_orderkey") % 3 + 1).cast("int"),
    )
    def _s(c):  # decimal string of an integral column (same bytes as %d)
        return c.cast("long").cast("string")

    request = F.when(
        F.col("o_orderkey") % 7 == 0, F.lit('"badreq"')
    ).otherwise(
        F.concat(
            F.lit('"'), method, F.lit(" https://shop.example.com/o/"),
            _s(F.col("o_orderkey")), F.lit("?u="), _s(F.col("o_custkey")),
            F.lit(' HTTP/1.1"'),
        )
    )
    status = _s(F.col("o_orderkey") % 3 * 101 + 200)
    return F.concat_ws(
        " ",
        F.lit("https"),
        F.concat(F.date_format("o_orderdate", "yyyy-MM-dd"), F.lit("T00:00:00Z")),
        F.lit("my-elb"),
        # concat of casts, not format_string: java.util.Formatter costs
        # ~1 us per call and this ran 6x per row
        F.concat(
            F.lit("10."), _s(F.col("o_custkey") % 256), F.lit("."),
            _s((F.col("o_custkey") / 256).cast("long") % 256), F.lit("."),
            _s(F.col("o_orderkey") % 250 + 1), F.lit(":"),
            _s(F.col("o_orderkey") % 50000 + 1024),
        ),
        F.concat(F.lit("192.168.0."), _s(F.col("o_custkey") % 200 + 1), F.lit(":8080")),
        F.lit("0.001"), F.lit("0.002"), F.lit("0.000"),
        status,
        F.when(F.col("o_orderkey") % 5 == 0, F.lit("-")).otherwise(status),
        _s(F.col("o_orderkey") % 4096),
        _s(F.col("o_custkey") % 8192),
        request,
        F.concat(F.lit('"agent/'), _s(F.col("o_custkey") % 17), F.lit(' (Linux; x86_64)"')),
        F.lit("ECDHE-RSA-AES128-GCM-SHA256"),
        F.lit("TLSv1.2"),
    )


def _q_alb_parse(spark, sf_dir):
    # A7-A10: quote-aware tokenizer + ip:port / request-triple splits +
    # '-' sentinel + short-line padding (sources/alb.py; reference
    # alb_preprocessor.py:34-110). The oracle re-derives every field
    # directly from the order columns — the Spark side must tokenize the
    # constructed line and recover them exactly.
    from amazon_security_lake_transformation_library_spark.sources.alb import parse_alb_lines

    od = _t(spark, sf_dir, "orders")
    lines = od.select("o_orderkey", _alb_line(od).alias("value"))
    parsed = parse_alb_lines(lines, keep_cols=("o_orderkey",))
    return parsed.select(
        "o_orderkey", "type", "time", "elb", "client_ip", "client_port",
        "target_ip", "target_port", "elb_status_code", "target_status_code",
        "received_bytes", "sent_bytes", "request_method", "request_url",
        "request_protocol", "request", "user_agent", "ssl_protocol",
        "conn_trace_id",
    )


def _q_sysmon_kv(spark, sf_dir):
    # A11: Sysmon Description CRLF/': ' parser with Line{n} fallback keys
    # (sources/sysmon.py; reference sysmon_preprocessor.py:23-31). Oracle
    # re-derives the expected map values straight from the event columns.
    from amazon_security_lake_transformation_library_spark.sources.sysmon import (
        description_to_map,
    )

    ev = _t(spark, sf_dir, "events")
    ts_str = F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd HH:mm:ss.SSS")
    desc = F.concat_ws(
        "\r\n",
        F.concat(F.lit("UtcTime: "), ts_str),
        F.format_string("ProcessId: %d", F.col("user_id")),
        F.format_string("Image: C:\\apps\\%s.exe", F.col("event_type")),
        F.lit("orphan line without delimiter"),
    )
    m = description_to_map(desc)
    return ev.select(
        "event_id",
        F.try_element_at(m, F.lit("UtcTime")).alias("utc_time"),
        F.try_element_at(m, F.lit("ProcessId")).alias("process_id"),
        F.try_element_at(m, F.lit("Image")).alias("image"),
        F.try_element_at(m, F.lit("_line_4")).alias("line4"),
    )


_DEMO_MAPPING = {
    "custom_source_events": {
        "source_name": "events_demo",
        "matched_field": "$.event_type",
        "timestamp": {"field": "$.ts_str", "format": "%Y-%m-%d %H:%M:%S"},
        "ocsf_mapping": {
            "view": {
                "schema": "web_activity",
                "schema_mapping": {
                    "activity_id": 1,
                    "event_uid": "$.event_id",
                    "actor": {"user": {"uid": "$.user_id"}},
                    "severity_id": {
                        "enum": {
                            "evaluate": "$.event_type",
                            "values": {"view": 1, "click": 2},
                            "other": 99,
                        }
                    },
                    "time": "$.ts_str",
                },
            },
            "click": {
                "schema": "web_activity",
                "schema_mapping": {
                    "activity_id": 2,
                    "event_uid": "$.event_id",
                    "actor": {"user": {"uid": "$.user_id"}},
                    "severity_id": {
                        "enum": {
                            "evaluate": "$.event_type",
                            "values": {"view": 1, "click": 2},
                            "other": 99,
                        }
                    },
                    "time": "$.ts_str",
                },
            },
        },
    }
}


def _demo_transform(spark, sf_dir):
    from amazon_security_lake_transformation_library_spark.functions.mapping_compiler import (
        MappingCompiler,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type",
        F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd HH:mm:ss")
        .alias("ts_str"),
    )
    return MappingCompiler(_DEMO_MAPPING).transform(ev)


def _q_mapping_dispatch(spark, sf_dir):
    # A12-A18+A22 through the REAL compiled path: dot locators, literal
    # stamping, enum lookup, matched_field dispatch, ts parse -> eventday,
    # envelope columns, mixed-type union (functions/mapping_compiler.py;
    # reference app.py:112-148, 204-251).
    res = _demo_transform(spark, sf_dir)
    return res.mapped.select(
        "source", "target_schema", "eventday",
        F.col("activity_id").cast("long").alias("activity_id"),
        "event_uid",
        F.col("actor.user.uid").alias("actor_uid"),
        F.col("severity_id").cast("long").alias("severity_id"),
        "time",
    )


def _q_mapping_rejects(spark, sf_dir):
    # A21: reject routing persisted with a reason (fixes the reference's
    # log-and-drop, app.py:414-415).
    res = _demo_transform(spark, sf_dir)
    return res.rejects.groupBy("source", "reject_reason").agg(
        F.count(F.lit(1)).alias("n")
    )


# ------------------------------------------------- ingest I/O surface (A1-A6)

# Inline two-source routing config (sources_config.json shape): exercises
# metadata-field Kinesis routing and prefix-glob S3 routing without a
# dependency on the reference checkout at query time.
_INGEST_CONFIG = {
    "sources": [
        {
            "name": "aws-alb",
            "input_paths": {
                "kinesis": {"enabled": True, "metadata_field": "source"},
                "s3": {
                    "enabled": True,
                    "source_buckets": [
                        {"bucket_name": "ingest", "prefix": "logs/alb/*"}
                    ],
                },
            },
        },
        {
            "name": "windows-sysmon",
            "input_paths": {
                "kinesis": {"enabled": True, "metadata_field": "source"},
                "s3": {
                    "enabled": True,
                    "source_buckets": [
                        {"bucket_name": "ingest", "prefix": "sysmon/archive/*"}
                    ],
                },
            },
        },
    ]
}


def _ingest_registry():
    from amazon_security_lake_transformation_library_spark.sources.registry import SourceRegistry

    return SourceRegistry.from_config(_INGEST_CONFIG, mappings={})


def _q_kinesis_decode(spark, sf_dir):
    """A1+A3+A4: base64 Kinesis payload decode (app.py:331), s3:TestEvent
    control filter (app.py:262-264), metadata-field source routing
    (app.py:151-175). Records synthesized from events; the differential
    pits Spark base64/unbase64/from_json against DuckDB
    to_base64/from_base64/json — encode AND decode must agree
    cross-engine."""
    from pyspark.sql import types as T

    from amazon_security_lake_transformation_library_spark.sources import lines as ln

    ev = _t(spark, sf_dir, "events")
    eid = F.col("event_id")
    payload = F.concat(
        F.lit('{"source":"'),
        F.when(eid % 2 == 0, F.lit("aws-alb")).otherwise(F.lit("windows-sysmon")),
        F.lit('","message":"evt-'),
        eid.cast("string"),
        F.lit('"}'),
    )
    rec = ev.select(
        "event_id",
        F.base64(F.encode(payload, "UTF-8")).alias("data"),
        F.when(eid % 11 == 0, F.lit("s3:TestEvent")).alias("Event"),
    )
    rec = ln.drop_control_events(rec)
    dec = ln.decode_kinesis(rec)
    schema = T.StructType(
        [T.StructField("source", T.StringType()), T.StructField("message", T.StringType())]
    )
    parsed = F.from_json(F.col("payload"), schema)
    return dec.select(
        "event_id",
        F.col("data").alias("b64"),
        "payload",
        _ingest_registry().kinesis_source_col(parsed, has_metadata=False).alias("src"),
        parsed.getField("message").alias("message"),
    )


def _q_s3_key_routing(spark, sf_dir):
    """A2(url-decode)+A5: URL-decoded object keys (app.py:272) + prefix-glob
    source routing (app.py:84-89,178-201) as plan-time Column expressions
    over a synthesized key table. Unrouted keys yield NULL src (detect
    returns None)."""
    from amazon_security_lake_transformation_library_spark.sources import lines as ln

    ev = _t(spark, sf_dir, "events")
    eid = F.col("event_id")
    raw_key = (
        F.when(eid % 7 == 0, F.concat(F.lit("other%2Fmisc%2Ff"), eid.cast("string")))
        .when(
            eid % 2 == 0,
            F.concat(
                F.lit("logs%2Falb%2Fyear%3D2024%2Ffile%20"),
                eid.cast("string"),
                F.lit(".log.gz"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("sysmon%2Farchive%2Fevt%20"), eid.cast("string"), F.lit(".json.gz")
            )
        )
    )
    # carry the bucket as a real data column: passing F.lit("ingest")
    # straight into the route CASE would compare lit==lit and trip
    # pyspark's "trivially true equals predicate" WARN in the bench stderr
    keys = ev.select(
        "event_id", raw_key.alias("raw_key"), F.lit("ingest").alias("bucket")
    )
    dec = ln.url_decode_key(F.col("raw_key"))
    return keys.select(
        "event_id",
        "raw_key",
        dec.alias("key"),
        _ingest_registry().s3_source_col(F.col("bucket"), dec).alias("src"),
    )


def _q_json_fallback(spark, sf_dir):
    """A6: typed JSON-lines parse with the reference's {"rawData": line}
    fallback for corrupt lines (app.py:304-308) — corrupt rows keep the
    raw line, parsed rows get typed columns."""
    from pyspark.sql import types as T

    from amazon_security_lake_transformation_library_spark.sources import lines as ln

    ev = _t(spark, sf_dir, "events")
    eid = F.col("event_id")
    line = F.when(
        eid % 7 == 0, F.concat(F.lit("not json "), eid.cast("string"))
    ).otherwise(
        F.concat(
            F.lit('{"a":'), eid.cast("string"), F.lit(',"b":"x'), eid.cast("string"), F.lit('"}')
        )
    )
    schema = T.StructType(
        [T.StructField("a", T.LongType()), T.StructField("b", T.StringType())]
    )
    return ln.parse_json_lines(
        ev.select("event_id", line.alias("value")), schema, keep_cols=("event_id",)
    )


_GZ_FIXTURE_DIR = "/tmp/spark_graft_ingest_gz"
_GZ_FILES, _GZ_LINES_PER_FILE = 3, 5000


def _ensure_gz_fixture() -> str:
    """Deterministic gzip'd line files (A2): both engines must decode the
    same bytes — Spark via the text source codec, DuckDB via read_csv
    compression detection."""
    import gzip

    os.makedirs(_GZ_FIXTURE_DIR, exist_ok=True)
    for k in range(_GZ_FILES):
        p = f"{_GZ_FIXTURE_DIR}/lines-{k}.log.gz"
        if not os.path.exists(p):
            buf = "".join(
                f"{k * _GZ_LINES_PER_FILE + i},payload-{k * _GZ_LINES_PER_FILE + i},"
                f"{(k * _GZ_LINES_PER_FILE + i) * 7 % 1000}\n"
                for i in range(_GZ_LINES_PER_FILE)
            )
            tmp = p + ".tmp"
            with gzip.open(tmp, "wt") as f:
                f.write(buf)
            os.replace(tmp, p)
    return _GZ_FIXTURE_DIR


def _q_gzip_line_scan(spark, sf_dir):
    """A2: gzip'd line-file scan (app.py:283-295) — codec decompression +
    line split happen inside the distributed text source, one task per
    file (bigger-than-split gz files stay single-task: gzip is not
    splittable, which is why the reference's one-object-per-Lambda shape
    maps to one-file-per-task here)."""
    from amazon_security_lake_transformation_library_spark.sources.lines import read_lines

    d = _ensure_gz_fixture()
    raw = read_lines(spark, f"{d}/*.log.gz")
    parts = F.split(F.col("value"), ",")
    return raw.select(
        parts.getItem(0).cast("long").alias("line_id"),
        parts.getItem(1).alias("payload"),
        parts.getItem(2).cast("long").alias("num"),
    )


# ------------------------------------------------------ BPE subword tokenizer

_BPE_FIX_DIR = "/tmp/spark_graft_bpe_oracle"


def _ensure_bpe_oracle(sf_dir: str) -> str:
    """Precomputed-fixture oracle: DuckDB cannot run BPE, so the expected
    column is materialized by the SAME pure-Python encoder
    (operators/bpe.py, deterministic embedded merges table) over the SAME
    parquet bytes via pandas — no Spark involved. The differential then
    gates the Spark/Arrow plumbing: pandas_udf batch shape, NULL
    handling, dtype, and executor-side module distribution."""
    import pyarrow.parquet as pq

    from amazon_security_lake_transformation_library_spark.operators import bpe

    tag = os.path.basename(sf_dir.rstrip("/"))
    out = f"{_BPE_FIX_DIR}/{tag}.parquet"
    if not os.path.exists(out):
        os.makedirs(_BPE_FIX_DIR, exist_ok=True)
        t = pq.read_table(
            f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
        ).to_pandas()
        t["n_subwords_bpe"] = bpe.bpe_subword_count_pd(t["text"])
        tmp = out + ".tmp"
        t[["doc_id", "n_subwords_bpe"]].to_parquet(tmp)
        os.replace(tmp, out)
    return out


def _q_doc_bpe_subwords(spark, sf_dir):
    """Real subword tokenizer stage (plug-in for textstats' chars/4
    estimate): BPE over a deterministic learned merges table, executed as
    an Arrow-batched pandas_udf — the one intentional Python stage in the
    text path."""
    from amazon_security_lake_transformation_library_spark.operators import bpe

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", bpe.bpe_subword_count(F.col("text")).alias("n_subwords_bpe")
    )


def _bpe_oracle_sql() -> str:
    sf = os.environ.get("SPARK_GRAFT_ORACLE_SF", "0.01")
    fix = _ensure_bpe_oracle(f"/root/testdata/sf{sf}")
    return f"SELECT doc_id, n_subwords_bpe FROM read_parquet('{fix}')"


_LANGID_FIX_DIR = "/tmp/spark_graft_langid_oracle"


def _ensure_langid_oracle(sf_dir: str) -> str:
    """Precomputed-fixture oracle (same pattern as the BPE stage): DuckDB
    cannot run the trigram-profile classifier, so the expected column is
    materialized by the SAME pure-numpy batch classifier
    (operators/langid.py, profiles trained from the embedded SAMPLES)
    over the SAME parquet bytes via pandas — no Spark involved. The
    differential then gates the Spark/Arrow plumbing: pandas_udf batch
    shape, closure-shipped profiles, dtype, executor-side distribution."""
    import pyarrow.parquet as pq

    from amazon_security_lake_transformation_library_spark.operators import langid as L

    tag = os.path.basename(sf_dir.rstrip("/"))
    # key the cached fixture on the classifier version so a /tmp fixture
    # left behind by an older classifier can never mismatch the live code
    out = f"{_LANGID_FIX_DIR}/{tag}_v{L.VERSION}.parquet"
    if not os.path.exists(out):
        os.makedirs(_LANGID_FIX_DIR, exist_ok=True)
        t = pq.read_table(
            f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
        ).to_pandas()
        profiles = L.train_profiles(L.SAMPLES)
        t["lang_trigram"] = L.classify_batch(t["text"], profiles)
        tmp = out + ".tmp"
        t[["doc_id", "lang_trigram"]].to_parquet(tmp)
        os.replace(tmp, out)
    return out


def _q_doc_lang_trigram(spark, sf_dir):
    """Trigram-profile language ID (langid.py) as an Arrow-batched
    pandas_udf over the documents fixture — the 'real model' plug-in for
    doc_stats' stopword heuristic, now under the differential gate."""
    from amazon_security_lake_transformation_library_spark.operators import langid as L

    docs = _t(spark, sf_dir, "documents")
    profiles = L.train_profiles(L.SAMPLES)
    return docs.select(
        "doc_id", L.lang_id_ngram(F.col("text"), profiles).alias("lang_trigram")
    )


def _langid_oracle_sql() -> str:
    sf = os.environ.get("SPARK_GRAFT_ORACLE_SF", "0.01")
    fix = _ensure_langid_oracle(f"/root/testdata/sf{sf}")
    return f"SELECT doc_id, lang_trigram FROM read_parquet('{fix}')"


# ------------------------------------- repetition / corpus-quality surface

def _q_repetition_stats(spark, sf_dir):
    """Gopher-style per-document repetition signals (repetition.py): the
    Spark side computes every signal with a shuffle-free sorted-run fold
    inside the row; the oracle deliberately uses the classical
    UNNEST -> GROUP BY gram algorithm, so the gate compares two
    independent algorithms, not one transliterated query."""
    return rep.repetition_stats(_t(spark, sf_dir, "documents"))


def _q_line_stats(spark, sf_dir):
    """Duplicate-line signals over synthesized multi-line documents (the
    fixture's text is single-line; folding each run of 5 words into a
    line exercises the real line machinery deterministically)."""
    docs = _t(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    n_lines = F.greatest(
        F.ceil(F.size(ws) / F.lit(5.0)).cast("int"), F.lit(1)
    )
    lines = F.transform(
        F.sequence(F.lit(0), n_lines - F.lit(1)),
        lambda i: F.concat_ws(" ", F.slice(ws, i * F.lit(5) + F.lit(1), 5)),
    )
    multi = docs.select(
        "doc_id", F.array_join(lines, "\n").alias("text")
    )
    return rep.line_stats(multi)


def _q_top_ngrams(spark, sf_dir):
    """Corpus-wide exact top-20 word bigrams: one gram-keyed exchange with
    map-side partial agg + TakeOrderedAndProject."""
    return rep.top_ngrams(_t(spark, sf_dir, "documents"), n=2, k=20)


def _q_tfidf_top_terms(spark, sf_dir):
    """Top-3 smoothed TF-IDF terms per document: explode -> (doc, term)
    hash agg, broadcast document-frequency join, WindowGroupLimit top-k."""
    return rep.tf_idf_top_terms(_t(spark, sf_dir, "documents"), k=3)


def _q_pmi_collocations(spark, sf_dir):
    """Top-20 adjacent-word collocations by PMI (min pair count 5): one
    token scan feeds bigram + unigram hash aggs, vocabulary-sized
    broadcast joins, TakeOrderedAndProject top-k."""
    return rep.pmi_collocations(_t(spark, sf_dir, "documents"), k=20, min_count=5)


def _pii_raw_col() -> F.Column:
    """Deterministic PII-bearing text derived from the documents fixture:
    a 40-char prefix plus doc_id-keyed email / IPv4 / account-number
    injections, so the scrubber sees both clean and dirty rows."""
    d = F.col("doc_id")
    return F.concat(
        F.substring("text", 1, 40),
        F.when(
            d % 3 == 0,
            F.concat(F.lit(" contact u"), d.cast("string"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            d % 4 == 0,
            F.concat(F.lit(" from 192.168."), (d % 200).cast("string"), F.lit(".25")),
        ).otherwise(F.lit("")),
        F.when(
            d % 5 == 0,
            F.concat(F.lit(" acct "), F.lpad((d * 937).cast("string"), 8, "0")),
        ).otherwise(F.lit("")),
    )


def _q_kmv_distinct_users(spark, sf_dir):
    """KMV distinct-count sketch (sketch.py): per event_type estimate of
    distinct users from the k=64 smallest md5 fractions — the shuffle
    carries n_partitions*k candidates instead of every distinct key. The
    oracle recomputes the same order statistic from the FULL distinct set
    in SQL (no bounded-state reduction), so the gate checks the
    mapInPandas partial k-min against a different algorithm."""
    from amazon_security_lake_transformation_library_spark.operators import sketch as sk

    return sk.kmv_distinct(_t(spark, sf_dir, "events"), "event_type", "user_id", k=64)


def _q_merge_orders_cdc(spark, sf_dir):
    """CDC merge batch applied to orders (merge.py): every 10th key is
    updated (price +1000, status U), every 40th deleted, base never
    shuffled (broadcast anti-join on the update keys)."""
    from amazon_security_lake_transformation_library_spark.operators import merge as mg

    orders = _t(spark, sf_dir, "orders")
    upd = (
        orders.filter(F.col("o_orderkey") % 10 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1000.0))
        .withColumn("o_orderstatus", F.lit("U"))
        .withColumn("__deleted", F.col("o_orderkey") % 40 == 0)
    )
    return mg.merge_upsert(orders, upd, "o_orderkey", deleted_col="__deleted")


def _q_corpus_filter(spark, sf_dir):
    """The composed Gopher quality gate (repetition.corpus_filter): all
    rules in one shuffle-free projection; keep + fired-rule names."""
    return rep.corpus_filter(_t(spark, sf_dir, "documents"))


def _q_conv_quality_filter(spark, sf_dir):
    """Conversation-level quality gate: pure composition — rendered
    conversations (chatprep.render_conversations) flow through the
    Gopher-style corpus_filter unchanged, so whole transcripts get
    keep/drop + fired-rule reasons. One conv_id agg + the shuffle-free
    signal projection."""
    t, _ = _flagship_inputs(spark, sf_dir)
    rendered = chp.render_conversations(t).select(
        F.col("conv_id").alias("doc_id"), F.col("rendered").alias("text")
    )
    return rep.corpus_filter(rendered)


def _q_scrub_pii(spark, sf_dir):
    """Redaction pass (textstats.scrub_pii): mask email/IPv4/long-digit
    spans and count matches on the original text — one codegen'd
    projection, no shuffle, no Python."""
    docs = _t(spark, sf_dir, "documents")
    raw = docs.select("doc_id", _pii_raw_col().alias("text"))
    return ts_ops.scrub_pii(raw)


# ------------------------------------------------- dataset-assembly surface

def _q_dataset_split(spark, sf_dir):
    """Deterministic leakage-safe train/val/test split at USER granularity
    over the events stream: every event of a user carries the same label
    regardless of partitioning or cluster size. Pure projection — the
    md5-threshold CASE pipelines inside the scan (datasetops.split_assign)."""
    ev = _t(spark, sf_dir, "events")
    return dso.split_assign(ev, "user_id").select("event_id", "user_id", "split")


def _q_split_by_cluster(spark, sf_dir):
    """Near-dup-atomic split (datasetops.split_by_cluster): cluster map =
    min doc_id per md5(first-8-words prefix) — 24 docs cluster at sf0.01
    — then the md5-threshold split hashed on the CLUSTER id, so no near-
    dup pair ever straddles train/test. One fingerprint agg + one id join
    + the zero-shuffle split projection."""
    docs = _t(spark, sf_dir, "documents")
    fp = F.md5(F.array_join(F.slice(F.split(F.col("text"), " "), 1, 8), " "))
    keyed = docs.select("doc_id", fp.alias("_fp"))
    canon = keyed.groupBy("_fp").agg(F.min("doc_id").alias("cluster_id"))
    cluster_map = keyed.join(canon, "_fp").select("doc_id", "cluster_id")
    out = dso.split_by_cluster(docs, cluster_map)
    return out.select("doc_id", "cluster_id", "split")


def _q_split_temporal(spark, sf_dir):
    """Temporal split with a purge/embargo strip
    (datasetops.split_temporal_embargo): train strictly before
    cutoff - 2 days, test at/after the cutoff, the 2-day strip labeled
    'embargo' so look-back features cannot straddle the boundary. Pure
    narrow projection — zero shuffle, cluster-size invariant."""
    ev = _t(spark, sf_dir, "events")
    out = dso.split_temporal_embargo(
        ev, cutoff="2024-01-22 00:00:00", embargo_seconds=172800.0
    )
    return out.select("event_id", "split")


def _q_sample_stratified(spark, sf_dir):
    """Data-mixture rebalancing: deterministically downsample English docs
    to 25% while keeping every other language — hash-threshold keep rule,
    monotone in the rate, zero shuffle."""
    docs = _t(spark, sf_dir, "documents")
    return dso.sample_stratified(
        docs, "lang", {"en": 0.25}, entity_col="doc_id"
    ).select("doc_id", "lang")


def _q_pack_sequences(spark, sf_dir):
    """Concat-and-chunk pretraining packer: documents laid end-to-end per
    source shard (ordered by doc_id), sequence id = floor(running token
    offset / 2048). One hash exchange + one in-partition running window."""
    docs = _t(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", "source",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    return dso.pack_greedy(sized, "source", "doc_id", "n_tokens", budget=2048)


def _q_doc_chunks(spark, sf_dir):
    """Sliding-window context chunking (size 64 tokens, stride 48): the
    long-document preparation step. Explode-only plan — no shuffle."""
    return dso.chunk_tokens(_t(spark, sf_dir, "documents"), size=64, stride=48)


def _q_positive_pairs(spark, sf_dir):
    """Contrastive positives (datasetops.positive_pairs): adjacent
    sliding-window chunks of the same document paired via one lead()
    window over (doc_id, chunk_idx) — the self-supervised positive for
    embedding training; combine with negative_samples_docs for the full
    triple."""
    return dso.positive_pairs(
        _t(spark, sf_dir, "documents"), size=64, stride=48
    )


def _q_contrastive_triples(spark, sf_dir):
    """The assembled contrastive training set — pure composition of
    three gated operators: chunk-adjacent positives
    (datasetops.positive_pairs) x hash-ring negatives
    (curation.negative_samples over the chunk table, chunk id =
    doc_id#chunk_idx) joined back to chunk text. One declarative plan:
    explode-only chunking, one lead window, one bucket window, two
    skinny joins — the final (anchor, positive, negative) artifact an
    embedding-model trainer reads."""
    docs = _t(spark, sf_dir, "documents")
    chunks = dso.chunk_tokens(docs, size=64, stride=48).select(
        F.concat_ws("#", F.col("doc_id").cast("string"), F.col("chunk_idx"))
        .alias("cid"),
        "doc_id", "chunk_idx", "chunk_text",
    )
    pos = dso.positive_pairs(docs, size=64, stride=48).select(
        F.concat_ws("#", F.col("doc_id").cast("string"), F.col("chunk_idx"))
        .alias("cid"),
        "doc_id", "chunk_idx", "anchor_text", "positive_text",
    )
    negs = cur.negative_samples(
        chunks.select("cid"), id_col="cid", k=2, n_buckets=8
    )
    neg_text = chunks.select(
        F.col("cid").alias("neg_id"), F.col("chunk_text").alias("negative_text")
    )
    return (
        pos.join(negs, "cid")
        .join(neg_text, "neg_id")
        .select(
            "doc_id", "chunk_idx", "neg_rank",
            "anchor_text", "positive_text", "negative_text",
        )
    )


def _q_decontaminate(spark, sf_dir):
    """Train/eval contamination report via shared word 8-grams (even
    doc_ids play train, odd play eval): fingerprint explode -> distinct ->
    semi-equi-join on fp -> per-doc count. Never an all-pairs doc join."""
    docs = _t(spark, sf_dir, "documents")
    return dso.decontaminate(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
    )


EWMA_HL_S = 3 * 86400.0  # 3-day halflife over the 30-day events fixture


def _q_ewma_events(spark, sf_dir):
    """Time-decayed EWMA of event value per user (JVM window form): the
    reference-weight cancellation makes it two running sums sharing one
    Exchange+Sort — the feature-store 'decayed activity' op with zero
    Python. Envelope: exact while an entity spans < ~1000 halflives."""
    ev = _t(spark, sf_dir, "events")
    out = feat.ewma_time_decay(
        ev, "user_id", "ts", "value", EWMA_HL_S, order_tiebreak="event_id"
    )
    return out.select(
        "event_id", "user_id", F.round(F.col("ewma"), 4).alias("ewma")
    )


def _q_ewma_events_grouped(spark, sf_dir):
    """Same semantics via applyInPandas (grouped-map Arrow UDF surface):
    pandas' renormalizing ewm(times=...) scan — numerically stable for
    unbounded entity time ranges. Hash-checked against the SAME DuckDB
    oracle as the JVM form: two independent algorithms, one answer."""
    ev = _t(spark, sf_dir, "events")
    out = feat.ewma_time_decay_grouped(
        ev, "user_id", "ts", "value", EWMA_HL_S, order_tiebreak="event_id"
    )
    return out.select(
        "event_id", "user_id", F.round(F.col("ewma"), 4).alias("ewma")
    )


def _q_iqr_by_user(spark, sf_dir):
    """Grouped-agg pandas UDAF (operators/udx.iqr): whole-group Series
    arrives via Arrow, no JVM Aggregator needed. The one driver query
    where per-group assembly on a single task is the point (UDAF
    surface); algebraic aggregates stay on builtins."""
    from amazon_security_lake_transformation_library_spark.operators import udx
    return udx.iqr_by_group(_t(spark, sf_dir, "events"), "value", "user_id")


def _q_doc_chunks_udtf(spark, sf_dir):
    """Python-UDTF form of doc_chunks — same rows, same oracle as the
    JVM posexplode plan (two implementations, one oracle)."""
    from amazon_security_lake_transformation_library_spark.operators import udx
    spark.conf.set("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
    udx.register_chunk_udtf(spark)
    _t(spark, sf_dir, "documents").createOrReplaceTempView("__docs_udtf")
    return spark.sql(
        "SELECT d.doc_id, t.chunk_idx, t.chunk_start, t.chunk_len, "
        "t.chunk_text FROM __docs_udtf d, "
        "LATERAL chunk_tokens_udtf(d.text, 64, 48) t"
    )


def _q_doc_quantiles(spark, sf_dir):
    """Exact continuous percentiles of document length per language
    (F.percentile == DuckDB quantile_cont interpolation), rounded to the
    gate's float contract. The approx scale path (percentile_approx) is
    pytest-gated against these exact values (tests/test_datasetops gate)."""
    docs = _t(spark, sf_dir, "documents")
    aggs = [
        F.round(F.percentile(F.col("n_chars"), F.lit(q)), 4).alias(name)
        for q, name in [(0.25, "p25"), (0.5, "p50"), (0.9, "p90"), (0.99, "p99")]
    ]
    return docs.groupBy("lang").agg(*aggs)


# --------------------------------------------- scale-path dedup / similarity

def _q_simhash_hamming(spark, sf_dir):
    # Hamming<=3 near-dup pairs via 4-band pigeonhole (EXACT for k < bands:
    # the oracle is the brute-force Hamming scan and must agree
    # pair-for-pair while Spark only ever joins band buckets).
    return dd.simhash_hamming_pairs(_t(spark, sf_dir, "documents"), k=3, n_bands=4)


def _q_embedding_near_dup_blocked(spark, sf_dir):
    # Scale path for dedup_embedding_cosine: k-means-cell blocking with
    # multi-probe assignment. Parameter rule: k ~ sqrt(N) cells (cell
    # population — and the quadratic within-cell verify — stays ~sqrt(N));
    # n_probe/k sets the probed fraction of space, which bounds recall in
    # the LOW-cosine threshold regime. This fixture has no true dup
    # clusters (max pairwise cos 0.51), the worst case for IVF blocking:
    # (k=16, n_probe=4) measures 0.971 recall vs the exact scan at
    # threshold 0.35 (recall curve pinned in tests/test_training_ops.py;
    # on planted near-identical dups, fine blocking recalls ~1.0).
    emb = _t(spark, sf_dir, "embeddings")
    cents = sim.kmeans_centroids(emb, k=16, iters=1)
    return sim.cosine_near_dup_pairs_blocked(
        emb, threshold=0.35, n_probe=4, centroids=cents
    )


def _q_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): semantic dedup within k-means
    clusters, keep-the-outlier rule (see similarity.semdedup). k=8/iters=1
    reuses the proven kmeans oracle unroll; threshold 0.35 sits inside the
    fixture's occupied cosine range (max pairwise 0.51) so both pruned and
    kept rows exist. Oracle: same Lloyd CTE + within-cluster asymmetric
    prune join in SQL."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = sim.kmeans_centroids(emb, k=8, iters=1)
    out = sim.semdedup(emb, threshold=0.35, centroids=cents)
    return out.select(
        "vec_id",
        F.col("cell").cast("long").alias("cell"),
        (F.col("cos_to_centroid") + F.lit(0.0)).alias("cent_sim"),
        "keep",
    )


def _q_kmeans_centroids(spark, sf_dir):
    # Lloyd iterations as pure DataFrame ops; exploded (label, d, val) so
    # the differential gate compares scalars, rounded for cross-engine
    # bit-stability (see kmeans_centroids docstring).
    emb = _t(spark, sf_dir, "embeddings")
    cents = sim.kmeans_centroids(emb, k=8, iters=2)
    return cents.select(
        F.col("label").cast("long").alias("label"),
        F.posexplode("centroid").alias("d", "val"),
    ).select("label", F.col("d").cast("long").alias("d"),
             (F.col("val") + F.lit(0.0)).alias("val"))


# ------------------------------------- streaming operators, batch-form gates

def _q_dedup_stream_batch(spark, sf_dir):
    """Streaming exact dedup (streaming/pipeline.dedup_stream) executed on
    a batch frame — the operator's documented batch-equivalence branch.
    The fixture replays every third event (an at-least-once bus
    re-delivering a batch, byte-identical rows, so the kept-row choice is
    deterministic); dedup on the key restores the original stream. Oracle:
    DISTINCT over the same duplicated input."""
    from amazon_security_lake_transformation_library_spark.streaming.pipeline import dedup_stream

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    dup = ev.unionAll(ev.filter(F.col("event_id") % 3 == 0))
    out = dedup_stream(dup, keys=("event_id",), ts_col="ts")
    return _norm_zero(
        out.select(
            "event_id", "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            F.round("value", 4).alias("value_r"),
        ),
        "value_r",
    )


def _q_stream_interval_join_batch(spark, sf_dir):
    """Stream-stream interval join (streaming/pipeline.stream_interval_join)
    on static frames — the identical join expression Structured Streaming
    executes with watermarked state (batch/stream equivalence is pinned by
    pytest; this entry puts the join itself under the differential gate).
    Probe: every event; build: purchases by the same user landing within
    [ts, ts+300s]. Oracle: the same two-sided time-bounded SQL join."""
    from amazon_security_lake_transformation_library_spark.streaming.pipeline import stream_interval_join

    ev = _t(spark, sf_dir, "events")
    probe = ev.select("event_id", "user_id", "ts")
    build = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    j = stream_interval_join(
        probe, build, on="user_id", probe_ts="ts",
        build_ts="purchase_ts", horizon_seconds=300,
    )
    return j.select(
        "event_id", "user_id", "purchase_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.unix_micros(F.col("purchase_ts").cast("timestamp")).alias("purchase_ts_us"),
    )


def _q_duplicate_spans(spark, sf_dir):
    """Cross-doc exact-substring dedup, span-detect stage (Lee et al. 2022
    shape): maximal merged spans of 8-token grams shared by >=2 docs.
    Oracle: gaps-and-islands interval merge over the same gram table."""
    from amazon_security_lake_transformation_library_spark.operators import substrdedup as sd

    return sd.duplicate_ngram_spans(_t(spark, sf_dir, "documents"), n=8)


def _q_scrub_duplicate_spans(spark, sf_dir):
    """Scrub stage: drop every token inside a duplicated span, re-join
    survivors with single spaces; untouched docs pass through byte-equal
    (per-row text equality is the north-rule invariant, so the oracle
    compares the full clean_text string)."""
    from amazon_security_lake_transformation_library_spark.operators import substrdedup as sd

    return sd.scrub_duplicate_spans(_t(spark, sf_dir, "documents"), n=8)


# ------------------------------------------------- curation surface (r4)

def _q_label_horizon(spark, sf_dir):
    """Forward-horizon labeling: did the user purchase within the next
    hour (strictly after this event's timestamp)? The leakage-controlled
    complement of the as-of features — one Window, RANGE frame strictly
    in the future (curation.label_horizon)."""
    ev = _t(spark, sf_dir, "events")
    out = cur.label_horizon(
        ev, "user_id", "ts", F.col("event_type") == "purchase", 3600.0
    )
    return out.select("event_id", "user_id", "label_n", "label")


def _q_sample_topn_per_group(spark, sf_dir):
    """Deterministic per-group cap: exactly 20 pseudo-random events per
    event_type, ranked by salted hash — reproducible under any
    partitioning. Catalyst rewrites the rank+filter into a
    WindowGroupLimit so each map task forwards <= 20 rows per group
    before the shuffle (plan pinned in test_curation)."""
    ev = _t(spark, sf_dir, "events")
    out = cur.sample_topn_per_group(ev, "event_type", "event_id", n=20)
    return out.select("event_id", "event_type")


def _q_domain_mixture(spark, sf_dir):
    """Pretraining data-mixing table: per (lang, source) char mass ->
    alpha=0.3 flattened sampling weight + epochs at a 1M-char budget.
    One corpus aggregate; normalization runs on the domain table."""
    docs = _t(spark, sf_dir, "documents")
    out = cur.domain_mixture(
        docs, ["lang", "source"], F.col("n_chars"), alpha=0.3, target_size=1e6
    )
    return out.select(
        "lang", "source", "n_rows",
        F.round("size", 1).alias("size"),
        (F.round("weight", 6) + 0.0).alias("weight"),
        (F.round("epochs", 4) + 0.0).alias("epochs"),
    )


def _q_materialize_mixture(spark, sf_dir):
    """Mixture EXECUTION (curation.materialize_mixture): the
    domain_mixture epochs table (pre-rounded to 4dp — the documented
    cross-engine pow() contract) replicates each document
    floor(epochs) times plus a deterministic stochastically-rounded
    extra copy. Broadcast join + in-row explode; the corpus crosses
    once."""
    docs = _t(spark, sf_dir, "documents")
    mix = cur.domain_mixture(
        docs, ["lang", "source"], F.col("n_chars"), alpha=0.3,
        target_size=1e6,
    ).select("lang", "source", F.round("epochs", 4).alias("epochs"))
    out = cur.materialize_mixture(docs, mix, ["lang", "source"])
    return out.select("doc_id", "lang", "source", "epoch_idx")


def _q_importance_weights(spark, sf_dir):
    """DSIR-style data selection: per-doc mean log p_target/p_raw over
    hashed word bigrams, target = English docs. Bucket table is
    fixed-size (4096) -> broadcast; both corpus shuffles key on uniform
    hashes. Docs with <2 words have no bigrams and drop out (same rule
    on the oracle side)."""
    docs = _t(spark, sf_dir, "documents")
    out = cur.importance_weights(
        docs, "doc_id", "text", F.col("lang") == "en", n_buckets=4096
    )
    return out.select(
        "doc_id", (F.round("importance", 4) + 0.0).alias("importance")
    )


def _q_negative_samples(spark, sf_dir):
    """Deterministic contrastive negatives (curation.negative_samples):
    k hash-ring successors per anchor within md5 buckets — reproducible
    pseudo-random pairings; only ids/ints ever shuffle. n_buckets=8 at
    sf0.01 puts ~60 docs per bucket, so the cyclic wrap path is
    exercised by each bucket's tail anchors."""
    docs = _t(spark, sf_dir, "documents")
    return cur.negative_samples(docs, k=3, n_buckets=8)


def _q_curriculum(spark, sf_dir):
    """Curriculum ordering (curation.curriculum_buckets): exact-quantile
    difficulty buckets (one scalar aggregate, broadcast boundary array)
    plus a deterministic md5 within-bucket shuffle key — the two sort
    columns of a curriculum-scheduled training read. Zero data
    shuffle."""
    docs = _t(spark, sf_dir, "documents")
    return cur.curriculum_buckets(docs, n_buckets=4)


def _q_psi_by_split(spark, sf_dir):
    """Train/serve-skew gate: PSI of the event value distribution between
    the train split and val/test (split_assign at user granularity, 10
    shared equal-width bins over the global range, eps=1e-4 smoothing).
    Two corpus passes, all later stages on the (split x bin) table."""
    ev = _t(spark, sf_dir, "events")
    sp = dso.split_assign(ev, "user_id")
    out = cur.psi_by_split(sp, "split", "value", n_bins=10)
    return out.select("split", (F.round("psi", 4) + 0.0).alias("psi"))


# ------------------------------------------------- encoder surface (r4)

def _q_target_encode(spark, sf_dir):
    """Ordered target encoding: per event_type, m=20-smoothed mean of
    (value > 100) over strictly-earlier rows — the leakage-free
    categorical encoder (encoders.target_encode_ordered). Equal-ts
    peers excluded; first row of a category gets exactly the prior."""
    ev = _t(spark, sf_dir, "events")
    out = enc.target_encode_ordered(
        ev, "event_type", F.col("value") > 100, "ts", prior=0.3, m=20.0
    )
    return out.select(
        "event_id", "te_n", (F.round("te", 6) + 0.0).alias("te")
    )


def _q_frequency_encode(spark, sf_dir):
    """Category -> corpus count/frequency, broadcast-joined back
    (encoders.frequency_encode): one corpus aggregate, no corpus
    shuffle."""
    ev = _t(spark, sf_dir, "events")
    out = enc.frequency_encode(ev, "event_type")
    return out.select(
        "event_id", "event_type", "freq_n",
        (F.round("freq", 6) + 0.0).alias("freq"),
    )


def _q_zscore_by_type(spark, sf_dir):
    """Per-event_type standardization of value (population std) via
    broadcast group stats — agg+join, never a sorted window
    (encoders.zscore_by_group)."""
    ev = _t(spark, sf_dir, "events")
    out = enc.zscore_by_group(ev, "value", ["event_type"])
    return out.select("event_id", (F.round("z", 4) + 0.0).alias("z"))


def _q_mutual_info(spark, sf_dir):
    """MI(event_type; value>100) in nats from one contingency aggregate
    (encoders.mutual_information) — the feature-selection screen."""
    ev = _t(spark, sf_dir, "events")
    return enc.mutual_information(
        ev, F.col("event_type"), F.col("value") > 100
    ).select((F.round("mi", 6) + 0.0).alias("mi"))


def _q_chat_render(spark, sf_dir):
    """Chat-template rendering: one training document per conversation,
    `<|role|>`-headed segments concatenated in turn order
    (chatprep.render_conversations) — one conv_id hash agg."""
    t, _ = _flagship_inputs(spark, sf_dir)
    return chp.render_conversations(t)


def _q_chat_loss_spans(spark, sf_dir):
    """Per-turn character spans + SFT loss mask inside the rendered
    document, from ONE window cumsum — the document itself is never
    materialized (chatprep.loss_mask_spans)."""
    t, _ = _flagship_inputs(spark, sf_dir)
    return chp.loss_mask_spans(t)


def _q_conv_prefix_dedup(spark, sf_dir):
    """Conversation-prefix dedup: md5 over the first 4 turns' role+text,
    canonical = min conv_id per fingerprint
    (chatprep.conv_prefix_fingerprint)."""
    t, _ = _flagship_inputs(spark, sf_dir)
    return chp.conv_prefix_fingerprint(t, k=4)


def _q_validate_turns(spark, sf_dir):
    """Structural QA per conversation: contiguous turn_idx,
    user/assistant alternation (tool-transparent), non-decreasing ts
    (chatprep.validate_turns)."""
    t, _ = _flagship_inputs(spark, sf_dir)
    return chp.validate_turns(t)


def _q_context_budget(spark, sf_dir):
    """Context-window budgeting: token-estimate cumsum from the
    conversation tail; keep the suffix that fits 256 tokens
    (chatprep.context_budget)."""
    t, _ = _flagship_inputs(spark, sf_dir)
    return chp.context_budget(t, budget_tokens=256)


def _q_sample_weighted(spark, sf_dir):
    """Weighted sampling without replacement (Efraimidis-Spirakis
    exponential keys over the exact-binary-fraction hash uniform):
    100 documents proportional to length (curation.sample_weighted) —
    global top-n = TakeOrderedAndProject, no corpus sort."""
    docs = _t(spark, sf_dir, "documents")
    out = cur.sample_weighted(docs, "doc_id", F.length("text"), n=100)
    return out.select("doc_id", (F.round("es_key", 6) + 0.0).alias("es_key"))


def _q_boilerplate_turns(spark, sf_dir):
    """Templated-response detection at turn granularity
    (chatprep.boilerplate_turns). The fixture's texts are unique by
    construction, so the query replays the first two turns of every
    conversation under a '_r' conv_id (the oracle does the identical
    UNION ALL) — each replayed text then occurs in exactly 2
    conversations and must cross the min_convs=2 threshold."""
    t, _ = _flagship_inputs(spark, sf_dir)
    replay = t.filter(F.col("turn_idx") < 2).withColumn(
        "conv_id", F.concat(F.col("conv_id"), F.lit("_r"))
    )
    return chp.boilerplate_turns(t.unionByName(replay), min_convs=2)


def _q_conv_profile(spark, sf_dir):
    """Conversation-level profile (chatprep.conv_profile): session
    count, tool-call count, assistant char share, duration, mean gap —
    one lag window + one conv_id aggregate."""
    t, _ = _flagship_inputs(spark, sf_dir)
    out = chp.conv_profile(t, gap_seconds=float(GAP_S))
    return out.select(
        "conv_id", "n_turns", "n_sessions", "n_tool_calls",
        "n_assistant_turns",
        (F.round("assistant_char_frac", 6) + 0.0).alias("assistant_char_frac"),
        (F.round("duration_s", 4) + 0.0).alias("duration_s"),
        (F.round("mean_gap_s", 4) + 0.0).alias("mean_gap_s"),
    )


def _q_conv_profile_incremental(spark, sf_dir):
    """Incremental view maintenance of the conversation profile
    (merge.incremental_refresh): the snapshot built from pre-cutoff turns
    is refreshed with the post-cutoff delta by recomputing ONLY the
    delta-touched conversations from their full history — and the result
    must equal a full rebuild bit-for-bit, which is exactly what the
    oracle (the plain conv_profile SQL over ALL turns) checks. Neither
    the history scan nor the snapshot scan shuffles: the affected-key set
    broadcasts into a semi/anti join pair."""
    t, _ = _flagship_inputs(spark, sf_dir)
    cutoff = F.lit("2024-01-28 00:00:00").cast("timestamp_ntz")
    prof = lambda turns: chp.conv_profile(turns, gap_seconds=float(GAP_S))  # noqa: E731
    base = prof(t.filter(F.col("ts") < cutoff))
    out = merge_ops.incremental_refresh(
        base, t, t.filter(F.col("ts") >= cutoff), prof, keys="conv_id"
    )
    return out.select(
        "conv_id", "n_turns", "n_sessions", "n_tool_calls",
        "n_assistant_turns",
        (F.round("assistant_char_frac", 6) + 0.0).alias("assistant_char_frac"),
        (F.round("duration_s", 4) + 0.0).alias("duration_s"),
        (F.round("mean_gap_s", 4) + 0.0).alias("mean_gap_s"),
    )


def _q_hot_conversations(spark, sf_dir):
    """Exact hot-conversation detection in two bounded-memory passes
    (sketch.heavy_hitters): per-partition Misra-Gries candidates ->
    broadcast-flagged exact count. The shuffle carries <= k merged-candidate
    rows instead of one row per distinct conv_id — at 10^12 turns /
    10^9 conversations the naive groupBy-count hot-key pre-pass is a
    billion-row exchange; this is the scale path that feeds the skew
    router. The fixture's ~10%-hot conversation clears min_frac=0.05;
    the ~20-turn tail does not. Oracle: plain GROUP BY .. HAVING over
    the same parquet — a different algorithm with no sketch."""
    from amazon_security_lake_transformation_library_spark.operators import sketch as sk

    t, _ = _flagship_inputs(spark, sf_dir)
    return sk.heavy_hitters(t, "conv_id", min_frac=0.05)


def _q_heavy_users_events(spark, sf_dir):
    """heavy_hitters on the events stream (user_id, min_frac=0.008):
    k=126 MG counters < 150 distinct users at sf0.01, so the sketch is
    genuinely lossy and the exact second pass is what guarantees the
    answer. Keys are cast to string in the operator (sketch contract);
    the oracle casts identically."""
    from amazon_security_lake_transformation_library_spark.operators import sketch as sk

    return sk.heavy_hitters(
        _t(spark, sf_dir, "events"), "user_id", min_frac=0.008
    )


def _q_sft_pairs(spark, sf_dir):
    """SFT pair extraction (chatprep.sft_pairs): one (prompt, response)
    example per assistant turn, prompt = rendered context of the 8 most
    recent prior turns. ONE conv_id window with a trailing ROWS frame —
    collect_list over the frame keeps frame order, so the prompt is a
    byte-exact slice of the rendered document."""
    t, _ = _flagship_inputs(spark, sf_dir)
    return chp.sft_pairs(t, max_prompt_turns=8)


def _q_tool_chains(spark, sf_dir):
    """Tool-call sequence mining (chatprep.tool_chains): ordered tool
    invocation chain per conversation, counted across the corpus. Tool
    filter pushed to the scan -> conv_id agg -> |chains|-sized agg."""
    t, _ = _flagship_inputs(spark, sf_dir)
    return chp.tool_chains(t)


def _q_decontaminate_bloom(spark, sf_dir):
    """Decontamination through the COST-MODEL front end
    (datasetops.decontaminate_auto, VERDICT r4 #4): on this single-node
    bench it selects the plain fingerprint semi-join — the measured
    winner at every locally reachable scale (BASELINE.md §8: the bloom
    variant's map-side prefilter eliminates shuffle bytes that cost ~0
    on one node, so it ran 1.9-2.2x plain with no crossover through a
    16x eval blow-up). The Bloom path itself (decontaminate_bloom, a
    512 KiB broadcast bitmap probed map-side before the exact join)
    stays for network_shuffle=True cluster regimes; its correctness
    carries an r4 driver-green row plus the tiny-bitmap pytest, and it
    shares this oracle — the prefilter is output-transparent."""
    docs = _t(spark, sf_dir, "documents")
    return dso.decontaminate_auto(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
    )


def _q_decontaminate_bloom_forced(spark, sf_dir):
    """The Bloom-prefilter decontamination plan ITSELF (r5: pinned
    directly, not through the auto front end — decontaminate_auto picks
    plain on a single node, which would leave the bloom plan's
    correctness riding only on its r4 row + the tiny-bitmap pytest).
    Runs the (word_idx, bits) distributed-bitmap build + k broadcast
    map-side probes + exact fingerprint semi-join; output-transparent
    vs the plain path, so it shares the oracle."""
    docs = _t(spark, sf_dir, "documents")
    return dso.decontaminate_bloom(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
    )


def _conv_clones(t):
    """Deterministic near-duplicate conversations for the conv-level
    dedup gate: every conversation whose id ends in '00' is replayed as
    `<conv_id>_v2` with turn 3 dropped — byte-identical turns otherwise
    (the synthetic corpus embeds the ORIGINAL conv id in each turn's
    text, so the clone's rendered document shares all surviving
    shingles). The oracle performs the identical SQL construction."""
    clones = (
        t.filter(F.col("conv_id").endswith("00") & (F.col("turn_idx") != 3))
        .withColumn("conv_id", F.concat(F.col("conv_id"), F.lit("_v2")))
    )
    return t.unionByName(clones)


def _q_conv_near_dup(spark, sf_dir):
    """Conversation-level MinHash+LSH near-dup candidates
    (chatprep.conv_near_dup_pairs): render -> shingle -> banded minhash
    -> bucket join, at conversation granularity — catches replayed
    conversations that per-turn exact / prefix dedup miss. Input is the
    fixture plus deterministic near-dup clones (_conv_clones) so the
    candidate set is non-empty and the verify path is exercised."""
    t, _ = _flagship_inputs(spark, sf_dir)
    return chp.conv_near_dup_pairs(_conv_clones(t))


def _q_repair_turns(spark, sf_dir):
    """Structural auto-repair (chatprep.repair_turns): the gate input is
    the fixture deterministically BROKEN — every turn_idx%11==5 row
    dropped (index gaps) and every turn_idx%7==0 row replayed 1s later
    with edited text (duplicate indices) — and the repaired output must
    collapse each duplicate to the latest write and reindex every
    conversation to contiguous 0..n-1. Oracle performs the identical
    SQL construction + two-row_number repair."""
    t, _ = _flagship_inputs(spark, sf_dir)
    edited = (
        t.filter(F.col("turn_idx") % 7 == 0)
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 SECOND"))
        .withColumn("text", F.concat("text", F.lit(" (edited)")))
    )
    broken = t.filter((F.col("turn_idx") % 11) != 5).unionByName(edited)
    out = chp.repair_turns(broken)
    return out.select(
        "conv_id", "turn_idx", "orig_turn_idx", "role", "text", "was_dup",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )


def _pref_variants(t):
    """Deterministic alternative continuations for the preference-pair
    gate: every conversation whose id ends in '0' is replayed as
    `<conv_id>_alt` with the SAME 2-turn prompt prefix but every later
    turn's text doubled — a strictly longer first response, so the
    variant is always `chosen` under the length score. The oracle
    performs the identical SQL construction."""
    v = (
        t.filter(F.col("conv_id").endswith("0"))
        .withColumn(
            "text",
            F.when(
                F.col("turn_idx") >= 2,
                F.concat(F.col("text"), F.lit(" "), F.col("text")),
            ).otherwise(F.col("text")),
        )
        .withColumn("conv_id", F.concat(F.col("conv_id"), F.lit("_alt")))
    )
    return t.unionByName(v)


def _q_preference_pairs(spark, sf_dir):
    """DPO preference-pair mining (chatprep.preference_pairs):
    conversations sharing an identical 2-turn prompt prefix pair their
    best first response against their worst (chosen/rejected by the
    deterministic length score; strict-gap groups only). Two conv_id
    aggs + one |convs|-sized prefix_fp agg — no self-join."""
    t, _ = _flagship_inputs(spark, sf_dir)
    return chp.preference_pairs(_pref_variants(t), k_prefix=2)


FUNNEL_STEPS = ["signup", "click", "purchase"]


def _q_funnel_steps(spark, sf_dir):
    """Ordered k-step funnel (behavior.funnel_conversion): earliest
    qualifying time per step per user, step i strictly after step i-1.
    k-1 joins over |entities|-sized aggregates — the raw event stream is
    scanned once per step with the type filter pushed down, never
    self-joined. Oracle: the same greedy recurrence as chained CTEs."""
    out = bhv.funnel_conversion(
        _t(spark, sf_dir, "events"), FUNNEL_STEPS, entity="user_id"
    )
    return out.select(
        "user_id",
        *[
            F.unix_micros(F.col(f"step{i}_ts").cast("timestamp")).alias(
                f"step{i}_us"
            )
            for i in range(1, len(FUNNEL_STEPS) + 1)
        ],
        "furthest_step",
    )


def _q_funnel_reach(spark, sf_dir):
    """Per-step funnel reach (behavior.funnel_counts): one conditional
    aggregate over the per-entity funnel -> (step, n_entities). The
    composition query for the funnel family."""
    fd = bhv.funnel_conversion(
        _t(spark, sf_dir, "events"), FUNNEL_STEPS, entity="user_id"
    )
    return bhv.funnel_counts(fd, len(FUNNEL_STEPS))


def _q_cohort_retention(spark, sf_dir):
    """Weekly cohort retention matrix (behavior.cohort_retention): one
    distinct presence projection, one first-seen aggregate, one join on
    the SAME key (exchange reuse), one (cohort, offset) count. Output is
    |weeks|^2-bounded at any corpus scale."""
    return bhv.cohort_retention(
        _t(spark, sf_dir, "events"), entity="user_id", granularity="week"
    )


def _q_rolling_distinct_kmv(spark, sf_dir):
    """KMV-sketched rolling distinct (behavior.rolling_distinct_kmv) in
    its exact regime: k=256 exceeds the fixture's 150 distinct users, so
    every window synopsis is the full entity set and the estimate IS the
    exact count — gated against the SAME quadratic oracle as the exact
    operator (two algorithms, one answer). The estimation regime's error
    envelope is property-tested in tests/test_behavior.py."""
    out = bhv.rolling_distinct_kmv(
        _t(spark, sf_dir, "events"),
        entity="user_id",
        bucket_seconds=3600,
        window_buckets=24,
        k=256,
    )
    return out.select("bucket", F.col("estimate").cast("long").alias("n_distinct"))


def _q_rolling_distinct(spark, sf_dir):
    """Exact trailing-24h rolling distinct users per hourly bucket
    (behavior.rolling_distinct): coverage-interval islands -> bounded
    explode -> plain partial-aggregable count, instead of the
    non-distributive windowed COUNT DISTINCT. Oracle: quadratic
    bucket-range join (different algorithm, same answer)."""
    return bhv.rolling_distinct(
        _t(spark, sf_dir, "events"),
        entity="user_id",
        bucket_seconds=3600,
        window_buckets=24,
    )


BM25_TERMS = ["spark", "window", "merge", "vector"]


def _q_bm25_topk(spark, sf_dir):
    """BM25 top-20 docs for a constant 4-term query (retrieval.bm25_topk):
    per-term tf via in-row higher-order functions (zero explode), ONE
    scalar aggregate for N/avgdl/df broadcast back, global
    TakeOrderedAndProject for the top-k — two column-pruned corpus scans,
    no wide shuffle. Oracle: the same formula as explicit SQL."""
    return ret.bm25_topk(_t(spark, sf_dir, "documents"), BM25_TERMS, k=20)


BM25_WORKLOAD = [
    ("q_exec", "spark"), ("q_exec", "shuffle"), ("q_exec", "hash"),
    ("q_win", "window"), ("q_win", "sort"), ("q_win", "frame"),
    ("q_io", "scan"), ("q_io", "merge"), ("q_io", "stream"),
]


def _q_bm25_multi(spark, sf_dir):
    """Batch BM25 for a 3-query workload (retrieval.bm25_topk_multi):
    the posting-list formulation — ONE tokenize scan, workload-term
    pruning map-side before the (doc, term) aggregate, broadcast
    query/df/stats joins, top-k per query via the rank-limit window.
    The per-query scale form bm25_topk's constant-term shape can't
    serve without rescanning the corpus per query."""
    wl = spark.createDataFrame(BM25_WORKLOAD, ["query_id", "term"])
    return ret.bm25_topk_multi(
        _t(spark, sf_dir, "documents"), wl, k=10
    )


RANKEVAL_RUN_K, RANKEVAL_K = 15, 10


def _q_ranking_metrics(spark, sf_dir):
    """Offline ranking evaluation (retrieval.ranking_metrics): a
    deterministic pseudo-run (per-source rank by a Knuth-hash of doc_id,
    top-15) evaluated against graded qrels (docs with n_chars % 7 == 0,
    grade 1 + doc_id % 3) — per-query MRR, graded nDCG@10,
    precision/recall@10. Run+qrels are retrieval-sized; the corpus
    appears only in the two derivations (one window, one filter)."""
    docs = _t(spark, sf_dir, "documents")
    score = (F.col("doc_id") * F.lit(2654435761)) % F.lit(1000000007)
    w = Window.partitionBy("source").orderBy(score.asc(), F.col("doc_id"))
    run = (
        docs.select(
            F.col("source").alias("query_id"),
            "doc_id",
            F.row_number().over(w).alias("rank"),
        )
        .filter(F.col("rank") <= RANKEVAL_RUN_K)
    )
    qrels = docs.filter(F.col("n_chars") % 7 == 0).select(
        F.col("source").alias("query_id"),
        "doc_id",
        (1 + F.col("doc_id") % 3).cast("double").alias("rel"),
    )
    return ret.ranking_metrics(run, qrels, k=RANKEVAL_K)


def _q_turn_self_similarity(spark, sf_dir):
    """Assistant self-repetition diagnostics
    (turnsim.consecutive_turn_similarity): per assistant turn, normalized
    Levenshtein ratio (512-char cap, JVM builtin) + token-set Jaccard +
    exact-repeat flag vs the previous assistant turn — ONE conv_id
    window, all whole-stage-codegen expressions."""
    t, _ = _flagship_inputs(spark, sf_dir)
    return tsim.consecutive_turn_similarity(t, role="assistant", max_chars=512)


def _q_tool_loop_runs(spark, sf_dir):
    """Agent-spin detection (turnsim.tool_loop_runs): gaps-and-islands
    run-length encoding of consecutive same-tool invocations per
    conversation, runs >= 2 — two stacked conv_id windows + one hash
    agg, a single Exchange end-to-end."""
    t, _ = _flagship_inputs(spark, sf_dir)
    return tsim.tool_loop_runs(t, min_run=2)


CMS_DEPTH, CMS_WIDTH = 4, 64


def _q_cms_freq(spark, sf_dir):
    """Count-min sketch point frequencies (sketch.cms_build/cms_estimate):
    per-partition partial aggregation collapses the corpus to a
    depth*width counter table; the probe set joins only the broadcast
    counter slices. width=64 over 150 users forces real bucket
    collisions, so the gate exercises the overestimate path too (the
    oracle replays the identical md5-derived buckets). exact count joined
    alongside to pin est >= exact."""
    ev = _t(spark, sf_dir, "events")
    counters = sk.cms_build(ev, "user_id", depth=CMS_DEPTH, width=CMS_WIDTH)
    probes = ev.select("user_id").where(F.col("user_id") < 10).distinct()
    est = sk.cms_estimate(
        counters, probes, "user_id", depth=CMS_DEPTH, width=CMS_WIDTH
    )
    exact = ev.where(F.col("user_id") < 10).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("exact")
    )
    return est.join(exact, "user_id").select("user_id", "est", "exact")


def _q_key_skew_profile(spark, sf_dir):
    """Key-skew diagnostic (profiling.key_skew_profile): one groupBy-count
    shuffle, every statistic an aggregate over the |keys|-sized count
    table — the pre-pass a salting/routing decision consumes. Oracle:
    the same statistics in plain SQL (quantile_cont = Spark's exact
    interpolated percentile)."""
    return prof.key_skew_profile(_t(spark, sf_dir, "events"), "user_id", top_n=10)


MAD_K = 3.0


def _q_mad_outliers(spark, sf_dir):
    """Robust per-type outlier gate (profiling.mad_outliers): two exact
    grouped percentile passes (median, MAD) joined back on the same key
    (exchange reuse), summarized per event_type. Oracle: identical
    recurrence with quantile_cont."""
    flags = prof.mad_outliers(
        _t(spark, sf_dir, "events"), "event_type", "value", k=MAD_K
    )
    return flags.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("is_outlier").cast("long")).alias("n_outliers"),
        (F.round(F.max("med"), 4) + F.lit(0.0)).alias("med"),
        (F.round(F.max("mad"), 4) + F.lit(0.0)).alias("mad"),
    )


def _q_normalize_text(spark, sf_dir):
    """Unicode NFC + lowercase + whitespace-collapse normalization
    (textstats.normalize_text): Arrow-batched pandas UDF for the NFC
    step (no Spark built-in), JVM regexp for the collapse. Oracle:
    DuckDB nfc_normalize + regexp_replace."""
    out = ts_ops.normalize_text(_t(spark, sf_dir, "documents"))
    return out.select("doc_id", "text_norm", "changed")


def _q_conv_latency(spark, sf_dir):
    """Assistant response-latency profile over the transcripts fixture
    (chatprep.response_latency_profile): one conv_id window + one
    conv_id aggregate with exact per-conversation percentiles."""
    t, _ = _flagship_inputs(spark, sf_dir)
    return chp.response_latency_profile(t)


def _q_rolling_median(spark, sf_dir):
    """Exact rolling median over the trailing 10 rows per user
    (features.rolling_quantile): one entity Exchange+Sort, O(frame)
    buffering. Oracle: DuckDB quantile_cont over the identical ROWS
    frame."""
    out = feat.rolling_quantile(
        _t(spark, sf_dir, "events"),
        "user_id", "ts", "value",
        q=0.5, n_preceding=9, tiebreak="event_id",
    )
    return out.select(
        "event_id", "user_id",
        (F.round("roll_q", 4) + F.lit(0.0)).alias("roll_median"),
    )


def _q_rolling_zscore(spark, sf_dir):
    """Strictly-past rolling z-score anomaly flag
    (features.rolling_zscore): the (50 PRECEDING, 1 PRECEDING) frame
    reads nothing at-or-after the current row — zero temporal leakage by
    construction. Oracle: the same frame with DuckDB window aggregates."""
    out = feat.rolling_zscore(
        _t(spark, sf_dir, "events"),
        "user_id", "ts", "value",
        n_preceding=50, min_periods=5, tiebreak="event_id",
    )
    return out.select(
        "event_id", "user_id",
        (F.round("zscore", 4) + F.lit(0.0)).alias("zscore"),
        "is_anomaly",
    )


def _q_throttle(spark, sf_dir):
    """Tumbling-window rate limiting (features.throttle_events): first
    event per (user, type, aligned hour) — one composite-key window,
    rank 1, WindowGroupLimit-eligible. Oracle: the same rank in SQL."""
    out = feat.throttle_events(
        _t(spark, sf_dir, "events"),
        "user_id", "ts", 3600,
        by=["event_type"], tiebreak="event_id",
    )
    return out.select("event_id", "user_id", "event_type")


def _q_length_batches(spark, sf_dir):
    """Length-bucketed batch assignment (datasetops.length_bucket_batches):
    curriculum_buckets' scalar-quantile bucketing + a tiny cumulative-
    offset window + an in-row md5-ring batch pick — zero corpus shuffle.
    Oracle: the same boundary/offset/hex-fold recurrence in SQL."""
    return dso.length_bucket_batches(
        _t(spark, sf_dir, "documents"),
        id_col="doc_id", len_col="n_chars",
        n_buckets=4, batch_rows=32,
    )


def _q_column_profile(spark, sf_dir):
    """One-pass column profile (profiling.column_profile): nulls /
    distincts / numeric min-max-mean for every column of events from a
    single aggregate (timestamps profiled as epoch micros). Oracle:
    per-column UNION ALL of the same aggregates."""
    return prof.column_profile(_t(spark, sf_dir, "events"))


def _q_scale_features(spark, sf_dir):
    """Leakage-safe numeric scaling (scaling.fit_transform_temporal):
    temporal 80% cutoff as a broadcast 1-row frame, ONE fit aggregate
    over the train slice, then standard/min-max/robust/winsor/equi-depth
    outputs as pure JVM expressions — two corpus scans, zero shuffles.
    Oracle: the same two-pass program as quantile_cont CTEs."""
    out = scl.fit_transform_temporal(
        _t(spark, sf_dir, "events"), "ts", "value", train_frac=0.8
    )
    return out.select(
        "event_id", "is_train",
        F.round(F.col("v_std") + 0.0, 4).alias("v_std"),
        F.round(F.col("v_minmax") + 0.0, 4).alias("v_minmax"),
        F.round(F.col("v_robust") + 0.0, 4).alias("v_robust"),
        F.round(F.col("v_winsor") + 0.0, 4).alias("v_winsor"),
        "v_bin",
    )


def _q_scale_features_grouped(spark, sf_dir):
    """Per-group scaler (scaling.fit_scaler_stats_grouped +
    apply_scalers_grouped): one hash-aggregate to a |groups|-row dim
    table, broadcast hash join back — the corpus never shuffles.
    Left-join semantics: unseen-at-fit groups scale to NULL. Oracle:
    grouped quantile_cont CTE + join."""
    ev = _t(spark, sf_dir, "events")
    stats = scl.fit_scaler_stats_grouped(ev, "event_type", "value")
    out = scl.apply_scalers_grouped(ev, "event_type", "value", stats)
    return out.select(
        "event_id", "event_type",
        F.round(F.col("v_std") + 0.0, 4).alias("v_std"),
        F.round(F.col("v_minmax") + 0.0, 4).alias("v_minmax"),
        F.round(F.col("v_robust") + 0.0, 4).alias("v_robust"),
        F.round(F.col("v_winsor") + 0.0, 4).alias("v_winsor"),
    )


def _q_lm_perplexity(spark, sf_dir):
    """CCNet-style bigram-LM quality scoring (lmscore.train_bigram_lm +
    score_perplexity): fit add-k bigram counts on the corpus, score
    every doc's avg negative log-likelihood and perplexity. Model is a
    cluster-resident TABLE (two hash-aggregates over the exploded
    bigram stream), scoring is two LEFT joins + one doc_id fold-back —
    nothing driver-side. Oracle: list_zip consecutive-pair CTE."""
    from amazon_security_lake_transformation_library_spark.operators import lmscore as lm

    docs = _t(spark, sf_dir, "documents")
    big, ctx, vocab = lm.train_bigram_lm(docs)
    out = lm.score_perplexity(docs, big, ctx, vocab, k=0.5)
    return out.select(
        "doc_id", "n_scored",
        F.round("avg_nll", 4).alias("avg_nll"),
        F.round("ppl", 2).alias("ppl"),
    )


def _q_kfold_users(spark, sf_dir):
    """Grouped k-fold assignment (folds.kfold_assign): every event of a
    user lands in one of 5 folds via md5 — a pure narrow projection
    (zero shuffle at any scale). Oracle: DuckDB hex-parse of the same
    md5 prefix."""
    from amazon_security_lake_transformation_library_spark.operators import folds as fld

    ev = _t(spark, sf_dir, "events")
    return fld.kfold_assign(ev, "user_id", k=5).select(
        "event_id", "user_id", "fold"
    )


def _q_tscv_folds(spark, sf_dir):
    """Expanding-window time-series CV (folds.tscv_folds): 4 splits over
    equal-frequency time segments; split i trains on segments < i,
    tests on segment i — one scalar percentile agg + broadcast, the
    corpus never shuffles, future rows never appear in a split. Oracle:
    quantile_cont boundary CTE + unnest over split ids."""
    from amazon_security_lake_transformation_library_spark.operators import folds as fld

    ev = _t(spark, sf_dir, "events")
    return fld.tscv_folds(ev, "ts", n_splits=4).select(
        "event_id", "split_id", "role"
    )


def _q_hashed_features(spark, sf_dir):
    """Hashing-trick feature stream (vectorize.hash_feature_rows):
    md5-bucketed (col=value) indices + ±1 sign hash, dim=64 — a pure
    narrow projection (zero shuffle, zero fit pass at any scale).
    Oracle: UNION ALL of the same md5 arithmetic per column."""
    from amazon_security_lake_transformation_library_spark.operators import vectorize as vz

    ev = _t(spark, sf_dir, "events")
    return vz.hash_feature_rows(ev, "event_id", ["event_type", "user_id"], dim=64)


def _q_hashed_features_vec(spark, sf_dir):
    """In-row merged sparse-vector form (vectorize.hash_features_vec):
    same hash space, but same-index collisions are SUMMED by an in-row
    fold (still zero shuffle). Gated by exploding the vector back to
    rows; oracle = independent GROUP BY over the exploded stream — so
    the fold is pinned against a real aggregation."""
    from amazon_security_lake_transformation_library_spark.operators import vectorize as vz

    ev = _t(spark, sf_dir, "events")
    out = vz.hash_features_vec(ev, "event_id", ["event_type", "user_id"], dim=8)
    return out.select(
        "event_id", F.explode("features").alias("_e")
    ).select("event_id", F.col("_e.idx").alias("idx"), F.col("_e.val").alias("val"))


def _q_multihot_docs(spark, sf_dir):
    """Bounded-vocab multi-hot (vectorize.build_vocab + encode_multihot):
    top-128 tokens by doc frequency (deterministic tie-break), each doc
    becomes its sorted vocab-index list + OOV count. Vocab rank window
    is vocabulary-sized; encode is explode + broadcast join + one
    doc_id fold-back."""
    from amazon_security_lake_transformation_library_spark.operators import vectorize as vz

    docs = _t(spark, sf_dir, "documents")
    vocab = vz.build_vocab(docs, top_v=128)
    return vz.encode_multihot(docs, vocab).select("doc_id", "idxs", "n_oov")


def _q_pagerank(spark, sf_dir):
    """PageRank over the event-type transition graph (graph.pagerank):
    the graph is DERIVED from the corpus with one window + one
    graph-sized aggregate; each power iteration joins the rank table to
    the out-normalized edge table only (parquet-checkpointed per round,
    like connected_components). Oracle: the same 5 iterations unrolled
    as chained CTEs."""
    from amazon_security_lake_transformation_library_spark.operators import graph as g

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        ev.select(
            F.lag("event_type").over(w).alias("src"),
            F.col("event_type").alias("dst"),
        )
        .where(F.col("src").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    pr = g.pagerank(edges, damping=0.85, iterations=5, weight_col="w")
    return pr.select(
        F.col("node").alias("event_type"),
        (F.round("rank", 4) + F.lit(0.0)).alias("rank"),
    )


def _q_corpus_overlap(spark, sf_dir):
    """KMV set-overlap estimate (sketch.kmv_set_overlap) between the
    (user, day) activity sets of two event types: each side reduces
    map-side to a 64-hash synopsis; the union k-min is the k smallest of
    the two synopses (KMV union closure), so |A|, |B|, |A∪B| and the
    Jaccard all come from one pass per side with no pair join. Oracle:
    the same k-min order statistics in SQL."""
    ev = _t(spark, sf_dir, "events")
    uday = F.concat_ws(
        ":", F.col("user_id"), F.to_date("ts").cast("string")
    ).alias("uday")
    a = ev.where(F.col("event_type") == "purchase").select(uday)
    b = ev.where(F.col("event_type") == "click").select(uday)
    return sk.kmv_set_overlap(a, b, "uday", k=64)


def _q_knn_label_metrics(spark, sf_dir):
    """Embedding-quality gate (retrieval.knn_label_metrics): exact top-5
    cosine neighbors for the fixed query set (broadcast queries, one
    corpus scan), then per-label precision@5 and MRR of the first
    same-label neighbor. Oracle: quadratic join + window replay."""
    return ret.knn_label_metrics(
        _t(spark, sf_dir, "embeddings"), QUERY_VEC_IDS, k=5
    )


def _q_resample_ffill(spark, sf_dir):
    """Regular-grid resampling + point-in-time forward-fill
    (features.resample_ffill): one feature snapshot per (user, aligned
    6h instant), each carrying the last observed value at-or-before the
    instant — the feature-store "as-of snapshot every N seconds"
    materialization. Grid built with sequence()+explode from a
    |entities|-row bounds agg (never a calendar cross join), filled by
    ONE last(ignorenulls) window over the obs∪grid union. Oracle: the
    identical union+window construction in SQL."""
    ev = _t(spark, sf_dir, "events")
    out = feat.resample_ffill(
        ev, "user_id", "ts", ["value"], step_seconds=21600,
        tiebreak="event_id",
    )
    return out.select(
        "user_id", "grid_ts", (F.round("value", 4) + F.lit(0.0)).alias("value")
    )


def _q_calendar_features(spark, sf_dir):
    """Cyclic calendar encodings (features.calendar_features): raw
    hour/dow/dom/month plus sin/cos pairs — pure projection, zero
    shuffle, codegen-fused with the scan at any scale. Oracle: the same
    trigonometry in SQL (DuckDB isodow-1 == Spark (dayofweek+5)%7)."""
    ev = _t(spark, sf_dir, "events").select("event_id", "ts")
    return feat.calendar_features(ev, "ts").drop("ts")


def _q_rolling_corr(spark, sf_dir):
    """Trailing-window Pearson correlation (features.rolling_corr)
    between an event's value and its payload size over the last 51
    rows per user — five sliding sufficient-stat aggregates fused into
    ONE Window operator (no self-join). NULL below min_periods or at
    zero variance. Oracle: the identical sufficient-stats formula over
    the same frame."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "plen", F.length("props").cast("double")
    )
    out = feat.rolling_corr(
        ev, "user_id", "ts", "value", "plen",
        n_preceding=50, min_periods=5, tiebreak="event_id",
    )
    return out.select(
        "event_id", "user_id", (F.col("roll_corr") + F.lit(0.0)).alias("roll_corr")
    )


def _q_cusum_value(spark, sf_dir):
    """One-sided CUSUM drift detection (features.cusum_drift): the
    sequential statistic S_i = max(0, S_{i-1} + (x_i - target - slack))
    computed DECLARATIVELY via its closed form cumsum - min(0, running
    min of cumsum) — two cumulative aggregates on one shared window, so
    the "inherently stateful" detector parallelizes across entities
    with zero Python. Oracle: the same closed form in SQL."""
    ev = _t(spark, sf_dir, "events")
    out = feat.cusum_drift(
        ev, "user_id", "ts", "value",
        target=50.0, slack=5.0, threshold=500.0, tiebreak="event_id",
    )
    return out.select(
        "event_id", "user_id",
        (F.col("cusum") + F.lit(0.0)).alias("cusum"), "drift_alarm",
    )


def _q_entropy_gate(spark, sf_dir):
    """Character-entropy quality gate (textstats.entropy_gate):
    Shannon bits/char computed IN-ROW by a sorted-run fold over the
    char array (the repetition.py shape — no explode: exploding chars
    would shuffle the corpus byte count). Rejects are routed with a
    reason, never dropped. Oracle: DuckDB's entropy() aggregate over
    unnested chars — a genuinely independent algorithm."""
    docs = _t(spark, sf_dir, "documents")
    return ts_ops.entropy_gate(docs, min_bits=3.95, max_bits=4.20)


def _q_roc_auc(spark, sf_dir):
    """Distributed ROC-AUC (evalx.roc_auc) of the value score against a
    conversion label, per event day: rank-sum identity over the
    (day, distinct score) contingency table — the corpus is reduced by
    a map-side hash agg BEFORE any window touches it, so 10^12 scored
    rows never sort row-at-a-time. Mid-rank tie handling ==
    sklearn.roc_auc_score. Oracle: the same contingency construction."""
    from amazon_security_lake_transformation_library_spark.operators import evalx as ev_ops

    ev = _t(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"),
        F.col("event_type").isin("click", "purchase").cast("int").alias("label"),
        "value",
    )
    out = ev_ops.roc_auc(ev, "label", "value", by=["day"], round_to=2)
    return out.select(
        "day", (F.col("auc") + F.lit(0.0)).alias("auc"), "n_pos", "n_neg"
    )


def _q_calibration(spark, sf_dir):
    """Calibration / reliability bins (evalx.calibration_bins): 10
    equal-width score bins with count, mean predicted score, observed
    positive rate — ONE map-side-combined hash aggregate. Score is
    value normalized to [0,1]; label as in roc_auc. Oracle: the same
    binning in SQL."""
    from amazon_security_lake_transformation_library_spark.operators import evalx as ev_ops

    ev = _t(spark, sf_dir, "events").select(
        F.col("event_type").isin("click", "purchase").cast("int").alias("label"),
        (F.col("value") / F.lit(500.0)).alias("score"),
    )
    return ev_ops.calibration_bins(ev, "label", "score", n_bins=10)


def _q_rolling_slope(spark, sf_dir):
    """Trailing-window OLS trend slope (features.rolling_slope): value
    units per hour over the last 51 events per user, from sliding
    sufficient statistics with the time axis re-centered per entity
    (raw epoch seconds would cancel catastrophically in E[xy]-E[x]E[y];
    see the docstring). One Exchange+Sort; centering + five sliding
    aggregates share the window spec. Oracle: identical construction."""
    ev = _t(spark, sf_dir, "events")
    out = feat.rolling_slope(
        ev, "user_id", "ts", "value",
        n_preceding=50, min_periods=5, tiebreak="event_id",
    )
    return out.select("event_id", "user_id", "roll_slope")


def _q_quantile_bin(spark, sf_dir):
    """Leakage-safe equal-frequency discretization
    (encoders.quantile_bin_encode): quintile boundaries fit on the
    hash-split train slice ONLY (split_assign at user granularity),
    applied to every row as a pure in-row projection — one
    exact-percentile scalar aggregate, zero corpus shuffle. Oracle:
    DuckDB quantile_cont on the same train slice + the same
    strict-below counting rule."""
    ev = dso.split_assign(_t(spark, sf_dir, "events"), "user_id")
    out = enc.quantile_bin_encode(ev, "value", "split", n_bins=5)
    return out.select("event_id", "split", "qbin")


def _q_ks_drift(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov drift gate (curation.ks_drift):
    sup-distance between the train slice's value CDF and every other
    split's, on the 2-dp-quantized value grid — the bin-free companion
    to psi_value_by_split (hash splits => KS ~ 0; the statistic's
    correctness, not its magnitude, is what the oracle pins). The
    corpus collapses to a (split, distinct value) count table before
    any window runs. Oracle: identical union-grid CDF construction."""
    ev = dso.split_assign(_t(spark, sf_dir, "events"), "user_id")
    return cur.ks_drift(ev, "split", "value", base_split="train")


def _q_scd2(spark, sf_dir):
    """Slowly-changing-dimension type-2 build (merge.scd2_build): the
    events stream read as a per-user state-change log becomes one
    validity interval per distinct consecutive state, no-op repeats
    collapsed, open interval flagged current — the dimension layout
    asof_join_over_intervals serves point-in-time lookups from. ONE
    Exchange+Sort on the entity key (change flag, lead end, current
    flag share the window). Oracle: the same lag-collapse + lead in
    SQL."""
    ev = _t(spark, sf_dir, "events")
    return merge_ops.scd2_build(
        ev, ["user_id"], "ts", ["event_type"], tiebreak="event_id"
    )


def _q_snapshot_diff(spark, sf_dir):
    """Row-level table-version diff (merge.snapshot_diff): CDC
    extraction between two snapshots derived from events (modulo
    filters plant inserts, deletes and value updates) — emits ONLY
    changed keys with change_type, so the diff of two nearly-identical
    snapshots is delta-sized, never corpus-sized. One full-outer SMJ on
    the key; null-safe struct compare. Oracle: the same full-outer
    construction."""
    ev = _t(spark, sf_dir, "events")
    old = ev.where(F.col("event_id") % 7 != 0).select(
        "event_id", "event_type", "value"
    )
    new = ev.where(F.col("event_id") % 5 != 0).select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 3 == 0, F.col("value") + 1)
        .otherwise(F.col("value"))
        .alias("value"),
    )
    out = merge_ops.snapshot_diff(old, new, ["event_id"])
    return out.select(
        "event_id",
        "change_type",
        "old_event_type",
        (F.round("old_value", 4) + F.lit(0.0)).alias("old_value"),
        "new_event_type",
        (F.round("new_value", 4) + F.lit(0.0)).alias("new_value"),
    )


def _ratings_fixture(spark, sf_dir):
    """Deterministic annotation table derived from events: every block of
    8 consecutive event_ids is one ITEM, the position in the block is the
    RATER (so each (item, rater) cell holds exactly one rating), and the
    event_type is the categorical label. Scales with the event stream."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        F.expr("event_id div 8").alias("item_id"),
        (F.col("event_id") % 8).alias("rater_id"),
        F.col("event_type").alias("label"),
    )


def _matches_fixture(spark, sf_dir):
    """Deterministic pairwise-preference votes over 8 'models': contestants
    come from two digit positions of event_id; the winner is biased by the
    model index (+7 per index step on the value threshold) so the fitted
    Bradley-Terry strengths are monotone in the index, not uniform."""
    ev = _t(spark, sf_dir, "events")
    ia = F.col("event_id") % 8
    ib = F.expr("event_id div 8") % 8
    win_a = (F.col("value") + F.lit(7.0) * ia - F.lit(7.0) * ib) >= 100.0
    return (
        ev.where(ia != ib)
        .select(
            F.when(win_a, ia).otherwise(ib).alias("winner"),
            F.when(win_a, ib).otherwise(ia).alias("loser"),
        )
    )


def _tree_fixture(spark, sf_dir):
    """Deterministic forest over event_ids: blocks of 32 ids form one tree;
    offset 0 is the root, every other node hash-picks a parent at a
    strictly smaller offset in its block (so parent_id < node_id always)."""
    ev = _t(spark, sf_dir, "events")
    off = F.col("event_id") % 32
    parent = (F.col("event_id") - off) + (
        F.col("event_id") * F.lit(2654435761).cast("long")
    ) % off
    return ev.select(
        F.col("event_id").alias("node_id"),
        F.when(off == 0, F.lit(None).cast("long")).otherwise(parent).alias(
            "parent_id"
        ),
    )


def _q_cohen_kappa(spark, sf_dir):
    """Pairwise inter-rater reliability (annotation.cohen_kappa_pairs):
    item-keyed self-join bounded by the rater panel, then pair-keyed hash
    aggregates — one row per rater pair with po/pe/kappa."""
    return ann.cohen_kappa_pairs(_ratings_fixture(spark, sf_dir))


def _q_fleiss_kappa(spark, sf_dir):
    """Corpus-level multi-rater agreement (annotation.fleiss_kappa):
    two hash aggregates + a global fold, no joins; single-row output."""
    return ann.fleiss_kappa(_ratings_fixture(spark, sf_dir))


def _q_bradley_terry(spark, sf_dir):
    """Bradley-Terry model strengths from pairwise votes
    (annotation.bradley_terry): ONE distributed aggregate folds the vote
    stream to the items^2 pair-count table, then 8 MM rounds in numpy on
    the driver (item vocabulary = compared models, small by construction).
    Oracle: the same 8 rounds unrolled as SQL CTEs."""
    return ann.bradley_terry(_matches_fixture(spark, sf_dir), iters=8)


def _q_gold_labels(spark, sf_dir):
    """Majority-vote gold-label aggregation with disagreement diagnostics
    (annotation.majority_gold_labels): two map-side-combinable hash
    aggregates; the argmax rides min(struct(-count, label)) so ties break
    deterministically to the smallest label — no window pass."""
    return ann.majority_gold_labels(_ratings_fixture(spark, sf_dir))


def _q_conv_tree_paths(spark, sf_dir):
    """Conversation-tree linearization (graph.tree_paths): pointer-DOUBLING
    path assembly (log-depth rounds, localCheckpoint per round) + leaf
    anti-join. Oracle: a recursive CTE walking one parent per step — a
    different algorithm on a different engine."""
    from amazon_security_lake_transformation_library_spark.operators import graph as g

    return g.tree_paths(_tree_fixture(spark, sf_dir), leaves_only=True)


def _q_interval_overlap(spark, sf_dir):
    """General many-to-many interval-overlap join (intervals.overlap_join):
    per-user browse sessions (view/click) × conversion sessions
    (purchase/error), epoch-binned equi-join with the first-common-bin
    dedup rule — no cartesian product, no post-join distinct. Oracle:
    DuckDB's native range join over the same gaps-and-islands sessions."""
    from amazon_security_lake_transformation_library_spark.operators import intervals as ivx

    ev = _t(spark, sf_dir, "events")

    def side(types, pfx):
        # 6 h gap (not GAP_S): the sparse per-user event stream needs the
        # longer rule to produce multi-event sessions that actually overlap
        s = feat.sessionize(
            ev.where(F.col("event_type").isin(*types)),
            entity="user_id", ts_col="ts", gap_seconds=21600,
            order=("ts", "event_id"),
        )
        return ivx.sessions_to_intervals(s, entity="user_id").select(
            "user_id",
            F.col("session_id").alias(f"{pfx}_session"),
            F.col("start_ts").alias(f"{pfx}_start"),
            F.col("end_ts").alias(f"{pfx}_end"),
        )

    a, b = side(("view", "click"), "a"), side(("purchase", "error"), "b")
    out = ivx.overlap_join(a, b, "a_start", "a_end", "b_start", "b_end",
                           bin_seconds=3600, keys=["user_id"])
    return out.select(
        "user_id", "a_session", "b_session",
        F.unix_micros(F.col("a_start").cast("timestamp")).alias("a_start_us"),
        F.unix_micros(F.col("a_end").cast("timestamp")).alias("a_end_us"),
        F.unix_micros(F.col("b_start").cast("timestamp")).alias("b_start_us"),
        F.unix_micros(F.col("b_end").cast("timestamp")).alias("b_end_us"),
    )


def _q_embedding_covariance(spark, sf_dir):
    """Distributed d×d covariance (embedx.covariance): per-Arrow-batch
    partial Gram matrices (one BLAS matmul each) folded by ONE hash
    aggregate over d²·n_batches rows — shuffled volume scales with
    partition count, not row count (the RowMatrix.computeGramian shape).
    Upper triangle only (symmetric)."""
    from amazon_security_lake_transformation_library_spark.operators import embedx as ebx

    emb = _t(spark, sf_dir, "embeddings")
    if not emb.head(1):  # no corpus -> no covariance; empty result
        return spark.createDataFrame([], "i long, j long, cov double")
    # dim=64 is the embeddings table's schema contract (TESTDATA.md);
    # passing it skips the dimension-inference probe
    out = ebx.covariance(emb, dim=64)
    return out.where(F.col("i") <= F.col("j")).select(
        F.col("i").cast("long").alias("i"),
        F.col("j").cast("long").alias("j"),
        (F.round("cov", 4) + F.lit(0.0)).alias("cov"),
    )


def _q_embedding_pca(spark, sf_dir):
    """PCA projection onto the top-4 components (embedx.pca_components +
    pca_project): the covariance collect is d²-bounded (justified-collect
    class, like k-means centroids); the projection is one JVM zip_with/
    aggregate fold per component against broadcast literal arrays — zero
    Python in the row path. No SQL oracle (eigendecomposition is not
    ANSI-SQL-expressible) — correctness is pinned by
    tests/test_r5b_ops.py against numpy (allclose, orthonormality,
    variance ordering, partitioning independence)."""
    from amazon_security_lake_transformation_library_spark.operators import embedx as ebx

    emb = _t(spark, sf_dir, "embeddings")
    if not emb.head(1):  # no corpus -> no components to fit; empty result
        return spark.createDataFrame(
            [], "vec_id long, pc1 double, pc2 double, pc3 double, pc4 double")
    mu, comps, _ = ebx.pca_components(emb, p=4, dim=64)
    out = ebx.pca_project(emb, mu, comps)
    return out.select(
        "vec_id",
        *[(F.round(f"pc{k}", 4) + F.lit(0.0)).alias(f"pc{k}")
          for k in (1, 2, 3, 4)],
    )


def _q_semantic_decontaminate(spark, sf_dir):
    """Semantic (embedding-space) decontamination
    (datasetops.semantic_decontaminate): broadcast the small eval set,
    stream the train corpus through JVM cosine folds, left_anti on the
    tiny matched-id set — the paraphrase-robust companion to the 8-gram
    decontaminate. Threshold compare on the 4-decimal-rounded cosine
    (engine-independent, same contract as dedup_embedding_cosine)."""
    emb = _t(spark, sf_dir, "embeddings")
    ev = emb.where(F.col("vec_id") % 41 == 0)
    tr = emb.where(F.col("vec_id") % 41 != 0)
    out = dso.semantic_decontaminate(tr, ev, threshold=0.35)
    return out.select("vec_id", F.col("label").cast("long").alias("label"))


def _q_role_transitions(spark, sf_dir):
    """First-order Markov role-transition matrix over the transcripts
    fixture (behavior.transition_matrix): one conv-keyed lead window +
    a states²-sized aggregate; the conditional denominator window runs on
    that tiny table only."""
    t, _ = _flagship_inputs(spark, sf_dir)
    out = bhv.transition_matrix(t, entity="conv_id", order=("turn_idx",),
                                state_col="role")
    return out.select(
        "state_from", "state_to", F.col("n").cast("long").alias("n"),
        (F.round("p", 4) + F.lit(0.0)).alias("p"),
    )


def _q_select_budget(spark, sf_dir):
    """Budget-capped greedy corpus selection (curation.select_until_budget):
    score-histogram routing replaces the single-partition global-cumsum
    window — per-bucket aggregate (bounded table), running total + cut
    bucket on the bounded table, whole buckets via broadcast threshold,
    exact per-row window only inside the one cut bucket. Costs are
    integer-valued doubles, so every partial sum is exact and the result
    is partitioning-independent; the oracle runs the textbook global
    window."""
    docs = _t(spark, sf_dir, "documents").where(F.length("text") > 0)
    scored = docs.select(
        "doc_id",
        (F.length(F.regexp_replace("text", "[^A-Za-z]", "")).cast("double")
         / F.length("text")).alias("score"),
        F.col("n_chars").cast("double").alias("cost"),
    )
    # one scalar, bounded; empty corpus -> 0 budget -> empty selection
    total = scored.agg(F.sum("cost")).collect()[0][0] or 0.0
    out = cur.select_until_budget(scored, "score", "cost",
                                  budget=0.3 * total, n_buckets=100_000)
    return out.select(
        "doc_id",
        (F.round("score", 4) + F.lit(0.0)).alias("score"),
        F.col("cost").cast("long").alias("cost"),
    )


def _q_epoch_shard(spark, sf_dir):
    """Deterministic epoch shuffle + sharding (datasetops.epoch_shuffle):
    md5 sort key + independent-nibble shard, zero global window — epoch
    N+1 is the same projection with a new seed, never a stored
    permutation."""
    docs = _t(spark, sf_dir, "documents")
    out = dso.epoch_shuffle(docs.select("doc_id"), seed="epoch1",
                            n_shards=16)
    return out.select("doc_id", "sort_key", "shard")


def _q_linear_score(spark, sf_dir):
    """fastText-style linear quality-classifier inference
    (vectorize.linear_score): the model is a dim-row broadcast table;
    inference = hashed-feature stream ⋈ broadcast weights + one id-keyed
    fold-back aggregate. Weights come from the reproducible generator so
    the oracle rebuilds the identical model in SQL."""
    from amazon_security_lake_transformation_library_spark.operators import vectorize as vz

    ev = _t(spark, sf_dir, "events")
    w = vz.deterministic_weights(spark, dim=64)
    out = vz.linear_score(ev, ["event_type", "user_id"], w, dim=64,
                          bias=0.25)
    return out.select(
        "event_id", (F.round("score", 4) + F.lit(0.0)).alias("score")
    )


def _q_triangle_counts(spark, sf_dir):
    """Per-node triangle counts (graph.triangle_count) over a
    deterministic chain+skip+hub graph on the documents ids (each
    10-block's hub gets degree ~13 — the orientation must never
    enumerate wedges from it). Degree-ordered orientation (Suri &
    Vassilvitskii): wedge table bounded O(m^1.5), three equi-joins.
    Oracle: the canonical 3-way self-join — a different algorithm with
    no orientation at all."""
    from amazon_security_lake_transformation_library_spark.operators import graph as g

    ids = _t(spark, sf_dir, "documents").select("doc_id")
    cand = (
        ids.select(F.col("doc_id").alias("s"),
                   (F.col("doc_id") + 1).alias("t"))
        .unionAll(ids.select(F.col("doc_id").alias("s"),
                             (F.col("doc_id") + 2).alias("t")))
        .unionAll(ids.select(
            F.col("doc_id").alias("s"),
            (F.col("doc_id") - F.col("doc_id") % 10).alias("t")))
    )
    edges = cand.join(ids.select(F.col("doc_id").alias("t")), "t", "semi")
    out = g.triangle_count(edges, "s", "t")
    return out.select(F.col("node").cast("long").alias("node"),
                      F.col("n_triangles").cast("long").alias("n_triangles"))


def _q_twa_value(spark, sf_dir):
    """Per-user time-weighted average (behavior.time_weighted_avg): the
    TWAP/sensor mean for irregular sampling — one lead window (event_id
    tiebreak for equal-ts rows, so the step function is deterministic)
    + one hash aggregate; durations are exact microsecond longs."""
    ev = _t(spark, sf_dir, "events")
    out = bhv.time_weighted_avg(ev, entity="user_id", ts_col="ts",
                                value_col="value", order=("event_id",))
    return out.select(
        "user_id", F.col("n_obs").cast("long").alias("n_obs"),
        (F.round("twa", 4) + F.lit(0.0)).alias("twa"),
    )


def _q_assoc_rules(spark, sf_dir):
    """Pairwise association rules over per-user event-type baskets
    (behavior.association_rules): dedup first, so the self-join is
    bounded by the per-entity item vocabulary, never the event count;
    item counts broadcast back onto the pair table."""
    ev = _t(spark, sf_dir, "events")
    out = bhv.association_rules(ev, entity="user_id",
                                item_col="event_type")
    return out.select(
        "antecedent", "consequent",
        F.col("n_both").cast("long").alias("n_both"),
        (F.round("support", 4) + F.lit(0.0)).alias("support"),
        (F.round("confidence", 4) + F.lit(0.0)).alias("confidence"),
        (F.round("lift", 4) + F.lit(0.0)).alias("lift"),
    )


def _q_multimodal_resize(spark, sf_dir):
    """REAL image resize (multimodal.resize_nearest): synthesize a
    horizontal-gradient GRAY 24-bit BMP per document (pixel value
    (doc_id + 17x) % 256 — gray makes the integer ITU-R luma equal the
    pixel value exactly), decode + nearest-neighbor resample to 8×8 +
    re-encode inside one mapInPandas pass. The gradient makes the
    resized mean luma a closed form of doc_id alone, so the oracle
    recomputes it with no decoder."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from amazon_security_lake_transformation_library_spark.operators import multimodal as mm

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"].astype("int64"):
                d = int(doc_id)
                w, h = 8 + d % 8, 8 + (d * 3) % 8
                col = ((d + 17 * np.arange(w)) % 256).astype(np.uint8)
                px = np.repeat(col[None, :, None], 3, axis=2)
                px = np.repeat(px, h, axis=0)
                payloads.append(bytearray(mm.encode_bmp(px)))
            yield pd.DataFrame({"doc_id": pdf["doc_id"].astype("int64"),
                                "payload": payloads})

    blobs = docs.mapInPandas(gen, schema="doc_id long, payload binary")
    out = mm.resize_nearest(blobs, out_w=8, out_h=8)
    return out.select(
        "doc_id",
        F.col("out_w").cast("long").alias("out_w"),
        F.col("out_h").cast("long").alias("out_h"),
        (F.round("mean_luma", 4) + F.lit(0.0)).alias("mean_luma"),
    )


def _q_multimodal_audio(spark, sf_dir):
    """REAL audio decode (multimodal.decode_audio): synthesize a
    RIFF/WAVE PCM16 sawtooth clip per document (sample i =
    (((doc_id·31 + i·k) % 256) − 128)·256, k and length functions of
    doc_id), then parse the container back with the struct chunk walk
    and compute RMS + strict zero-crossing counts vectorized. Integer
    samples keep RMS engine-exact; the oracle rebuilds the identical
    samples from doc_id in SQL."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from amazon_security_lake_transformation_library_spark.operators import multimodal as mm

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"].astype("int64"):
                d = int(doc_id)
                n, k = 64 + d % 64, 1 + d % 5
                i = np.arange(n, dtype=np.int64)
                s = ((((d * 31) + i * k) % 256) - 128) * 256
                payloads.append(bytearray(
                    mm.encode_wav_pcm16(s.astype("<i2"), 8000)))
            yield pd.DataFrame({"doc_id": pdf["doc_id"].astype("int64"),
                                "payload": payloads})

    blobs = docs.mapInPandas(gen, schema="doc_id long, payload binary")
    out = mm.decode_audio(blobs)
    return out.select(
        "doc_id",
        F.col("n_samples").cast("long").alias("n_samples"),
        F.col("sample_rate").cast("long").alias("sample_rate"),
        F.col("n_channels").cast("long").alias("n_channels"),
        (F.round("rms", 4) + F.lit(0.0)).alias("rms"),
        F.col("zero_crossings").cast("long").alias("zero_crossings"),
    )


def _q_kcore(spark, sf_dir):
    """4-core membership (graph.kcore, iterative peel with checkpointed
    edge shrink) over a deterministic block-structured graph: per-100
    core cliques (degree 19 — stable), fringe-1 nodes anchored to 2 core
    nodes but held at degree 4 by fringe-2 arrivals, fringe-2 at degree
    2 — so the peel cascades EXACTLY two rounds at any corpus size.
    Oracle: the same peel unrolled as 4 chained degree/filter CTE rounds
    (2 peels + fixpoint verify + margin)."""
    from amazon_security_lake_transformation_library_spark.operators import graph as g

    ids = _t(spark, sf_dir, "documents").select("doc_id")
    core = ids.where(F.col("doc_id") % 10 < 2)
    ca = core.select(F.col("doc_id").alias("s"),
                     (F.col("doc_id") - F.col("doc_id") % 100).alias("_g"))
    cb = core.select(F.col("doc_id").alias("t"),
                     (F.col("doc_id") - F.col("doc_id") % 100).alias("_g2"))
    clique = ca.join(
        cb, (F.col("_g") == F.col("_g2")) & (F.col("s") < F.col("t"))
    ).select("s", "t")
    c = F.col("doc_id") % 10
    f1 = ids.where((c >= 2) & (c < 6))
    f2 = ids.where(c >= 6)
    edges = (
        clique
        .unionAll(f1.select(F.col("doc_id").alias("s"),
                            (F.col("doc_id") - c).alias("t")))
        .unionAll(f1.select(F.col("doc_id").alias("s"),
                            (F.col("doc_id") - c + 1).alias("t")))
        .unionAll(f2.select(F.col("doc_id").alias("s"),
                            (F.col("doc_id") - c + 2).alias("t")))
        .unionAll(f2.select(F.col("doc_id").alias("s"),
                            (F.col("doc_id") - c + 3).alias("t")))
    )
    out = g.kcore(edges, k=4, src="s", dst="t")
    return out.select(F.col("node").cast("long").alias("node"),
                      F.col("core_deg").cast("long").alias("core_deg"))


def _kcore_oracle_sql(rounds: int = 4, k: int = 4) -> str:
    """The identical peel unrolled as chained CTEs (the Bradley-Terry /
    pagerank unroll pattern): round i computes degrees of e{i-1} and
    keeps edges whose BOTH endpoints are strong. The fixture converges
    in 2 rounds at any N (simulated); ``rounds=4`` leaves margin and a
    fixpoint-verification round."""
    parts = ["""
        ids AS (SELECT doc_id FROM documents),
        core AS (SELECT doc_id FROM ids WHERE doc_id % 10 < 2),
        raw AS (
          SELECT a.doc_id AS s, b.doc_id AS t FROM core a JOIN core b
            ON a.doc_id - a.doc_id % 100 = b.doc_id - b.doc_id % 100
           AND a.doc_id < b.doc_id
          UNION ALL SELECT doc_id, doc_id - doc_id % 10 FROM ids
            WHERE doc_id % 10 BETWEEN 2 AND 5
          UNION ALL SELECT doc_id, doc_id - doc_id % 10 + 1 FROM ids
            WHERE doc_id % 10 BETWEEN 2 AND 5
          UNION ALL SELECT doc_id, doc_id - doc_id % 10 + 2 FROM ids
            WHERE doc_id % 10 >= 6
          UNION ALL SELECT doc_id, doc_id - doc_id % 10 + 3 FROM ids
            WHERE doc_id % 10 >= 6
        ),
        e0 AS (SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
               FROM raw WHERE s <> t)"""]
    for i in range(1, rounds + 1):
        parts.append(f"""
        d{i} AS (SELECT n, count(*) AS d FROM (
            SELECT a AS n FROM e{i - 1} UNION ALL SELECT b FROM e{i - 1}
          ) GROUP BY 1),
        e{i} AS (SELECT a, b FROM e{i - 1}
                 WHERE a IN (SELECT n FROM d{i} WHERE d >= {k})
                   AND b IN (SELECT n FROM d{i} WHERE d >= {k}))""")
    final = rounds
    return (
        "WITH " + ",".join(parts) + f"""
        SELECT node::BIGINT AS node, count(*)::BIGINT AS core_deg
        FROM (SELECT a AS node FROM e{final}
              UNION ALL SELECT b FROM e{final})
        GROUP BY 1"""
    )


def _q_dq_checks(spark, sf_dir):
    """Declarative data-quality gate (profiling.check_constraints): all
    four row-level checks fold into ONE conditional-aggregate scan of
    orders; uniqueness is one count/count-distinct aggregate; the FK
    check is one distinct-projected left-anti join against customer
    (AQE-broadcast at dim size). A 50-check suite would still cost one
    scan + one agg per unique + one anti per fk."""
    from amazon_security_lake_transformation_library_spark.operators import profiling as pr

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    checks = [
        {"name": "orderkey_unique", "kind": "unique", "cols": ["o_orderkey"]},
        {"name": "custkey_not_null", "kind": "not_null", "col": "o_custkey"},
        {"name": "status_accepted", "kind": "accepted_values",
         "col": "o_orderstatus", "values": ["O", "F"]},
        {"name": "totalprice_range", "kind": "range",
         "col": "o_totalprice", "lo": 0.0, "hi": 400_000.0},
        {"name": "priority_regex", "kind": "regex",
         "col": "o_orderpriority", "pattern": "^[1-5]-"},
        {"name": "custkey_fk", "kind": "fk", "col": "o_custkey",
         "ref_df": cust, "ref_col": "c_custkey"},
    ]
    return pr.check_constraints(orders, checks)


def _q_srp_topk(spark, sf_dir):
    """LSH-bucketed cosine top-k (similarity.srp_topk): signed-random-
    projection buckets from md5-derived Rademacher hyperplanes (no
    training pass — the zero-shot companion to IVF), multi-probe 1-bit
    flips, exact-cosine verify on candidates only. Oracle: the SAME
    md5-derived planes embedded as SQL list literals — the model is
    reproducible on any engine by construction."""
    emb = _t(spark, sf_dir, "embeddings")
    out = sim.srp_topk(emb, QUERY_VEC_IDS, k=5, n_band_bits=8)
    return _norm_zero(
        out.withColumn("rank", F.col("rank").cast("long")), "cos_sim")


def _srp_oracle_sql(k: int = 5, bits: int = 8, dim: int = 64) -> str:
    from amazon_security_lake_transformation_library_spark.operators.similarity import srp_planes

    P = srp_planes(bits, dim)
    vals = ", ".join(
        "({}, [{}])".format(j, ", ".join(
            f"{x:.1f}" for x in P[j]))
        for j in range(bits)
    )
    flips = ", ".join(f"xor(bucket, {1 << j})" for j in range(bits))
    return f"""
        WITH e AS ({_EMB}),
        pl(j, p) AS (VALUES {vals}),
        sig AS (
          SELECT e.vec_id,
                 sum(CASE WHEN list_dot_product(e.v, pl.p) >= 0
                          THEN (1 << pl.j) ELSE 0 END)::BIGINT AS bucket
          FROM e CROSS JOIN pl GROUP BY e.vec_id
        ),
        q AS (SELECT vec_id AS query_id, bucket FROM sig
              WHERE vec_id IN {_QUERY_IDS_SQL}),
        pr AS (SELECT query_id, unnest([bucket, {flips}]) AS bucket FROM q),
        cand AS (
          SELECT pr.query_id, s.vec_id AS neighbor_id
          FROM pr JOIN sig s ON s.bucket = pr.bucket
          WHERE s.vec_id <> pr.query_id
        ),
        sc AS (
          SELECT c.query_id, c.neighbor_id,
                 {_cos('eq.v', 'ev.v')} AS cos_sim
          FROM cand c
          JOIN e eq ON eq.vec_id = c.query_id
          JOIN e ev ON ev.vec_id = c.neighbor_id
        ),
        r AS (SELECT query_id, neighbor_id, cos_sim,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY cos_sim DESC, neighbor_id) AS rank
              FROM sc)
        SELECT query_id, rank::BIGINT AS rank, neighbor_id, cos_sim
        FROM r WHERE rank <= {k}
    """


def _q_collapse_bursts(spark, sf_dir):
    """Burst collapse (features.collapse_bursts): keep the head row of
    every rapid-fire run per user — the fuzzy-timestamp dedup for retry
    storms / at-least-once redelivery; one lag window + filter."""
    ev = _t(spark, sf_dir, "events")
    out = feat.collapse_bursts(ev, entity="user_id", ts_col="ts",
                               gap_seconds=3600.0, order=("event_id",))
    return out.select(
        "event_id", "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.col("burst_id").cast("long").alias("burst_id"),
    )


def _q_bootstrap_docs(spark, sf_dir):
    """Deterministic bootstrap resample (datasetops.bootstrap_sample):
    draw j -> md5(seed||j) % N — with-replacement sampling that is a
    pure function of (seed, j), reproducible on any engine/partitioning
    (rand()-based sampling is not); one equi-join, AQE-broadcast draws."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return dso.bootstrap_sample(docs, n_draws=1000, seed="boot-v1")


def _q_trimmed_mean(spark, sf_dir):
    """Exact per-user 10% trimmed mean (features.trimmed_mean): integer
    floor trim + total-order ranking makes the kept set (hence the mean)
    engine- and partitioning-identical; one rank window + one agg."""
    ev = _t(spark, sf_dir, "events")
    out = feat.trimmed_mean(ev, entity="user_id", value_col="value",
                            trim_frac=0.1, order=("event_id",))
    return out.select(
        "user_id", F.col("n_kept").cast("long").alias("n_kept"),
        (F.round("trimmed_mean", 4) + F.lit(0.0)).alias("trimmed_mean"),
    )


# ORDERING CONTRACT: the driver's differential gate records rows for the
# FIRST 50 dict entries only. _GATE_FRONT lists, explicitly, every entry
# that has no driver-green row in any earlier round's CORRECTNESS artifact
# (57 as of late r4; the seven past the 50-cap have local check_oracle evidence and rotate into the r5 gate) followed by prior-green re-pin anchors (the four
# §7.2-regressed cells + the flagship pair) up to the 50-slot budget;
# _gate_order() moves them to the front so the official artifact covers
# them. Across the r2+r3+r4 artifacts every entry then has at least one
# driver-green row. When adding a query, ALSO add its name to _GATE_FRONT
# (new entries are by definition never-checked). See README 'driver gate
# coverage'.
_GATE_FRONT = [
    # --- never driver-checked before the r5 gate runs: the seven r4
    # additions that landed past the r4 50-slot cap (local check_oracle
    # evidence in CORRECTNESS_LOCAL_r04.json), rotated to the head so the
    # official r5 artifact covers them ---
    "curriculum_docs", "repair_turns", "negative_samples_docs",
    "materialize_mixture_docs", "positive_pairs_docs",
    "conv_quality_filter", "contrastive_triples",
    # --- new r5 queries (never checked, by definition) ---
    "asof_join_events_skinny_stream_form",
    "multimodal_decode_image",
    "decontaminate_docs_bloom_forced",
    "dedup_incremental_docs",
    "semdedup_docs",
    "funnel_steps_events", "funnel_reach_events",
    "cohort_retention_events", "rolling_distinct_users",
    "rolling_distinct_kmv_users",
    "bm25_topk_docs", "knn_label_metrics",
    "cms_freq_users", "key_skew_profile_events",
    "mad_outliers_value", "normalize_text_docs", "conv_latency_profile",
    "pagerank_event_graph", "corpus_overlap_kmv",
    "rolling_median_value", "rolling_zscore_value", "throttle_events_hourly",
    "length_bucket_batches", "column_profile_events",
    "scale_features_events", "scale_features_grouped",
    "lm_perplexity_docs", "kfold_users_events", "tscv_folds_events",
    "hashed_features_events", "hashed_features_vec_events", "multihot_docs",
    "resample_ffill_users", "calendar_features_events",
    "rolling_corr_value", "cusum_value_by_user", "doc_entropy_gate",
    "auc_value_events", "calibration_events",
    "rolling_slope_value", "quantile_bin_value", "ks_drift_value",
    "scd2_user_state", "snapshot_diff_events",
    "ngram_containment_docs", "pmi_collocations_docs",
    "cohen_kappa_raters", "fleiss_kappa_items",
    "bradley_terry_models", "conv_tree_paths", "gold_labels_items",
    "ranking_metrics_docs", "turn_self_similarity", "tool_loop_runs",
    "dedup_jaccard_exact", "zorder_events", "bm25_multi_docs",
    "split_by_cluster_docs", "zorder_spans_events",
    "interval_overlap_sessions", "embedding_covariance",
    "embedding_pca_project", "decontaminate_semantic",
    "role_transitions", "select_budget_docs", "epoch_shard_docs",
    "quality_linear_score", "triangle_counts_docs",
    "twa_value_by_user", "assoc_rules_events",
    "multimodal_resize_image", "multimodal_audio_features",
    "kcore_docs", "dq_checks_orders", "ann_srp_topk",
    "collapse_bursts_events", "bootstrap_sample_docs",
    "trimmed_mean_value_by_user",
    # --- prior-green re-pin anchors: r4-green rows (CORRECTNESS_r04.json,
    # 50/50 green) re-pinned up to the 50-slot budget; entries past the cap
    # already have driver-green rows in r2/r3/r4 ---
    "kmv_distinct_users", "merge_orders_cdc",
    "dataset_split_events", "split_temporal_events",
    "sample_stratified_docs", "pack_sequences", "doc_chunks",
    "decontaminate_docs", "doc_length_quantiles", "iqr_value_by_user",
    "doc_chunks_udtf", "ewma_events", "ewma_events_grouped",
    "dedup_clusters", "flagship_transcripts_bucketed",
    "dedup_stream_batch", "stream_interval_join_batch",
    "duplicate_ngram_spans", "scrub_duplicate_spans",
    "label_horizon_events", "sample_topn_per_group",
    "domain_mixture_docs", "importance_weights_docs",
    "psi_value_by_split", "target_encode_events",
    "frequency_encode_events", "zscore_value_by_type",
    "mutual_info_type_value", "chat_render", "chat_loss_spans",
    "conv_prefix_dedup", "validate_turns", "context_budget",
    "sample_weighted_docs", "boilerplate_assistant_turns",
    "conv_profile", "conv_profile_incremental", "hot_conversations",
    "heavy_users_events", "sft_pairs", "tool_chains",
    "decontaminate_docs_bloom", "conv_near_dup_minhash",
    "asof_join_events_stacked", "asof_join_events_skinny",
    "asof_join_events_skinny_iv", "asof_join_events_skinny_routed",
    "asof_join_events_forward", "asof_join_events_nearest",
    "preference_pairs",
    # --- older anchors (past the 50-slot budget once the list above
    # fills; each has driver-green rows in r2/r3) ---
    "ann_kmeans_centroids", "dedup_exact", "dedup_minhash_lsh",
    "dedup_ngram_jaccard", "flagship_transcripts",
]


def _gate_order(d: dict) -> dict:
    front = [k for k in _GATE_FRONT if k in d]
    rest = {k: v for k, v in d.items() if k not in set(front)}
    return {**{k: d[k] for k in front}, **rest}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """See the _GATE_FRONT ordering contract above."""
    return _gate_order({
        # ---- r4 front block: entries the r1-r3 driver gates never reached
        # sketch / CDC merge
        "kmv_distinct_users": _q_kmv_distinct_users,
        "merge_orders_cdc": _q_merge_orders_cdc,
        # dataset assembly: splits / mixtures / packing / chunking /
        # decontamination / exact quantiles
        "dataset_split_events": _q_dataset_split,
        "split_by_cluster_docs": _q_split_by_cluster,
        "split_temporal_events": _q_split_temporal,
        "sample_stratified_docs": _q_sample_stratified,
        "pack_sequences": _q_pack_sequences,
        "doc_chunks": _q_doc_chunks,
        "positive_pairs_docs": _q_positive_pairs,
        "conv_quality_filter": _q_conv_quality_filter,
        "contrastive_triples": _q_contrastive_triples,
        "decontaminate_docs": _q_decontaminate,
        "doc_length_quantiles": _q_doc_quantiles,
        "iqr_value_by_user": _q_iqr_by_user,
        "doc_chunks_udtf": _q_doc_chunks_udtf,
        "ewma_events": _q_ewma_events,
        "ewma_events_grouped": _q_ewma_events_grouped,
        # dedup family
        "dedup_exact": _q_dedup_exact,
        "dedup_minhash_lsh": _q_minhash,
        "dedup_incremental_docs": _q_dedup_incremental,
        "semdedup_docs": _q_semdedup,
        "dedup_ngram_jaccard": _q_ngram_jaccard,
        "dedup_jaccard_exact": _q_jaccard_exact,
        "zorder_events": _q_zorder_events,
        "zorder_spans_events": _q_zorder_spans,
        # r5 second wave: interval algebra, embedding matrix analytics,
        # semantic decontamination, transition profiles, budgeted
        # selection, epoch sharding, classifier inference
        "interval_overlap_sessions": _q_interval_overlap,
        "embedding_covariance": _q_embedding_covariance,
        "embedding_pca_project": _q_embedding_pca,
        "decontaminate_semantic": _q_semantic_decontaminate,
        "role_transitions": _q_role_transitions,
        "select_budget_docs": _q_select_budget,
        "epoch_shard_docs": _q_epoch_shard,
        "quality_linear_score": _q_linear_score,
        "triangle_counts_docs": _q_triangle_counts,
        "twa_value_by_user": _q_twa_value,
        "assoc_rules_events": _q_assoc_rules,
        "multimodal_resize_image": _q_multimodal_resize,
        "multimodal_audio_features": _q_multimodal_audio,
        "kcore_docs": _q_kcore,
        "dq_checks_orders": _q_dq_checks,
        "ann_srp_topk": _q_srp_topk,
        "collapse_bursts_events": _q_collapse_bursts,
        "bootstrap_sample_docs": _q_bootstrap_docs,
        "trimmed_mean_value_by_user": _q_trimmed_mean,
        "ngram_containment_docs": _q_ngram_containment,
        "dedup_simhash_hamming": _q_simhash_hamming,
        "dedup_clusters": _q_dedup_clusters,
        # similarity / ANN family
        "ann_cosine_topk": _q_ann_topk,
        "ann_ivf_topk": _q_ivf_topk,
        "ann_kmeans_centroids": _q_kmeans_centroids,
        "dedup_embedding_cosine_blocked": _q_embedding_near_dup_blocked,
        # multimodal plumbing
        "multimodal_meta": _q_multimodal,
        "multimodal_frames": _q_multimodal_frames,
        "multimodal_decode_image": _q_multimodal_decode,
        # north-star transcripts flagship (fused block; parquet fixture +
        # DuckDB ASOF oracle; all four strategies share one oracle)
        "flagship_transcripts": _q_flagship_transcripts,
        "flagship_transcripts_bucketed": _q_flagship_bucketed,
        "flagship_transcripts_salted": _q_flagship_salted,
        "flagship_transcripts_hybrid": _q_flagship_hybrid,
        # behavioral analytics family (new r5): funnel / cohort / rolling
        "funnel_steps_events": _q_funnel_steps,
        "funnel_reach_events": _q_funnel_reach,
        "cohort_retention_events": _q_cohort_retention,
        "rolling_distinct_users": _q_rolling_distinct,
        "bm25_topk_docs": _q_bm25_topk,
        "ranking_metrics_docs": _q_ranking_metrics,
        "bm25_multi_docs": _q_bm25_multi,
        "turn_self_similarity": _q_turn_self_similarity,
        "tool_loop_runs": _q_tool_loop_runs,
        "knn_label_metrics": _q_knn_label_metrics,
        "cms_freq_users": _q_cms_freq,
        "key_skew_profile_events": _q_key_skew_profile,
        "mad_outliers_value": _q_mad_outliers,
        "normalize_text_docs": _q_normalize_text,
        "conv_latency_profile": _q_conv_latency,
        "pagerank_event_graph": _q_pagerank,
        "corpus_overlap_kmv": _q_corpus_overlap,
        "rolling_median_value": _q_rolling_median,
        "rolling_zscore_value": _q_rolling_zscore,
        "throttle_events_hourly": _q_throttle,
        "length_bucket_batches": _q_length_batches,
        "column_profile_events": _q_column_profile,
        "scale_features_events": _q_scale_features,
        "scale_features_grouped": _q_scale_features_grouped,
        "lm_perplexity_docs": _q_lm_perplexity,
        "kfold_users_events": _q_kfold_users,
        "tscv_folds_events": _q_tscv_folds,
        "hashed_features_events": _q_hashed_features,
        "hashed_features_vec_events": _q_hashed_features_vec,
        "multihot_docs": _q_multihot_docs,
        # temporal feature surface (new r5): grid resampling, calendar,
        # rolling correlation, CUSUM drift
        "resample_ffill_users": _q_resample_ffill,
        "calendar_features_events": _q_calendar_features,
        "rolling_corr_value": _q_rolling_corr,
        "cusum_value_by_user": _q_cusum_value,
        # quality + evaluation surface (new r5)
        "doc_entropy_gate": _q_entropy_gate,
        "auc_value_events": _q_roc_auc,
        "calibration_events": _q_calibration,
        "rolling_slope_value": _q_rolling_slope,
        "quantile_bin_value": _q_quantile_bin,
        "ks_drift_value": _q_ks_drift,
        # data-versioning surface (new r5): SCD2 dimension build + CDC diff
        "scd2_user_state": _q_scd2,
        "snapshot_diff_events": _q_snapshot_diff,
        # annotation-QA / preference analytics (new r5)
        "cohen_kappa_raters": _q_cohen_kappa,
        "fleiss_kappa_items": _q_fleiss_kappa,
        "bradley_terry_models": _q_bradley_terry,
        "conv_tree_paths": _q_conv_tree_paths,
        "gold_labels_items": _q_gold_labels,
        "rolling_distinct_kmv_users": _q_rolling_distinct_kmv,
        # streaming operators under the batch-form differential gate (new r4)
        "dedup_stream_batch": _q_dedup_stream_batch,
        "stream_interval_join_batch": _q_stream_interval_join_batch,
        # cross-doc exact-substring dedup (new r4)
        "duplicate_ngram_spans": _q_duplicate_spans,
        "scrub_duplicate_spans": _q_scrub_duplicate_spans,
        # curation surface (new r4): labels / sampling / mixing / drift
        "label_horizon_events": _q_label_horizon,
        "sample_topn_per_group": _q_sample_topn_per_group,
        "curriculum_docs": _q_curriculum,
        "negative_samples_docs": _q_negative_samples,
        "domain_mixture_docs": _q_domain_mixture,
        "materialize_mixture_docs": _q_materialize_mixture,
        "importance_weights_docs": _q_importance_weights,
        "psi_value_by_split": _q_psi_by_split,
        # encoder surface (new r4): leakage-free target stats + diagnostics
        "target_encode_events": _q_target_encode,
        "frequency_encode_events": _q_frequency_encode,
        "zscore_value_by_type": _q_zscore_by_type,
        "mutual_info_type_value": _q_mutual_info,
        # training-example assembly over transcripts (new r4)
        "chat_render": _q_chat_render,
        "chat_loss_spans": _q_chat_loss_spans,
        "conv_prefix_dedup": _q_conv_prefix_dedup,
        "validate_turns": _q_validate_turns,
        "context_budget": _q_context_budget,
        # weighted sampling + transcript hygiene (new r4)
        "sample_weighted_docs": _q_sample_weighted,
        "boilerplate_assistant_turns": _q_boilerplate_turns,
        "conv_profile": _q_conv_profile,
        "conv_profile_incremental": _q_conv_profile_incremental,
        # exact heavy hitters via Misra-Gries candidates (new r4)
        "hot_conversations": _q_hot_conversations,
        "heavy_users_events": _q_heavy_users_events,
        # late-r4 additions (past this round's 50-entry gate cap — local
        # check_oracle evidence now, r5 rotates them in)
        "sft_pairs": _q_sft_pairs,
        "tool_chains": _q_tool_chains,
        "decontaminate_docs_bloom": _q_decontaminate_bloom,
        "decontaminate_docs_bloom_forced": _q_decontaminate_bloom_forced,
        "conv_near_dup_minhash": _q_conv_near_dup,
        "preference_pairs": _q_preference_pairs,
        "repair_turns": _q_repair_turns,
        # ---- tail: driver-green rows in CORRECTNESS_r02/r03 ----
        # variants whose sibling stayed in the gate (simhash_hamming,
        # ivf_topk, cosine_blocked cover the same code paths)
        "dedup_simhash": _q_simhash,
        "ann_ivf_assign": _q_ivf_assign,
        "dedup_embedding_cosine": _q_embedding_near_dup,
        # north-rule window / as-of surface (events stream)
        "lag_lead_events": _q_lag_lead,
        "ffill_events": _q_ffill,
        "sessionize_events": _q_sessionize,
        "session_stats": _q_session_stats,
        "cumsum_events": _q_cumsum,
        "asof_join_events": _q_asof,
        "asof_join_events_forward": _q_asof_forward,
        "asof_join_events_nearest": _q_asof_nearest,
        "asof_join_events_range": _q_asof_interval,
        "asof_join_events_interval": _q_asof_interval,
        "asof_join_events_tolerance": _q_asof_tolerance,
        "asof_join_events_multi": _q_asof_multi,
        "asof_join_events_stacked": _q_asof_stacked,
        "asof_join_events_skinny": _q_asof_skinny,
        "asof_join_events_skinny_iv": _q_asof_skinny_iv,
        "asof_join_events_skinny_stream_form": _q_asof_skinny_stream_form,
        "asof_join_events_skinny_routed": _q_asof_skinny_routed,
        "tumbling_hourly_events": _q_tumbling_hourly,
        "sliding_rate_events": _q_sliding_rate,
        "session_window_events": _q_session_window,
        # reference-parity scalar ops (SURVEY.md §2.A)
        "enum_case_lookup": _q_enum_case,
        "json_dot_locator": _q_json_locator,
        "eventday_counts": _q_eventday,
        "alb_parse": _q_alb_parse,
        "sysmon_description_kv": _q_sysmon_kv,
        # ---- entries 51+: driver-green in r3 (beyond the 50-entry cap
        # this round; every entry still runs under bench.py and pytest)
        "mapping_dispatch": _q_mapping_dispatch,
        "mapping_rejects": _q_mapping_rejects,
        # ingest I/O surface (A1-A6) under the differential gate
        "kinesis_decode": _q_kinesis_decode,
        "s3_key_routing": _q_s3_key_routing,
        "json_fallback": _q_json_fallback,
        "gzip_line_scan": _q_gzip_line_scan,
        # joins / aggregations
        "q1_pricing_summary": _q1_pricing,
        "q3_top_orders": _q3_top_orders,
        "region_customer_stats": _q_region_stats,
        "customers_without_orders": _q_anti_join,
        "rollup_orders": _q_rollup,
        "cube_orders": _q_cube,
        "except_distinct_custkeys": _q_except,
        "union_by_name_mixed": _q_union_by_name,
        "topk_orders_per_priority": _q_topk_per_group,
        "distinct_users_by_type": _q_distinct_users,
        "rolling_1h_events": _q_rolling_1h,
        "pivot_status_by_priority": _q_pivot,
        "unpivot_order_measures": _q_unpivot,
        "grouping_sets_orders": _q_grouping_sets,
        "ntile_events": _q_ntile,
        "histogram_doc_lengths": _q_histogram,
        "full_outer_daily_activity": _q_full_outer,
        # training-data ops: text analysis + dedup + similarity
        "doc_stats": _q_doc_stats,
        "doc_bpe_subwords": _q_doc_bpe_subwords,
        # corpus-quality / repetition / redaction surface (Gopher signals,
        # corpus heavy hitters, TF-IDF, PII scrub)
        "repetition_stats": _q_repetition_stats,
        "line_stats": _q_line_stats,
        "top_ngrams": _q_top_ngrams,
        "tfidf_top_terms": _q_tfidf_top_terms,
        "pmi_collocations_docs": _q_pmi_collocations,
        "corpus_filter": _q_corpus_filter,
        "scrub_pii": _q_scrub_pii,
        "doc_lang_trigram": _q_doc_lang_trigram,
    })


# ---------------------------------------------------------------- oracle SQL

_EVENT_WINDOW = "PARTITION BY user_id ORDER BY ts, event_id"
_EVENT_CUM = _EVENT_WINDOW + " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"

# greedy funnel recurrence (same shape as behavior.funnel_conversion, as
# chained CTEs): step i = earliest event of type i strictly after the
# entity's step i-1 time
_FUNNEL_CTES = """
            s1 AS (
              SELECT user_id, min(ts) AS step1_ts FROM events
              WHERE event_type = 'signup' GROUP BY user_id
            ), s2 AS (
              SELECT e.user_id, min(e.ts) AS step2_ts
              FROM events e JOIN s1 ON e.user_id = s1.user_id
              WHERE e.event_type = 'click' AND e.ts > s1.step1_ts
              GROUP BY e.user_id
            ), s3 AS (
              SELECT e.user_id, min(e.ts) AS step3_ts
              FROM events e JOIN s2 ON e.user_id = s2.user_id
              WHERE e.event_type = 'purchase' AND e.ts > s2.step2_ts
              GROUP BY e.user_id
            )
"""

_SESSION_FLAG = f"""
SELECT event_id, user_id, ts, value,
       CASE WHEN lag(ts) OVER ({_EVENT_WINDOW}) IS NULL
                 OR (epoch_us(ts) - epoch_us(lag(ts) OVER ({_EVENT_WINDOW}))) / 1000000.0 > 1800.0
            THEN 1 ELSE 0 END AS flag
FROM events
"""

_PURCHASE_BUILD = """
SELECT user_id, ts, feature_val FROM (
  SELECT user_id, ts, round(value, 4) AS feature_val,
         row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
  FROM events WHERE event_type = 'purchase'
) WHERE rn = 1
"""

_STOPW = "('the','a','of','to','and','in','is')"
_STOPW_ES = "('el','la','de','que','y','en','es')"
_STOPW_DE = "('der','die','das','und','nicht','ist','ich')"

_DOC_BASE = f"""
SELECT doc_id,
       length(text)::BIGINT AS n_chars,
       len(string_split(text, ' '))::BIGINT AS n_tokens,
       ceil(length(text) / 4.0)::BIGINT AS n_subwords,
       round((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9_ \t]', '', 'g')))
             / greatest(length(text), 1), 4) AS punct_ratio,
       round(len(list_filter(string_split(text, ' '), x -> x IN {_STOPW}))
             / greatest(len(string_split(text, ' ')), 1), 4) AS stopword_ratio,
       len(list_filter(string_split(text, ' '), x -> x IN {_STOPW}))::BIGINT AS en_hits,
       len(list_filter(string_split(text, ' '), x -> x IN {_STOPW_ES}))::BIGINT AS es_hits,
       len(list_filter(string_split(text, ' '), x -> x IN {_STOPW_DE}))::BIGINT AS de_hits,
       md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint,
       length(text) / greatest(len(string_split(text, ' ')), 1) AS mean_tok
FROM documents
"""

def _minhash_pairs_sql(src: str, incremental: bool = False) -> str:
    """LSH candidate-pair oracle parameterized over the corpus source —
    ``src`` is any SQL producing ``(doc_id, text)``. Reused verbatim by
    the document-level query (``documents``), the conversation-level
    query (rendered transcripts CTE), and — with ``incremental=True`` —
    the index-vs-batch cross join of the incremental dedup gate, so all
    three gates share one independently-derived algorithm."""
    shingles = f"""
SELECT doc_id, CASE WHEN len(ws) >= 3
         THEN list_transform(range(1, len(ws) - 1),
                             i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
         ELSE []::VARCHAR[] END AS g
FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM ({src}))
"""
    sig = f"""
SELECT doc_id,
       [list_min(list_transform(h0, s -> substr(s, 1, 8))),
        list_min(list_transform(h0, s -> substr(s, 9, 8))),
        list_min(list_transform(h0, s -> substr(s, 17, 8))),
        list_min(list_transform(h0, s -> substr(s, 25, 8))),
        list_min(list_transform(h1, s -> substr(s, 1, 8))),
        list_min(list_transform(h1, s -> substr(s, 9, 8))),
        list_min(list_transform(h1, s -> substr(s, 17, 8))),
        list_min(list_transform(h1, s -> substr(s, 25, 8)))] AS mh
FROM (
  SELECT doc_id,
         list_transform(g, x -> md5('s0:' || x)) AS h0,
         list_transform(g, x -> md5('s1:' || x)) AS h1
  FROM ({shingles})
)
"""
    bands = f"""
SELECT s.doc_id, b.band_id,
       md5(s.mh[b.band_id * 2 + 1] || '|' || s.mh[b.band_id * 2 + 2]) AS bucket
FROM ({sig}) s, (VALUES (0),(1),(2),(3)) b(band_id)
"""
    if incremental:
        # (indexed corpus = even ids) x (ingest batch = odd ids): the
        # incremental gate's semantics — same bands CTE, cross-side join
        return f"""
SELECT b.doc_id AS doc_new, a.doc_id AS doc_old, count(*)::BIGINT AS n_shared_bands
FROM ({bands}) a JOIN ({bands}) b
  ON a.band_id = b.band_id AND a.bucket = b.bucket
WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
GROUP BY 1, 2
"""
    return f"""
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS n_shared_bands
FROM ({bands}) a JOIN ({bands}) b
  ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.doc_id < b.doc_id
GROUP BY 1, 2
"""


_MINHASH_PAIRS = _minhash_pairs_sql("SELECT doc_id, text FROM documents")
_MINHASH_INCREMENTAL = _minhash_pairs_sql(
    "SELECT doc_id, text FROM documents", incremental=True
)

_DECON_SQL = """
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), g AS (
      SELECT doc_id,
             unnest(generate_series(1, greatest(0, len(toks) - 7))) AS i,
             toks
      FROM d
    ), fp AS (
      SELECT doc_id,
             md5(array_to_string(list_slice(toks, i, i + 7), ' ')) AS fp
      FROM g
    )
    SELECT e.doc_id, count(DISTINCT e.fp)::BIGINT AS n_shared
    FROM (SELECT * FROM fp WHERE doc_id % 2 = 1) e
    JOIN (SELECT DISTINCT fp FROM fp WHERE doc_id % 2 = 0) t USING (fp)
    GROUP BY e.doc_id
"""

_EMB = "SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings"

# annotation fixture: see _ratings_fixture (one rating per (item, rater) cell)
_RATINGS_FIXTURE_SQL = (
    "SELECT event_id // 8 AS item_id, event_id % 8 AS rater_id, "
    "event_type AS label FROM events"
)


def _bt_oracle_sql(iters: int) -> str:
    """Unrolled Bradley-Terry MM oracle: the same fixed-point iteration
    annotation.bradley_terry runs in numpy, expressed as one CTE chain
    per round (join strengths onto the pair-count table, re-estimate,
    renormalize to mean 1) — a different execution substrate for the
    identical arithmetic, which is exactly what the differential gate
    wants for an iterative solver."""
    parts = [
        """
            WITH matches AS MATERIALIZED (
              SELECT CASE WHEN value + 7.0 * (event_id % 8)
                                - 7.0 * ((event_id // 8) % 8) >= 100.0
                          THEN event_id % 8 ELSE (event_id // 8) % 8
                     END AS winner,
                     CASE WHEN value + 7.0 * (event_id % 8)
                                - 7.0 * ((event_id // 8) % 8) >= 100.0
                          THEN (event_id // 8) % 8 ELSE event_id % 8
                     END AS loser
              FROM events WHERE (event_id % 8) <> ((event_id // 8) % 8)
            ),
            d AS MATERIALIZED (SELECT winner AS i, loser AS j, 1 AS w FROM matches
                  UNION ALL SELECT loser, winner, 0 FROM matches),
            pc AS MATERIALIZED (SELECT i, j, sum(w)::DOUBLE AS w_ij,
                          count(*)::DOUBLE AS n_ij
                   FROM d GROUP BY i, j),
            wins AS MATERIALIZED (SELECT i AS item, sum(w_ij) AS wins, sum(n_ij) AS games
                     FROM pc GROUP BY i),
            s0 AS MATERIALIZED (SELECT item, 1.0 AS s FROM wins)"""
    ]
    for k in range(1, iters + 1):
        parts.append(
            f""",
            r{k} AS MATERIALIZED (
              SELECT p.i AS item, w.wins / sum(p.n_ij / (a.s + b.s)) AS s_raw
              FROM pc p JOIN s{k - 1} a ON p.i = a.item
                        JOIN s{k - 1} b ON p.j = b.item
                        JOIN wins w ON w.item = p.i
              GROUP BY p.i, w.wins
            ),
            s{k} AS MATERIALIZED (SELECT item,
                     s_raw / (SELECT avg(s_raw) FROM r{k}) AS s FROM r{k})"""
        )
    parts.append(
        f"""
            SELECT w.item, w.wins::BIGINT AS wins, w.games::BIGINT AS games,
                   round(s.s, 4) + 0.0 AS strength
            FROM wins w JOIN s{iters} s ON w.item = s.item"""
    )
    return "".join(parts)
_DOT64 = "list_sum(list_transform(range(1, 65), i -> {a}[i] * {b}[i]))"
_NRM = "sqrt(list_sum(list_transform({a}, x -> x * x)))"


def _cos(a: str, b: str) -> str:
    return (
        f"round({_DOT64.format(a=a, b=b)} / ({_NRM.format(a=a)} * {_NRM.format(a=b)}), 4) + 0.0"
    )


_QUERY_IDS_SQL = "(" + ",".join(str(i) for i in QUERY_VEC_IDS) + ")"


def _bm25_sql(terms, k=20, k1=1.2, b=0.75):
    """BM25 oracle: the identical formula as explicit SQL, every double
    literal spelled with repr() so DuckDB parses the exact binary64 value
    Spark computes (e.g. k1+1.0), and the per-term sum written in the same
    left-to-right association order as retrieval.bm25_topk."""
    toks = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '')"
    tf_cols = ",\n                     ".join(
        f"len(list_filter(tk, x -> x = '{t}'))::DOUBLE AS tf{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ",\n                     ".join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1.0 ELSE 0.0 END) AS df{i}"
        for i in range(len(terms))
    )
    contrib = "\n                       + ".join(
        f"ln(1.0 + (n - df{i} + 0.5) / (df{i} + 0.5))"
        f" * tf{i} * {k1 + 1.0!r} / (tf{i} + {k1!r} * ({1.0 - b!r} + {b!r} * dl / avgdl))"
        for i in range(len(terms))
    )
    return f"""
            WITH toks AS (
              SELECT doc_id, tk, len(tk)::DOUBLE AS dl,
                     {tf_cols}
              FROM (SELECT doc_id, {toks} AS tk FROM documents)
            ), st AS (
              SELECT count(*)::DOUBLE AS n,
                     sum(dl) / count(*) AS avgdl,
                     {df_cols}
              FROM toks
            ), sc AS (
              SELECT doc_id,
                     round(0.0
                       + {contrib}, 4) AS score
              FROM toks, st
            )
            SELECT row_number() OVER (ORDER BY score DESC, doc_id) AS rank,
                   doc_id, score + 0.0 AS score
            FROM sc WHERE score > 0
            ORDER BY score DESC, doc_id LIMIT {k}
        """


_BM25_SQL = _bm25_sql(BM25_TERMS)


def _bm25_multi_sql(workload, k=10, k1=1.2, b=0.75):
    """Posting-list BM25 oracle for the multi-query batch form: same
    tokenizer and RSJ idf as _bm25_sql, but built exactly the way
    retrieval.bm25_topk_multi builds it — workload-term-pruned postings,
    per-term df over the pruned postings, per-(query, doc) sum, rank on
    the ROUNDED score with doc-id tiebreak."""
    toks = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '')"
    values = ", ".join(f"('{q}', '{t}')" for q, t in workload)
    return f"""
            WITH tk AS (
              SELECT doc_id, {toks} AS tk FROM documents
            ),
            dl AS (SELECT doc_id, len(tk)::DOUBLE AS dl FROM tk),
            st AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
            wl(query_id, term) AS (VALUES {values}),
            post AS (
              SELECT p.doc_id, p.term, count(*)::DOUBLE AS tf
              FROM (SELECT doc_id, unnest(tk) AS term FROM tk) p
              WHERE p.term IN (SELECT DISTINCT term FROM wl)
              GROUP BY 1, 2
            ),
            dft AS (
              SELECT term, count(*)::DOUBLE AS df FROM post GROUP BY 1
            ),
            sc AS (
              SELECT w.query_id, p.doc_id,
                     round(sum(
                       ln(1.0 + (n - f.df + 0.5) / (f.df + 0.5))
                       * p.tf * {k1 + 1.0!r}
                       / (p.tf + {k1!r}
                          * ({1.0 - b!r} + {b!r} * d.dl / avgdl))
                     ), 4) AS score
              FROM wl w
              JOIN post p USING (term)
              JOIN dft f USING (term)
              JOIN dl d ON d.doc_id = p.doc_id, st
              GROUP BY 1, 2
            )
            SELECT query_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, doc_id) AS rank,
                   doc_id, score + 0.0 AS score
            FROM sc WHERE score > 0
            QUALIFY rank <= {k}
        """


def _cms_sql(depth=4, width=64):
    """CMS oracle: replays the identical md5-derived buckets (the exact
    binary-fraction construction of sketch.hash_frac) and the min-over-
    rows estimate in plain SQL."""

    def frac(expr):
        return " + ".join(
            f"(strpos('0123456789abcdef', substr({expr}, {i}, 1)) - 1)"
            f" * power(16.0, -{i})"
            for i in range(1, 9)
        )

    def bucket(j):
        h = f"md5('{j}:' || user_id::VARCHAR)"
        return f"floor(({frac(h)}) * {float(width)!r})::INT"

    pairs = "\n              UNION ALL ".join(
        f"SELECT {j} AS row, {bucket(j)} AS bucket FROM events"
        for j in range(depth)
    )
    probe_cols = ",\n                     ".join(
        f"{bucket(j)} AS b{j}" for j in range(depth)
    )
    joins = "\n            ".join(
        f"LEFT JOIN counters c{j} ON c{j}.row = {j} AND c{j}.bucket = p.b{j}"
        for j in range(depth)
    )
    least = ", ".join(f"coalesce(c{j}.cnt, 0)" for j in range(depth))
    return f"""
            WITH pairs AS (
              {pairs}
            ), counters AS (
              SELECT row, bucket, count(*)::BIGINT AS cnt
              FROM pairs GROUP BY 1, 2
            ), probes AS (
              SELECT DISTINCT user_id,
                     {probe_cols}
              FROM events WHERE user_id < 10
            ), exact AS (
              SELECT user_id, count(*)::BIGINT AS exact
              FROM events WHERE user_id < 10 GROUP BY 1
            )
            SELECT p.user_id, least({least})::BIGINT AS est, e.exact
            FROM probes p
            {joins}
            JOIN exact e ON e.user_id = p.user_id
        """


_CMS_SQL = _cms_sql(depth=4, width=64)

_MAD_SQL = f"""
            WITH med AS (
              SELECT event_type, quantile_cont(value, 0.5) AS med
              FROM events GROUP BY 1
            ), j AS (
              SELECT e.event_type, e.value, m.med
              FROM events e JOIN med m USING (event_type)
            ), mad AS (
              SELECT event_type, quantile_cont(abs(value - med), 0.5) AS mad
              FROM j GROUP BY 1
            )
            SELECT j.event_type, count(*)::BIGINT AS n_rows,
                   sum(CASE WHEN (CASE WHEN mad.mad > 0
                                  THEN abs(j.value - j.med) > {3.0 * 1.4826!r} * mad.mad
                                  ELSE j.value != j.med END)
                            THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
                   round(max(j.med), 4) + 0.0 AS med,
                   round(max(mad.mad), 4) + 0.0 AS mad
            FROM j JOIN mad USING (event_type) GROUP BY 1
        """

_NORMALIZE_SQL = r"""
            WITH n AS (
              SELECT doc_id, text,
                     trim(regexp_replace(lower(nfc_normalize(text)),
                                         '[ \t\n\r]+', ' ', 'g')) AS text_norm
              FROM documents
            )
            SELECT doc_id, text_norm, (text_norm != text) AS changed FROM n
        """


def _conv_latency_oracle_sql() -> str:
    d = synth.ensure_fixture(
        float(os.environ.get("SPARK_GRAFT_ORACLE_SF", "0.01"))
    )
    return f"""
            WITH t AS (SELECT * FROM read_parquet('{d}/transcripts.parquet')),
            l AS (
              SELECT conv_id, role,
                     lag(role) OVER w AS prev_role,
                     epoch_us(ts) - epoch_us(lag(ts) OVER w) AS lat
              FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
            )
            SELECT conv_id, count(*)::BIGINT AS n_responses,
                   round(avg(lat), 4) + 0.0 AS mean_latency_us,
                   round(quantile_cont(lat, 0.5), 4) + 0.0 AS p50_latency_us,
                   round(quantile_cont(lat, 0.95), 4) + 0.0 AS p95_latency_us,
                   max(lat)::BIGINT AS max_latency_us
            FROM l WHERE role = 'assistant' AND prev_role = 'user'
            GROUP BY 1
        """


def _pagerank_sql(iters=5, d=0.85):
    """PageRank oracle: the identical power iteration unrolled as chained
    CTEs. Every float literal is repr()'d so DuckDB parses the same
    binary64 constants the Spark plan embeds; 1.0-d is left as the SQL
    expression because Spark computes (1.0-damping)/n with the identical
    IEEE operation sequence."""
    steps = []
    for i in range(1, iters + 1):
        p = f"r{i - 1}"
        steps.append(f"""
            c{i} AS (
              SELECT e.v AS n, sum(r.rank * e.p) AS c
              FROM {p} r JOIN ep e ON e.u = r.n GROUP BY 1
            ), d{i} AS (
              SELECT coalesce(sum(rank), 0.0) AS dm FROM {p}
              WHERE n NOT IN (SELECT u FROM ep)
            ), r{i} AS (
              SELECT vt.n,
                     (1.0 - {d!r}) / nn.n
                       + {d!r} * (coalesce(c.c, 0.0) + dg.dm / nn.n) AS rank
              FROM verts vt
              CROSS JOIN nn CROSS JOIN d{i} dg
              LEFT JOIN c{i} c ON c.n = vt.n
            )""")
    return f"""
            WITH edges AS (
              SELECT prev AS u, event_type AS v, count(*)::DOUBLE AS w
              FROM (SELECT event_type,
                           lag(event_type) OVER (PARTITION BY user_id
                                                 ORDER BY ts, event_id) AS prev
                    FROM events)
              WHERE prev IS NOT NULL GROUP BY 1, 2
            ),
            verts AS (SELECT u AS n FROM edges UNION SELECT v FROM edges),
            nn AS (SELECT count(*)::DOUBLE AS n FROM verts),
            outw AS (SELECT u, sum(w) AS outw FROM edges GROUP BY 1),
            ep AS (SELECT e.u, e.v, e.w / o.outw AS p
                   FROM edges e JOIN outw o USING (u)),
            r0 AS (SELECT verts.n, 1.0 / nn.n AS rank FROM verts, nn),
            {",".join(steps)}
            SELECT n AS event_type, round(rank, 4) + 0.0 AS rank
            FROM r{iters}
        """


_PAGERANK_SQL = _pagerank_sql(iters=5, d=0.85)


def _overlap_sql(k=64):
    """kmv_set_overlap oracle: per-side k smallest distinct md5 fractions,
    union k-min from the two synopses, the (k-1)/h_k estimator per set,
    and inclusion-exclusion — all replayed on DuckDB's engine."""
    uday = "user_id::VARCHAR || ':' || (ts::DATE)::VARCHAR"
    # same exact-binary-fraction construction as _KMV_FRAC (defined later
    # in this module), rebuilt locally so this generator can run at import
    frac_expr = " + ".join(
        f"(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1) * power(16.0, -{i})"
        for i in range(1, 9)
    )

    def side(name, pred):
        return f"""
            h{name} AS (
              SELECT DISTINCT 0.0 + {frac_expr} AS frac
              FROM (SELECT md5({uday}) AS h FROM events WHERE {pred})
            ), k{name} AS (
              SELECT frac, rn FROM (
                SELECT frac, row_number() OVER (ORDER BY frac) AS rn
                FROM h{name}
              ) WHERE rn <= {k}
            ), e{name} AS (
              SELECT round(coalesce(
                       {float(k - 1)!r} / max(CASE WHEN rn = {k} THEN frac END),
                       count(*)::DOUBLE), 4) + 0.0 AS est
              FROM k{name}
            )"""

    return f"""
            WITH {side('a', "event_type = 'purchase'")},
            {side('b', "event_type = 'click'")},
            hu AS (
              SELECT DISTINCT frac FROM (
                SELECT frac FROM ka UNION ALL SELECT frac FROM kb
              )
            ), ku AS (
              SELECT frac, rn FROM (
                SELECT frac, row_number() OVER (ORDER BY frac) AS rn FROM hu
              ) WHERE rn <= {k}
            ), eu AS (
              SELECT round(coalesce(
                       {float(k - 1)!r} / max(CASE WHEN rn = {k} THEN frac END),
                       count(*)::DOUBLE), 4) + 0.0 AS est
              FROM ku
            )
            SELECT ea.est AS est_a, eb.est AS est_b, eu.est AS est_union,
                   round(greatest(0.0, ea.est + eb.est - eu.est), 4) + 0.0
                     AS est_intersection,
                   round(greatest(0.0, ea.est + eb.est - eu.est) / eu.est, 4)
                     + 0.0 AS jaccard_est
            FROM ea, eb, eu
        """


_OVERLAP_SQL = _overlap_sql(k=64)

def _length_batches_sql(n_buckets=4, batch_rows=32, salt="batch-v1"):
    frac_expr = " + ".join(
        f"(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1) * power(16.0, -{i})"
        for i in range(1, 9)
    )
    bnds = ", ".join(
        f"round(quantile_cont(CAST(n_chars AS DOUBLE), {i / n_buckets!r}), 4)"
        for i in range(1, n_buckets)
    )
    return f"""
            WITH b AS (SELECT [{bnds}] AS bnds FROM documents),
            assigned AS (
              SELECT doc_id,
                     len(list_filter(b.bnds,
                         x -> x < CAST(n_chars AS DOUBLE)))::BIGINT AS bucket
              FROM documents, b
            ), counts AS (
              SELECT bucket, ceil(count(*) / {float(batch_rows)!r})::BIGINT
                       AS n_batches
              FROM assigned GROUP BY 1
            ), offs AS (
              SELECT bucket, n_batches,
                     coalesce(sum(n_batches) OVER (
                       ORDER BY bucket
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS off
              FROM counts
            )
            SELECT a.doc_id, a.bucket,
                   (o.off + floor((0.0 + {frac_expr})
                                  * o.n_batches::DOUBLE))::BIGINT AS batch_id
            FROM (SELECT doc_id, bucket,
                         md5('{salt}:' || doc_id::VARCHAR) AS h
                  FROM assigned) a
            JOIN offs o USING (bucket)
        """


_LENGTH_BATCHES_SQL = _length_batches_sql()


def _column_profile_sql():
    spec = [
        ("event_id", "event_id::DOUBLE", True),
        ("ts", "epoch_us(ts)::DOUBLE", False),
        ("user_id", "user_id::DOUBLE", True),
        ("event_type", None, False),
        ("value", "value", True),
        ("props", None, False),
    ]
    parts = []
    for name, num, with_mean in spec:
        mn = (
            f"round(min({num}), 4) + 0.0" if num else "NULL::DOUBLE"
        )
        mx = (
            f"round(max({num}), 4) + 0.0" if num else "NULL::DOUBLE"
        )
        av = (
            f"round(avg({num}), 4) + 0.0" if with_mean else "NULL::DOUBLE"
        )
        parts.append(f"""
            SELECT '{name}' AS column, count(*)::BIGINT AS n_rows,
                   sum(({name} IS NULL)::INT)::BIGINT AS n_nulls,
                   count(DISTINCT {name})::BIGINT AS n_distinct,
                   {mn} AS min_num, {mx} AS max_num, {av} AS mean
            FROM events""")
    return "\n            UNION ALL".join(parts)


_COLUMN_PROFILE_SQL = _column_profile_sql()

_KEY_SKEW_SQL = """
            WITH c AS (
              SELECT user_id::VARCHAR AS k, count(*)::BIGINT AS c
              FROM events GROUP BY 1
            ), r AS (
              SELECT c.*, row_number() OVER (ORDER BY c DESC, k) AS rn FROM c
            )
            SELECT sum(c)::BIGINT AS n_rows,
                   count(*)::BIGINT AS n_keys,
                   max(c)::BIGINT AS max_key_rows,
                   round(quantile_cont(c, 0.99), 4) + 0.0 AS p99_key_rows,
                   round(quantile_cont(c, 0.5), 4) + 0.0 AS median_key_rows,
                   round(sum(CASE WHEN rn <= 10 THEN c ELSE 0 END)::DOUBLE
                         / sum(c)::DOUBLE, 4) + 0.0 AS top_share,
                   round(stddev_pop(c) / avg(c), 4) + 0.0 AS cv,
                   round((log2(sum(c)::DOUBLE)
                          + sum(-(c::DOUBLE) * log2(c::DOUBLE)) / sum(c)::DOUBLE)
                         / log2(count(*)::DOUBLE), 4) + 0.0 AS entropy_norm
            FROM r
        """

# ------------------------------------------------- flagship transcripts oracle

_TR_W = "PARTITION BY conv_id ORDER BY ts, turn_idx"
_TR_CUM = _TR_W + " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"


def _tr_dir() -> str:
    """Transcripts fixture dir for oracle SQL (same scale contract as
    _flagship_oracle_sql: sf0.01 default, $SPARK_GRAFT_ORACLE_SF override)."""
    return synth.ensure_fixture(
        float(os.environ.get("SPARK_GRAFT_ORACLE_SF", "0.01"))
    )


def _flagship_oracle_sql() -> str:
    """DuckDB oracle for the full fused flagship block. ensure_fixture
    materializes the identical deterministic parquet the Spark query reads,
    so both engines see the same bytes. The fixture scale defaults to the
    driver gate's sf0.01 and is overridable via $SPARK_GRAFT_ORACLE_SF —
    set it to the sf you pass the Spark query when running the differential
    at any other scale, or the hashes compare different-sized inputs."""
    d = synth.ensure_fixture(
        float(os.environ.get("SPARK_GRAFT_ORACLE_SF", "0.01"))
    )
    return f"""
        WITH t AS (SELECT * FROM read_parquet('{d}/transcripts.parquet')),
        cf AS (SELECT * FROM read_parquet('{d}/conv_features.parquet')),
        l1 AS (
          SELECT conv_id, turn_idx, role, text, tool, ts,
                 length(text) AS text_len,
                 len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
                 lag(role) OVER ({_TR_W}) AS prev_role,
                 lag(length(text)) OVER ({_TR_W}) AS prev_text_len,
                 lead(role) OVER ({_TR_W}) AS next_role,
                 last_value(tool IGNORE NULLS) OVER ({_TR_CUM}) AS tool_ffill,
                 sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END)
                   OVER ({_TR_CUM})::BIGINT AS user_turn_cum,
                 CASE WHEN lag(ts) OVER ({_TR_W}) IS NULL
                           OR (epoch_us(ts) - epoch_us(lag(ts) OVER ({_TR_W}))) / 1000000.0 > 1800.0
                      THEN 1 ELSE 0 END AS __flag
          FROM t
        ),
        l2 AS (
          SELECT * EXCLUDE (__flag),
                 (sum(__flag) OVER ({_TR_CUM}) - 1)::BIGINT AS session_id
          FROM l1
        )
        SELECT f.conv_id, f.ts, f.turn_idx, f.role, f.text, f.tool,
               f.text_len, f.n_tokens, f.prev_role, f.prev_text_len,
               f.next_role, f.tool_ffill, f.session_id, f.user_turn_cum,
               b.ts AS asof_ts, b.feature_val
        FROM l2 f ASOF LEFT JOIN cf b
          ON f.conv_id = b.conv_id AND f.ts >= b.ts
    """


# --------------------------------------------------------- simhash oracles

# hex -> int without a base-conv builtin: positional digit arithmetic over
# the first 8 md5 hex chars (mirrors Spark's conv(substring(md5,1,8),16,10))
_HEX2INT = (
    "list_sum(list_transform(range(1,9), i -> "
    "((strpos('0123456789abcdef', substr(md5({x}), i, 1)) - 1)::BIGINT "
    "<< (4 * (8 - i)))))::BIGINT"
)

_SIMHASH_SIG = f"""
SELECT doc_id,
       sum(CASE WHEN v > 0 THEN (1::BIGINT << j) ELSE 0 END)::BIGINT AS simhash
FROM (
  SELECT doc_id, j, sum(((th >> j) & 1) * 2 - 1) AS v
  FROM (SELECT doc_id, {_HEX2INT.format(x='tok')} AS th
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents))
  CROSS JOIN (SELECT unnest(range(0, 32)) AS j) b
  GROUP BY 1, 2
) GROUP BY 1
"""

# ------------------------------------------------------------- IVF oracles

_IVF_CENTROIDS = f"""
e AS ({_EMB}),
x AS (SELECT vec_id, label, unnest(v) AS val, unnest(range(1, 65)) AS d FROM e),
cd AS (SELECT label AS cell, d, avg(val) AS cv FROM x GROUP BY 1, 2),
cl AS (SELECT cell, list(cv ORDER BY d) AS centroid FROM cd GROUP BY 1)
"""


def _ivf_topk_oracle_sql(k: int = 5, n_probe: int = 2) -> str:
    return f"""
        WITH {_IVF_CENTROIDS},
        s AS (
          SELECT e.vec_id, cl.cell::BIGINT AS cell,
                 {_cos('e.v', 'cl.centroid')} AS c
          FROM e, cl
        ),
        asn AS (
          SELECT vec_id, cell FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY c DESC, cell) AS rn
            FROM s
          ) WHERE rn = 1
        ),
        qv AS (SELECT vec_id AS query_id, v AS q FROM e
               WHERE vec_id IN {_QUERY_IDS_SQL}),
        probe AS (
          SELECT query_id, q, cell FROM (
            SELECT qv.query_id, qv.q, cl.cell::BIGINT AS cell,
                   row_number() OVER (PARTITION BY qv.query_id
                     ORDER BY {_cos('qv.q', 'cl.centroid')} DESC, cl.cell::BIGINT) AS rn
            FROM qv, cl
          ) WHERE rn <= {n_probe}
        ),
        sc AS (
          SELECT p.query_id, e.vec_id AS neighbor_id,
                 {_cos('p.q', 'e.v')} AS cos_sim
          FROM probe p JOIN asn a ON a.cell = p.cell
               JOIN e ON e.vec_id = a.vec_id
          WHERE e.vec_id != p.query_id
        )
        SELECT query_id, rank, neighbor_id, cos_sim FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos_sim DESC, neighbor_id) AS rank
          FROM sc
        ) WHERE rank <= {k}
    """


def _kmeans_cte(k: int, iters: int) -> tuple[list[str], str]:
    """Unrolled Lloyd iterations as WITH-clause parts (deterministic: id%k
    init, rounded means, rounded-cos assignment with cell tie-break —
    mirrors similarity.kmeans_centroids exactly). Returns (parts,
    final-centroid-CTE-name)."""
    parts = [
        f"e AS ({_EMB})",
        f"a0 AS (SELECT vec_id, (vec_id % {k})::BIGINT AS cell, v FROM e)",
    ]
    prev = "a0"
    for it in range(iters + 1):
        parts.append(f"""c{it} AS (
          SELECT cell AS label, list(rv ORDER BY d) AS centroid FROM (
            SELECT cell, d, round(avg(val), 6) AS rv FROM (
              SELECT cell, unnest(v) AS val, unnest(range(1, 65)) AS d FROM {prev}
            ) GROUP BY 1, 2
          ) GROUP BY 1)""")
        if it == iters:
            break
        parts.append(f"""a{it + 1} AS (
          SELECT vec_id, cell, v FROM (
            SELECT e.vec_id, c.label AS cell, e.v,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY {_cos('e.v', 'c.centroid')} DESC, c.label) AS rn
            FROM e, c{it} c
          ) WHERE rn = 1)""")
        prev = f"a{it + 1}"
    return parts, f"c{iters}"


def _near_dup_blocked_oracle_sql(
    threshold: float = 0.35, n_probe: int = 2, k: int = 64, iters: int = 1
) -> str:
    parts, cfinal = _kmeans_cte(k, iters)
    parts.append(f"cl AS (SELECT label AS cell, centroid FROM {cfinal})")
    parts.append(f"""asn AS (
          SELECT vec_id, cell FROM (
            SELECT e.vec_id, cl.cell,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY {_cos('e.v', 'cl.centroid')} DESC, cl.cell) AS rn
            FROM e, cl
          ) WHERE rn <= {n_probe})""")
    parts.append("""cand AS (
          SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM asn a JOIN asn b ON a.cell = b.cell AND a.vec_id < b.vec_id)""")
    return (
        "WITH " + ",\n".join(parts)
        + f"""
        SELECT c.id_a, c.id_b, {_cos('ea.v', 'eb.v')} AS cos_sim
        FROM cand c JOIN e ea ON ea.vec_id = c.id_a
             JOIN e eb ON eb.vec_id = c.id_b
        WHERE {_cos('ea.v', 'eb.v')} >= {threshold}
    """
    )


def _semdedup_oracle_sql(threshold: float = 0.35, k: int = 8, iters: int = 1) -> str:
    parts, cfinal = _kmeans_cte(k, iters)
    parts.append(f"cl AS (SELECT label AS cell, centroid FROM {cfinal})")
    parts.append(f"""asn AS (
          SELECT vec_id, cell, cc, v FROM (
            SELECT e.vec_id, cl.cell, e.v, {_cos('e.v', 'cl.centroid')} AS cc,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY {_cos('e.v', 'cl.centroid')} DESC, cl.cell) AS rn
            FROM e, cl
          ) WHERE rn = 1)""")
    parts.append(f"""pr AS (
          SELECT DISTINCT a.vec_id
          FROM asn a JOIN asn b ON a.cell = b.cell AND a.vec_id != b.vec_id
           AND (b.cc < a.cc OR (b.cc = a.cc AND b.vec_id < a.vec_id))
          WHERE {_cos('a.v', 'b.v')} >= {threshold})""")
    return (
        "WITH " + ",\n".join(parts)
        + """
        SELECT a.vec_id, a.cell::BIGINT AS cell, a.cc + 0.0 AS cent_sim,
               (p.vec_id IS NULL) AS keep
        FROM asn a LEFT JOIN pr p ON p.vec_id = a.vec_id
    """
    )


def _kmeans_oracle_sql(k: int = 8, iters: int = 2) -> str:
    parts, cfinal = _kmeans_cte(k, iters)
    return (
        "WITH " + ",\n".join(parts)
        + f"""
        SELECT label, unnest(range(0, 64))::BIGINT AS d,
               unnest(centroid) + 0.0 AS val
        FROM {cfinal}
    """
    )


_EWMA_ORACLE = f"""
    SELECT event_id, user_id,
           round(sum(u * value) OVER w / sum(u) OVER w, 4) AS ewma
    FROM (
      SELECT event_id, value, ts, user_id,
             pow(2, (epoch_us(ts) - first_value(epoch_us(ts)) OVER w2)
                    / 1e6 / {EWMA_HL_S}) AS u
      FROM events
      WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def _rep_gram_cte(n: int) -> str:
    """Classical per-doc n-gram frequency CTE pair for the repetition
    oracle: explode grams, GROUP BY (doc, gram), re-aggregate per doc —
    deliberately the algorithm the Spark operator does NOT use."""
    return f"""
g{n} AS (
  SELECT doc_id, unnest(list_transform(range(1, len(ws) - {n} + 2),
         i -> array_to_string(ws[i:i+{n}-1], ' '))) AS gram
  FROM w WHERE len(ws) >= {n}
),
c{n} AS (
  SELECT doc_id, max(c * l) AS topc,
         coalesce(sum(c * l) FILTER (c >= 2), 0) AS dupc
  FROM (SELECT doc_id, gram, count(*)::BIGINT AS c, length(gram)::BIGINT AS l
        FROM g{n} GROUP BY doc_id, gram)
  GROUP BY doc_id
)"""


_REPETITION_STATS_SQL = (
    "WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws,"
    " greatest(length(text), 1)::DOUBLE AS nc FROM documents),"
    + ",".join(_rep_gram_cte(n) for n in (2, 3, 4, 5, 8, 10))
    + """
SELECT w.doc_id,
  len(ws)::BIGINT AS n_words,
  round((len(ws) - len(list_distinct(ws))) / greatest(len(ws), 1), 4) + 0.0 AS dup_word_frac,
  round(coalesce(c2.topc, 0) / nc, 4) + 0.0 AS top2_char_frac,
  round(coalesce(c3.topc, 0) / nc, 4) + 0.0 AS top3_char_frac,
  round(coalesce(c4.topc, 0) / nc, 4) + 0.0 AS top4_char_frac,
  round(least(coalesce(c5.dupc, 0) / nc, 1.0), 4) + 0.0 AS dup5_char_frac,
  round(least(coalesce(c8.dupc, 0) / nc, 1.0), 4) + 0.0 AS dup8_char_frac,
  round(least(coalesce(c10.dupc, 0) / nc, 1.0), 4) + 0.0 AS dup10_char_frac
FROM w LEFT JOIN c2 USING (doc_id) LEFT JOIN c3 USING (doc_id)
       LEFT JOIN c4 USING (doc_id) LEFT JOIN c5 USING (doc_id)
       LEFT JOIN c8 USING (doc_id) LEFT JOIN c10 USING (doc_id)
"""
)

# [0,1) fraction of the first 8 md5 hex nibbles — every term an exact
# binary fraction, so Spark (sketch.hash_frac) and DuckDB agree bitwise
_KMV_FRAC = " + ".join(
    f"(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1) * power(16.0, -{i})"
    for i in range(1, 9)
)

_CORPUS_FILTER_SQL = (
    "WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws,"
    " greatest(length(text), 1)::DOUBLE AS nc FROM documents),"
    + ",".join(_rep_gram_cte(n) for n in (2, 5))
    + """
SELECT doc_id, (length(reasons) = 0) AS keep, reasons FROM (
  SELECT w.doc_id,
    concat_ws(',',
      CASE WHEN len(ws) < 50 OR len(ws) > 100000 THEN 'word_count' END,
      CASE WHEN (list_sum(list_transform(ws, x -> length(x)))::DOUBLE
                 / greatest(len(ws), 1)) < 3.0 THEN 'mean_word_len_low' END,
      CASE WHEN (list_sum(list_transform(ws, x -> length(x)))::DOUBLE
                 / greatest(len(ws), 1)) > 10.0 THEN 'mean_word_len_high' END,
      CASE WHEN (len(ws) - len(list_distinct(ws)))
                / greatest(len(ws), 1) > 0.5 THEN 'dup_words' END,
      CASE WHEN coalesce(c2.topc, 0) / nc > 0.20 THEN 'top_bigram' END,
      CASE WHEN least(coalesce(c5.dupc, 0) / nc, 1.0) > 0.15
           THEN 'dup_5grams' END
    ) AS reasons
  FROM w LEFT JOIN c2 USING (doc_id) LEFT JOIN c5 USING (doc_id)
)
"""
)

_LINE_STATS_SQL = """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    l AS (
      SELECT doc_id,
             list_filter(
               list_transform(
                 range(0, greatest(cast(ceil(len(ws) / 5.0) AS BIGINT), 1)),
                 i -> array_to_string(ws[i*5+1 : i*5+5], ' ')),
               x -> length(trim(x)) > 0) AS ls
      FROM w),
    c AS (SELECT doc_id, line, count(*)::BIGINT AS c, length(line)::BIGINT AS ln
          FROM (SELECT doc_id, unnest(ls) AS line FROM l) GROUP BY doc_id, line),
    a AS (SELECT doc_id,
                 coalesce(sum(c * ln) FILTER (c >= 2), 0) AS dupc,
                 sum(c * ln) AS totc
          FROM c GROUP BY doc_id)
    SELECT l.doc_id,
           len(ls)::BIGINT AS n_lines,
           round((len(ls) - len(list_distinct(ls))) / greatest(len(ls), 1), 4)
             + 0.0 AS dup_line_frac,
           round(coalesce(a.dupc, 0) / greatest(coalesce(a.totc, 0), 1)::DOUBLE, 4)
             + 0.0 AS dup_line_char_frac
    FROM l LEFT JOIN a USING (doc_id)
"""


_DOC_CHUNKS_SQL = """
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), m AS (
      SELECT doc_id, toks, len(toks) AS n,
     CASE WHEN len(toks) <= 64 THEN 1
          ELSE 1 + CAST(ceil((len(toks) - 64) / 48.0) AS INT)
     END AS n_chunks
      FROM d
    ), u AS (
      SELECT doc_id, toks, n,
     unnest(generate_series(0, n_chunks - 1)) AS chunk_idx
      FROM m
    )
    SELECT doc_id, chunk_idx, chunk_idx * 48 AS chunk_start,
   least(64, n - chunk_idx * 48) AS chunk_len,
   array_to_string(
     list_slice(toks, chunk_idx * 48 + 1,
                chunk_idx * 48 + least(64, n - chunk_idx * 48)),
     ' ') AS chunk_text
    FROM u
"""


# Duplicated-substring spans (n=8 grams shared by >=2 docs), merged via the
# classical gaps-and-islands window — a second algorithm against Spark's
# in-row interval fold. A new span starts when this gram's start position
# exceeds (running max prior start) + n, i.e. it neither overlaps nor is
# adjacent to the running span [.., max_prior_pos + n - 1].
_SUBSTR_SPANS_SQL = """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    grams AS (
        SELECT doc_id, CAST(u.i AS INT) AS pos,
               array_to_string(t[u.i:u.i + 7], ' ') AS g
        FROM toks, LATERAL unnest(generate_series(1, len(t) - 7)) AS u(i)
        WHERE len(t) >= 8
    ),
    dup AS (
        SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) >= 2
    ),
    occ AS (
        SELECT doc_id, pos FROM grams WHERE g IN (SELECT g FROM dup)
    ),
    flagged AS (
        SELECT doc_id, pos,
               CASE WHEN pos > coalesce(
                        max(pos) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        -2147483648) + 8
                    THEN 1 ELSE 0 END AS is_new
        FROM occ
    ),
    sids AS (
        SELECT doc_id, pos,
               sum(is_new) OVER (PARTITION BY doc_id ORDER BY pos) AS sid
        FROM flagged
    )
    SELECT doc_id,
           CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(pos) + 7 AS BIGINT) AS span_end
    FROM sids GROUP BY doc_id, sid
"""


def oracle_sql() -> dict[str, str]:
    return _alias_oracles({
        "funnel_steps_events": f"""
            WITH {_FUNNEL_CTES}
            SELECT s1.user_id, epoch_us(s1.step1_ts) AS step1_us,
                   epoch_us(s2.step2_ts) AS step2_us,
                   epoch_us(s3.step3_ts) AS step3_us,
                   CASE WHEN s3.step3_ts IS NOT NULL THEN 3
                        WHEN s2.step2_ts IS NOT NULL THEN 2
                        ELSE 1 END AS furthest_step
            FROM s1
            LEFT JOIN s2 ON s1.user_id = s2.user_id
            LEFT JOIN s3 ON s1.user_id = s3.user_id
        """,
        "funnel_reach_events": f"""
            WITH {_FUNNEL_CTES}
            SELECT 1 AS step, count(*)::BIGINT AS n_entities FROM s1
            UNION ALL
            SELECT 2 AS step, count(*)::BIGINT FROM s2
            UNION ALL
            SELECT 3 AS step, count(*)::BIGINT FROM s3
        """,
        "cohort_retention_events": """
            WITH presence AS (
              SELECT DISTINCT user_id AS e,
                     date_trunc('week', ts)::DATE AS p
              FROM events
            ), cohort AS (
              SELECT e, min(p) AS c FROM presence GROUP BY e
            )
            SELECT c AS cohort_period,
                   ((p - c) // 7)::INT AS period_offset,
                   count(*)::BIGINT AS n_active
            FROM presence JOIN cohort USING (e)
            GROUP BY 1, 2
        """,
        "rolling_distinct_kmv_users": """
            WITH presence AS (
              SELECT DISTINCT user_id AS e,
                     epoch_us(ts) // 3600000000 AS b
              FROM events
            ), obs AS (SELECT DISTINCT b FROM presence)
            SELECT obs.b AS bucket, count(DISTINCT p.e)::BIGINT AS n_distinct
            FROM obs JOIN presence p ON p.b BETWEEN obs.b - 23 AND obs.b
            GROUP BY 1
        """,
        "rolling_distinct_users": """
            WITH presence AS (
              SELECT DISTINCT user_id AS e,
                     epoch_us(ts) // 3600000000 AS b
              FROM events
            ), obs AS (SELECT DISTINCT b FROM presence)
            SELECT obs.b AS bucket, count(DISTINCT p.e)::BIGINT AS n_distinct
            FROM obs JOIN presence p ON p.b BETWEEN obs.b - 23 AND obs.b
            GROUP BY 1
        """,
        "bm25_topk_docs": _BM25_SQL,
        "bm25_multi_docs": _bm25_multi_sql(BM25_WORKLOAD),
        "ranking_metrics_docs": f"""
            WITH run AS (
              SELECT source AS query_id, doc_id,
                     row_number() OVER (
                       PARTITION BY source
                       ORDER BY (doc_id * 2654435761) % 1000000007, doc_id
                     ) AS rank
              FROM documents
            ),
            run_k AS (SELECT * FROM run WHERE rank <= {RANKEVAL_RUN_K}),
            qrels AS (
              SELECT source AS query_id, doc_id,
                     (1 + doc_id % 3)::DOUBLE AS rel
              FROM documents WHERE n_chars % 7 = 0
            ),
            hits AS (
              SELECT r.query_id, r.rank, q.rel
              FROM run_k r LEFT JOIN qrels q USING (query_id, doc_id)
            ),
            perq AS (
              SELECT query_id,
                     coalesce(1.0 / min(CASE WHEN rel IS NOT NULL
                                             THEN rank END), 0.0) AS rr,
                     sum(CASE WHEN rel IS NOT NULL AND rank <= {RANKEVAL_K}
                              THEN (pow(2.0, rel) - 1.0) / log2(rank + 1.0)
                              ELSE 0.0 END) AS dcg,
                     sum(CASE WHEN rel IS NOT NULL AND rank <= {RANKEVAL_K}
                              THEN 1 ELSE 0 END)::BIGINT AS hits_k
              FROM hits GROUP BY query_id
            ),
            ideal AS (
              SELECT query_id,
                     sum(CASE WHEN i <= {RANKEVAL_K}
                              THEN (pow(2.0, rel) - 1.0) / log2(i + 1.0)
                              ELSE 0.0 END) AS idcg,
                     count(*)::BIGINT AS n_rel
              FROM (SELECT query_id, rel,
                           row_number() OVER (PARTITION BY query_id
                                              ORDER BY rel DESC, doc_id) AS i
                    FROM qrels)
              GROUP BY query_id
            )
            SELECT i.query_id, i.n_rel,
                   coalesce(p.hits_k, 0)::BIGINT AS hits_k,
                   round(coalesce(p.rr, 0.0), 4) + 0.0 AS rr,
                   round(CASE WHEN i.idcg > 0
                              THEN coalesce(p.dcg, 0.0) / i.idcg
                              ELSE 0.0 END, 4) + 0.0 AS ndcg_k,
                   round(coalesce(p.hits_k, 0) / {RANKEVAL_K}.0, 4) + 0.0
                     AS precision_k,
                   round(coalesce(p.hits_k, 0) / i.n_rel::DOUBLE, 4) + 0.0
                     AS recall_k
            FROM ideal i LEFT JOIN perq p USING (query_id)
        """,
        "turn_self_similarity": f"""
            WITH t AS (SELECT * FROM
                       read_parquet('{_tr_dir()}/transcripts.parquet')),
            a AS (
              SELECT conv_id, turn_idx, text,
                     lag(turn_idx) OVER w AS prev_idx,
                     lag(text) OVER w AS prev_text
              FROM t WHERE role = 'assistant'
              WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
            ),
            p AS (
              SELECT *,
                     substr(text, 1, 512) AS cur_c,
                     substr(prev_text, 1, 512) AS prev_c,
                     list_distinct(list_filter(
                       string_split_regex(lower(text), '[^a-z0-9]+'),
                       x -> x <> '')) AS ta,
                     list_distinct(list_filter(
                       string_split_regex(lower(prev_text), '[^a-z0-9]+'),
                       x -> x <> '')) AS tb
              FROM a WHERE prev_idx IS NOT NULL
            )
            SELECT conv_id, turn_idx, prev_idx AS prev_turn_idx,
                   round(CASE WHEN greatest(length(cur_c), length(prev_c)) = 0
                              THEN 1.0
                              ELSE 1.0 - levenshtein(prev_c, cur_c)::DOUBLE
                                   / greatest(length(cur_c), length(prev_c))
                         END, 4) + 0.0 AS lev_ratio,
                   round(CASE WHEN len(list_distinct(list_cat(ta, tb))) = 0
                              THEN 1.0
                              ELSE len(list_intersect(ta, tb))::DOUBLE
                                   / len(list_distinct(list_cat(ta, tb)))
                         END, 4) + 0.0 AS jaccard,
                   text = prev_text AS exact_repeat
            FROM p
        """,
        "tool_loop_runs": f"""
            WITH t AS (
              SELECT conv_id, turn_idx, tool
              FROM read_parquet('{_tr_dir()}/transcripts.parquet')
              WHERE tool IS NOT NULL
            ),
            f AS (
              SELECT *,
                     CASE WHEN lag(tool) OVER w IS NULL
                            OR tool <> lag(tool) OVER w
                            OR turn_idx <> lag(turn_idx) OVER w + 1
                          THEN 1 ELSE 0 END AS nw
              FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
            ),
            i AS (
              SELECT *, sum(nw) OVER (PARTITION BY conv_id ORDER BY turn_idx
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          AS run
              FROM f
            )
            SELECT conv_id, tool, count(*)::BIGINT AS run_len,
                   min(turn_idx) AS start_turn, max(turn_idx) AS end_turn
            FROM i GROUP BY conv_id, run, tool
            HAVING count(*) >= 2
        """,
        "cms_freq_users": _CMS_SQL,
        "key_skew_profile_events": _KEY_SKEW_SQL,
        "mad_outliers_value": _MAD_SQL,
        "normalize_text_docs": _NORMALIZE_SQL,
        "conv_latency_profile": _conv_latency_oracle_sql(),
        "pagerank_event_graph": _PAGERANK_SQL,
        "corpus_overlap_kmv": _OVERLAP_SQL,
        "length_bucket_batches": _LENGTH_BATCHES_SQL,
        "column_profile_events": _COLUMN_PROFILE_SQL,
        "scale_features_events": """
            WITH cut AS (
              SELECT quantile_cont(epoch_us(ts)::DOUBLE, 0.8) AS cutoff_us
              FROM events
            ),
            tagged AS (
              SELECT event_id, value,
                     epoch_us(ts)::DOUBLE <= cutoff_us AS is_train
              FROM events, cut
            ),
            s AS (
              SELECT avg(value) AS mean, stddev_samp(value) AS std,
                     min(value) AS vmin, max(value) AS vmax,
                     quantile_cont(value, 0.01) AS p_lo,
                     quantile_cont(value, 0.99) AS p_hi,
                     quantile_cont(value, 0.25) AS q1,
                     quantile_cont(value, 0.50) AS med,
                     quantile_cont(value, 0.75) AS q3
              FROM tagged WHERE is_train
            )
            SELECT event_id, is_train,
              round(CASE WHEN value IS NULL THEN NULL
                         WHEN std IS NULL OR std = 0 THEN 0.0
                         ELSE (value - mean) / std END + 0.0, 4) AS v_std,
              round(CASE WHEN value IS NULL THEN NULL
                         WHEN vmax - vmin = 0 THEN 0.0
                         ELSE (value - vmin) / (vmax - vmin) END + 0.0,
                    4) AS v_minmax,
              round(CASE WHEN value IS NULL THEN NULL
                         WHEN q3 - q1 = 0 THEN 0.0
                         ELSE (value - med) / (q3 - q1) END + 0.0,
                    4) AS v_robust,
              round(CASE WHEN value IS NULL THEN NULL
                         ELSE greatest(least(value, p_hi), p_lo) END + 0.0,
                    4) AS v_winsor,
              CASE WHEN value IS NULL THEN NULL
                   ELSE (q1 < value)::BIGINT + (med < value)::BIGINT
                        + (q3 < value)::BIGINT END AS v_bin
            FROM tagged, s
        """,
        "lm_perplexity_docs": """
            WITH toks AS (
              SELECT doc_id,
                     list_prepend('<s>', list_filter(string_split(text, ' '),
                                                     x -> x != '')) AS ws
              FROM documents
            ),
            pairs AS (
              SELECT doc_id, p[1] AS prev, p[2] AS w
              FROM (SELECT doc_id, unnest(list_zip(ws[:-2], ws[2:])) AS p
                    FROM toks)
            ),
            big AS (SELECT prev, w, count(*) AS c_big FROM pairs GROUP BY 1, 2),
            ctx AS (SELECT prev, count(*) AS c_ctx FROM pairs GROUP BY 1),
            vocab AS (SELECT count(DISTINCT w) AS v_size FROM pairs)
            SELECT pairs.doc_id, count(*) AS n_scored,
                   round(avg(-ln((coalesce(c_big, 0) + 0.5)
                                 / (coalesce(c_ctx, 0) + 0.5 * v_size))),
                         4) AS avg_nll,
                   round(exp(avg(-ln((coalesce(c_big, 0) + 0.5)
                                     / (coalesce(c_ctx, 0) + 0.5 * v_size)))),
                         2) AS ppl
            FROM pairs
            LEFT JOIN big USING (prev, w)
            LEFT JOIN ctx USING (prev)
            CROSS JOIN vocab
            GROUP BY pairs.doc_id
        """,
        "hashed_features_events": """
            SELECT event_id, 'event_type' AS feature,
                   ('0x' || substr(md5('fh-v1' || 'event_type' || '='
                                       || event_type), 1, 8))::BIGINT
                     % 64 AS idx,
                   CASE WHEN substr(md5('fh-v1' || 'event_type' || '='
                                        || event_type), 9, 1) < '8'
                        THEN 1 ELSE -1 END AS sign
            FROM events WHERE event_type IS NOT NULL
            UNION ALL
            SELECT event_id, 'user_id' AS feature,
                   ('0x' || substr(md5('fh-v1' || 'user_id' || '='
                                       || user_id::VARCHAR), 1, 8))::BIGINT
                     % 64 AS idx,
                   CASE WHEN substr(md5('fh-v1' || 'user_id' || '='
                                        || user_id::VARCHAR), 9, 1) < '8'
                        THEN 1 ELSE -1 END AS sign
            FROM events WHERE user_id IS NOT NULL
        """,
        "hashed_features_vec_events": """
            WITH rows_ AS (
              SELECT event_id,
                     ('0x' || substr(md5('fh-v1' || 'event_type' || '='
                                         || event_type), 1, 8))::BIGINT
                       % 8 AS idx,
                     CASE WHEN substr(md5('fh-v1' || 'event_type' || '='
                                          || event_type), 9, 1) < '8'
                          THEN 1 ELSE -1 END AS val
              FROM events WHERE event_type IS NOT NULL
              UNION ALL
              SELECT event_id,
                     ('0x' || substr(md5('fh-v1' || 'user_id' || '='
                                         || user_id::VARCHAR), 1, 8))::BIGINT
                       % 8 AS idx,
                     CASE WHEN substr(md5('fh-v1' || 'user_id' || '='
                                          || user_id::VARCHAR), 9, 1) < '8'
                          THEN 1 ELSE -1 END AS val
              FROM events WHERE user_id IS NOT NULL
            )
            SELECT event_id, idx, sum(val)::BIGINT AS val
            FROM rows_ GROUP BY event_id, idx
        """,
        "multihot_docs": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(list_distinct(list_filter(string_split(text, ' '),
                                                      x -> x != ''))) AS token
              FROM documents
            ),
            dfreq AS (SELECT token, count(*) AS doc_freq FROM toks GROUP BY 1),
            vocab AS (
              SELECT token,
                     row_number() OVER (ORDER BY doc_freq DESC, token ASC)
                       - 1 AS vocab_idx
              FROM dfreq
              QUALIFY vocab_idx < 128
            )
            SELECT t.doc_id,
                   coalesce(list_sort(list(v.vocab_idx)
                              FILTER (WHERE v.vocab_idx IS NOT NULL)),
                            []) AS idxs,
                   count(*) FILTER (WHERE v.vocab_idx IS NULL)::BIGINT AS n_oov
            FROM toks t LEFT JOIN vocab v USING (token)
            GROUP BY t.doc_id
        """,
        "resample_ffill_users": """
            WITH obs AS (
              SELECT user_id, epoch_us(ts) AS tus, 0 AS grid,
                     event_id AS tb, value
              FROM events
            ),
            b AS (
              SELECT user_id,
                     ceil(min(tus) / 21600000000.0)::BIGINT AS klo,
                     floor(max(tus) / 21600000000.0)::BIGINT AS khi
              FROM obs GROUP BY 1
            ),
            g AS (
              SELECT user_id, unnest(generate_series(klo, khi)) AS k
              FROM b WHERE klo <= khi
            ),
            u AS (
              SELECT user_id, tus, grid, tb, value FROM obs
              UNION ALL
              SELECT user_id, k * 21600000000, 1, NULL, NULL FROM g
            ),
            f AS (
              SELECT user_id, tus, grid,
                     last_value(value IGNORE NULLS) OVER (
                       PARTITION BY user_id
                       ORDER BY tus, grid, tb NULLS LAST
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS value
              FROM u
            )
            SELECT user_id, make_timestamp(tus) AS grid_ts,
                   round(value, 4) + 0.0 AS value
            FROM f WHERE grid = 1
        """,
        "calendar_features_events": """
            SELECT event_id,
                   hour(ts) AS cal_hour,
                   isodow(ts) - 1 AS cal_dow,
                   day(ts) AS cal_dom,
                   month(ts) AS cal_month,
                   round(sin(2*pi()*hour(ts)/24.0), 4) + 0.0 AS cal_hour_sin,
                   round(cos(2*pi()*hour(ts)/24.0), 4) + 0.0 AS cal_hour_cos,
                   round(sin(2*pi()*(isodow(ts)-1)/7.0), 4) + 0.0 AS cal_dow_sin,
                   round(cos(2*pi()*(isodow(ts)-1)/7.0), 4) + 0.0 AS cal_dow_cos,
                   round(sin(2*pi()*(month(ts)-1)/12.0), 4) + 0.0
                     AS cal_month_sin,
                   round(cos(2*pi()*(month(ts)-1)/12.0), 4) + 0.0
                     AS cal_month_cos
            FROM events
        """,
        "rolling_corr_value": f"""
            WITH b AS (
              SELECT event_id, user_id,
                     avg(value * length(props)::DOUBLE) OVER w AS exy,
                     avg(value) OVER w AS ex,
                     avg(length(props)::DOUBLE) OVER w AS ey,
                     stddev_pop(value) OVER w AS sx,
                     stddev_pop(length(props)::DOUBLE) OVER w AS sy,
                     count(*) OVER w AS c
              FROM events
              WINDOW w AS ({_EVENT_WINDOW}
                           ROWS BETWEEN 50 PRECEDING AND CURRENT ROW)
            )
            SELECT event_id, user_id,
                   round(CASE WHEN c >= 5 AND sx > 0 AND sy > 0
                              THEN (exy - ex*ey) / (sx*sy) END, 4) + 0.0
                     AS roll_corr
            FROM b
        """,
        "cusum_value_by_user": f"""
            WITH c AS (
              SELECT event_id, user_id,
                     sum(value - 55.0) OVER ({_EVENT_WINDOW}
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum,
                     ts
              FROM events
            )
            SELECT event_id, user_id,
                   round(cum - least(0.0, min(cum) OVER ({_EVENT_WINDOW}
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 4)
                     + 0.0 AS cusum,
                   round(cum - least(0.0, min(cum) OVER ({_EVENT_WINDOW}
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 4)
                     > 500.0 AS drift_alarm
            FROM c
        """,
        "doc_entropy_gate": """
            WITH h AS (
              SELECT doc_id, entropy(c) AS hh
              FROM (SELECT doc_id, unnest(string_split(text, '')) AS c
                    FROM documents)
              GROUP BY doc_id
            )
            SELECT doc_id, round(hh, 4) + 0.0 AS entropy_bits,
                   CASE WHEN hh < 3.95 THEN 'low_entropy'
                        WHEN hh > 4.20 THEN 'high_entropy' END
                     AS reject_reason,
                   hh >= 3.95 AND hh <= 4.20 AS keep
            FROM h
        """,
        "auc_value_events": """
            WITH l AS (
              SELECT ts::DATE AS day,
                     CASE WHEN event_type IN ('click','purchase')
                          THEN 1 ELSE 0 END AS y,
                     round(value, 2) AS s
              FROM events
            ),
            c AS (
              SELECT day, s, sum(y) AS pos, count(*) - sum(y) AS neg
              FROM l GROUP BY day, s
            ),
            k AS (
              SELECT day, pos, neg,
                     coalesce(sum(neg) OVER (
                       PARTITION BY day ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ), 0) AS nb
              FROM c
            ),
            a AS (
              SELECT day, sum(pos * (nb + neg / 2.0)) AS u,
                     sum(pos) AS n_pos, sum(neg) AS n_neg
              FROM k GROUP BY day
            )
            SELECT day,
                   round(CASE WHEN n_pos > 0 AND n_neg > 0
                              THEN u / (n_pos * n_neg) END, 4) + 0.0 AS auc,
                   n_pos::BIGINT AS n_pos, n_neg::BIGINT AS n_neg
            FROM a
        """,
        "calibration_events": """
            SELECT least(floor(value / 500.0 * 10), 9)::INT AS bin,
                   count(*) AS n,
                   round(avg(value / 500.0), 4) + 0.0 AS mean_score,
                   round(avg(CASE WHEN event_type IN ('click','purchase')
                                  THEN 1.0 ELSE 0.0 END), 4) + 0.0
                     AS pos_rate
            FROM events GROUP BY 1
        """,
        "rolling_slope_value": f"""
            WITH c AS (
              SELECT event_id, user_id, value,
                     epoch_us(ts) / 1000000.0
                       - min(epoch_us(ts) / 1000000.0) OVER (
                           PARTITION BY user_id) AS xc,
                     ts
              FROM events
            ),
            b AS (
              SELECT event_id, user_id,
                     avg(xc * value) OVER w AS exy,
                     avg(xc) OVER w AS ex,
                     avg(value) OVER w AS ey,
                     avg(xc * xc) OVER w AS exx,
                     count(*) OVER w AS c
              FROM c
              WINDOW w AS ({_EVENT_WINDOW}
                           ROWS BETWEEN 50 PRECEDING AND CURRENT ROW)
            )
            SELECT event_id, user_id,
                   round(CASE WHEN c >= 5 AND exx - ex*ex > 0
                              THEN (exy - ex*ey) / (exx - ex*ex) * 3600.0
                         END, 4) + 0.0 AS roll_slope
            FROM b
        """,
        "quantile_bin_value": """
            WITH sp AS (
              SELECT event_id, value,
                     CASE WHEN substr(md5('split-v1' || user_id::VARCHAR),
                                      1, 4) < 'cccc' THEN 'train'
                          WHEN substr(md5('split-v1' || user_id::VARCHAR),
                                      1, 4) < 'e666' THEN 'val'
                          ELSE 'test' END AS split
              FROM events
            ),
            b AS (
              SELECT quantile_cont(value, [0.2, 0.4, 0.6, 0.8]) AS bl
              FROM sp WHERE split = 'train'
            )
            SELECT event_id, split,
                   len(list_filter((SELECT bl FROM b),
                                   x -> round(x, 4) < value))::INT AS qbin
            FROM sp
        """,
        "ks_drift_value": """
            WITH sp AS (
              SELECT round(value, 2) AS v,
                     CASE WHEN substr(md5('split-v1' || user_id::VARCHAR),
                                      1, 4) < 'cccc' THEN 'train'
                          WHEN substr(md5('split-v1' || user_id::VARCHAR),
                                      1, 4) < 'e666' THEN 'val'
                          ELSE 'test' END AS split
              FROM events
            ),
            counts AS (
              SELECT split, v, count(*) AS n FROM sp GROUP BY 1, 2
            ),
            grid AS (
              SELECT g.v, s.split
              FROM (SELECT DISTINCT v FROM counts) g
              CROSS JOIN (SELECT DISTINCT split FROM counts) s
            ),
            cdf AS (
              SELECT grid.split, grid.v,
                     sum(coalesce(counts.n, 0)) OVER (
                       PARTITION BY grid.split ORDER BY grid.v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     / sum(coalesce(counts.n, 0)) OVER (
                         PARTITION BY grid.split) AS cdf
              FROM grid LEFT JOIN counts
                ON grid.split = counts.split AND grid.v = counts.v
            )
            SELECT o.split,
                   round(max(abs(o.cdf - b.cdf)), 4) + 0.0 AS ks
            FROM cdf o JOIN cdf b ON o.v = b.v AND b.split = 'train'
            WHERE o.split != 'train'
            GROUP BY o.split
        """,
        "scd2_user_state": """
            WITH chg AS (
              SELECT user_id, event_type, ts, event_id,
                     lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS prev
              FROM events
            ),
            cur AS (
              SELECT user_id, event_type, ts, event_id FROM chg
              WHERE prev IS NULL OR prev IS DISTINCT FROM event_type
            )
            SELECT user_id, event_type, ts AS valid_from,
                   lead(ts) OVER w AS valid_to,
                   lead(ts) OVER w IS NULL AS is_current
            FROM cur
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        "snapshot_diff_events": """
            WITH o AS (
              SELECT event_id, event_type, value FROM events
              WHERE event_id % 7 != 0
            ),
            n AS (
              SELECT event_id, event_type,
                     CASE WHEN event_id % 3 = 0 THEN value + 1
                          ELSE value END AS value
              FROM events WHERE event_id % 5 != 0
            ),
            j AS (
              SELECT coalesce(o.event_id, n.event_id) AS event_id,
                     o.event_type AS oet, o.value AS ov,
                     n.event_type AS net, n.value AS nv,
                     CASE WHEN o.event_id IS NULL THEN 'insert'
                          WHEN n.event_id IS NULL THEN 'delete'
                          WHEN o.event_type IS DISTINCT FROM n.event_type
                               OR o.value IS DISTINCT FROM n.value
                            THEN 'update' END AS change_type
              FROM o FULL OUTER JOIN n ON o.event_id = n.event_id
            )
            SELECT event_id, change_type,
                   oet AS old_event_type,
                   round(ov, 4) + 0.0 AS old_value,
                   net AS new_event_type,
                   round(nv, 4) + 0.0 AS new_value
            FROM j WHERE change_type IS NOT NULL
        """,
        "cohen_kappa_raters": f"""
            WITH ratings AS ({_RATINGS_FIXTURE_SQL}),
            j AS (
              SELECT a.rater_id AS rater_a, b.rater_id AS rater_b,
                     a.label AS la, b.label AS lb
              FROM ratings a JOIN ratings b
                ON a.item_id = b.item_id AND a.rater_id < b.rater_id
            ),
            obs AS (
              SELECT rater_a, rater_b, count(*)::BIGINT AS n_items,
                     sum(CASE WHEN la = lb THEN 1 ELSE 0 END)::DOUBLE AS agree
              FROM j GROUP BY 1, 2
            ),
            ma AS (SELECT rater_a, rater_b, la AS l, count(*)::BIGINT AS ca
                   FROM j GROUP BY 1, 2, 3),
            mb AS (SELECT rater_a, rater_b, lb AS l, count(*)::BIGINT AS cb
                   FROM j GROUP BY 1, 2, 3),
            pp AS (
              SELECT ma.rater_a, ma.rater_b, sum(ma.ca::DOUBLE * mb.cb) AS pp
              FROM ma JOIN mb ON ma.rater_a = mb.rater_a
                             AND ma.rater_b = mb.rater_b AND ma.l = mb.l
              GROUP BY 1, 2
            )
            SELECT o.rater_a, o.rater_b, o.n_items,
                   round(o.agree / o.n_items, 4) + 0.0 AS po,
                   round(p.pp / (o.n_items::DOUBLE * o.n_items), 4) + 0.0 AS pe,
                   round(CASE WHEN p.pp / (o.n_items::DOUBLE * o.n_items) < 1.0
                         THEN (o.agree / o.n_items
                               - p.pp / (o.n_items::DOUBLE * o.n_items))
                              / (1.0 - p.pp / (o.n_items::DOUBLE * o.n_items))
                         ELSE 1.0 END, 4) + 0.0 AS kappa
            FROM obs o JOIN pp p
              ON o.rater_a = p.rater_a AND o.rater_b = p.rater_b
        """,
        "fleiss_kappa_items": f"""
            WITH ratings AS ({_RATINGS_FIXTURE_SQL}),
            cnt AS (SELECT item_id, label, count(*)::BIGINT AS c
                    FROM ratings GROUP BY 1, 2),
            per_item AS (
              SELECT item_id, sum(c)::BIGINT AS n, sum(c * c)::BIGINT AS ss
              FROM cnt GROUP BY 1 HAVING sum(c) >= 2
            ),
            istats AS (
              SELECT count(*)::BIGINT AS n_items, sum(n)::BIGINT AS n_ratings,
                     avg((ss - n)::DOUBLE / (n::DOUBLE * (n - 1))) AS pbar
              FROM per_item
            ),
            lbl AS (
              SELECT sum(cl::DOUBLE * cl) AS sq, sum(cl)::DOUBLE AS tot FROM (
                SELECT c2.label, sum(c2.c)::BIGINT AS cl
                FROM cnt c2 JOIN per_item pi ON c2.item_id = pi.item_id
                GROUP BY c2.label)
            )
            SELECT n_items, n_ratings,
                   round(pbar, 4) + 0.0 AS p_bar,
                   round(sq / (tot * tot), 4) + 0.0 AS p_e,
                   round(CASE WHEN sq / (tot * tot) < 1.0
                         THEN (pbar - sq / (tot * tot))
                              / (1.0 - sq / (tot * tot))
                         ELSE 1.0 END, 4) + 0.0 AS kappa
            FROM istats CROSS JOIN lbl
        """,
        "bradley_terry_models": _bt_oracle_sql(8),
        "gold_labels_items": f"""
            WITH ratings AS ({_RATINGS_FIXTURE_SQL}),
            cnt AS (SELECT item_id, label, count(*)::BIGINT AS c
                    FROM ratings GROUP BY 1, 2),
            top AS (
              SELECT item_id, label, c FROM (
                SELECT *, row_number() OVER (
                  PARTITION BY item_id ORDER BY c DESC, label) AS rk
                FROM cnt) WHERE rk = 1
            ),
            ag AS (
              SELECT item_id, sum(c)::BIGINT AS n_votes,
                     sum(c::DOUBLE * ln(c::DOUBLE)) AS clogc
              FROM cnt GROUP BY 1
            )
            SELECT a.item_id, a.n_votes, t.label AS gold_label,
                   round(t.c::DOUBLE / a.n_votes, 4) + 0.0 AS gold_frac,
                   round(ln(a.n_votes::DOUBLE) - a.clogc / a.n_votes, 4)
                     + 0.0 AS vote_entropy
            FROM ag a JOIN top t ON a.item_id = t.item_id
        """,
        "conv_tree_paths": """
            WITH RECURSIVE nodes AS (
              SELECT event_id AS node_id,
                     CASE WHEN event_id % 32 = 0 THEN NULL
                          ELSE (event_id - event_id % 32)
                               + (event_id * 2654435761) % (event_id % 32)
                     END AS parent_id
              FROM events
            ),
            walk AS (
              SELECT node_id, parent_id AS anc,
                     CAST(node_id AS VARCHAR) AS path, 0 AS depth
              FROM nodes
              UNION ALL
              SELECT w.node_id, n.parent_id,
                     CAST(n.node_id AS VARCHAR) || '/' || w.path, w.depth + 1
              FROM walk w JOIN nodes n ON w.anc = n.node_id
            )
            SELECT d.node_id,
                   CAST(split_part(d.path, '/', 1) AS BIGINT) AS root_id,
                   d.depth, d.path
            FROM (SELECT node_id, path, depth FROM walk WHERE anc IS NULL) d
            JOIN (SELECT node_id FROM nodes WHERE node_id NOT IN
                    (SELECT parent_id FROM nodes WHERE parent_id IS NOT NULL)
                 ) l ON d.node_id = l.node_id
        """,
        "kfold_users_events": """
            SELECT event_id, user_id,
                   ('0x' || substr(md5('kfold-v1' || user_id::VARCHAR), 1, 8))
                     ::BIGINT % 5 AS fold
            FROM events
        """,
        "tscv_folds_events": """
            WITH bs AS (
              SELECT quantile_cont(epoch_us(ts) / 1000000.0,
                                   [0.2, 0.4, 0.6, 0.8]) AS bl
              FROM events
            ),
            seg AS (
              SELECT event_id,
                     len(list_filter((SELECT bl FROM bs),
                                     b -> round(b, 4) < epoch_us(ts) / 1000000.0
                         ))::BIGINT AS segment
              FROM events
            )
            SELECT event_id, s.split_id,
                   CASE WHEN segment = s.split_id THEN 'test'
                        ELSE 'train' END AS role
            FROM seg
            CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS split_id) s
            WHERE segment <= s.split_id
        """,
        "scale_features_grouped": """
            WITH s AS (
              SELECT event_type,
                     avg(value) AS mean, stddev_samp(value) AS std,
                     min(value) AS vmin, max(value) AS vmax,
                     quantile_cont(value, 0.01) AS p_lo,
                     quantile_cont(value, 0.99) AS p_hi,
                     quantile_cont(value, 0.25) AS q1,
                     quantile_cont(value, 0.50) AS med,
                     quantile_cont(value, 0.75) AS q3
              FROM events GROUP BY event_type
            )
            SELECT e.event_id, e.event_type,
              round(CASE WHEN e.value IS NULL THEN NULL
                         WHEN std IS NULL OR std = 0 THEN 0.0
                         ELSE (e.value - mean) / std END + 0.0, 4) AS v_std,
              round(CASE WHEN e.value IS NULL THEN NULL
                         WHEN vmax - vmin = 0 THEN 0.0
                         ELSE (e.value - vmin) / (vmax - vmin) END + 0.0,
                    4) AS v_minmax,
              round(CASE WHEN e.value IS NULL THEN NULL
                         WHEN q3 - q1 = 0 THEN 0.0
                         ELSE (e.value - med) / (q3 - q1) END + 0.0,
                    4) AS v_robust,
              round(CASE WHEN e.value IS NULL THEN NULL
                         ELSE greatest(least(e.value, p_hi), p_lo) END + 0.0,
                    4) AS v_winsor
            FROM events e JOIN s USING (event_type)
        """,
        "rolling_median_value": f"""
            SELECT event_id, user_id,
                   round(quantile_cont(value, 0.5) OVER (
                     {_EVENT_WINDOW}
                     ROWS BETWEEN 9 PRECEDING AND CURRENT ROW), 4) + 0.0
                     AS roll_median
            FROM events
        """,
        "rolling_zscore_value": f"""
            WITH b AS (
              SELECT event_id, user_id, value,
                     avg(value) OVER w AS m,
                     stddev_pop(value) OVER w AS s,
                     count(value) OVER w AS c
              FROM events
              WINDOW w AS ({_EVENT_WINDOW}
                           ROWS BETWEEN 50 PRECEDING AND 1 PRECEDING)
            )
            SELECT event_id, user_id,
                   round(CASE WHEN c >= 5 AND s > 0
                              THEN (value - m) / s END, 4) + 0.0 AS zscore,
                   CASE WHEN c >= 5 AND s > 0
                        THEN abs((value - m) / s) > 3.0 END AS is_anomaly
            FROM b
        """,
        "throttle_events_hourly": """
            SELECT event_id, user_id, event_type FROM (
              SELECT event_id, user_id, event_type,
                     row_number() OVER (
                       PARTITION BY user_id, event_type,
                                    epoch_us(ts) // 3600000000
                       ORDER BY ts, event_id) AS rn
              FROM events
            ) WHERE rn = 1
        """,
        "knn_label_metrics": f"""
            WITH e AS ({_EMB}),
            s AS (
              SELECT q.vec_id AS query_id, q.label AS q_label,
                     c.vec_id AS neighbor_id, c.label AS n_label,
                     {_cos('q.v', 'c.v')} AS cos_sim
              FROM e q JOIN e c ON c.vec_id != q.vec_id
              WHERE q.vec_id IN {_QUERY_IDS_SQL}
            ), r AS (
              SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY cos_sim DESC, neighbor_id) AS rank
              FROM s
            ), pq AS (
              SELECT query_id, q_label,
                     sum(CASE WHEN n_label = q_label THEN 1.0 ELSE 0.0 END) / 5 AS p,
                     coalesce(1.0 / min(CASE WHEN n_label = q_label THEN rank END), 0.0) AS rr
              FROM r WHERE rank <= 5 GROUP BY 1, 2
            )
            SELECT q_label AS label, count(*)::BIGINT AS n_queries,
                   round(avg(p), 4) + 0.0 AS p_at_k,
                   round(avg(rr), 4) + 0.0 AS mrr
            FROM pq GROUP BY 1
        """,
        "lag_lead_events": f"""
            SELECT event_id, user_id,
                   lag(value) OVER ({_EVENT_WINDOW}) AS prev_value,
                   lead(value) OVER ({_EVENT_WINDOW}) AS next_value,
                   lag(event_type) OVER ({_EVENT_WINDOW}) AS prev_type
            FROM events
        """,
        "ffill_events": f"""
            SELECT event_id, user_id,
                   last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
                     OVER ({_EVENT_CUM}) AS purchase_ffill
            FROM events
        """,
        "sessionize_events": f"""
            SELECT event_id, user_id,
                   (sum(flag) OVER ({_EVENT_CUM}) - 1)::BIGINT AS session_id
            FROM ({_SESSION_FLAG})
        """,
        "session_stats": f"""
            WITH s AS (
              SELECT user_id, value, ts,
                     (sum(flag) OVER ({_EVENT_CUM}) - 1)::BIGINT AS session_id
              FROM ({_SESSION_FLAG})
            )
            SELECT user_id, session_id, count(*)::BIGINT AS n_events,
                   round(sum(value), 4) AS sum_value,
                   max(epoch_us(ts)) - min(epoch_us(ts)) AS duration_us
            FROM s GROUP BY 1, 2
        """,
        "cumsum_events": f"""
            SELECT event_id, user_id,
                   round(sum(value) OVER ({_EVENT_CUM}), 4) AS cum_value
            FROM events
        """,
        "asof_join_events": f"""
            SELECT e.event_id, e.user_id, b.feature_val
            FROM events e
            ASOF LEFT JOIN ({_PURCHASE_BUILD}) b
              ON e.user_id = b.user_id AND e.ts >= b.ts
        """,
        "asof_join_events_forward": f"""
            SELECT e.event_id, e.user_id, b.feature_val
            FROM events e
            ASOF LEFT JOIN ({_PURCHASE_BUILD}) b
              ON e.user_id = b.user_id AND e.ts <= b.ts
        """,
        "asof_join_events_nearest": f"""
            WITH pb AS ({_PURCHASE_BUILD}),
            u AS (
              SELECT event_id, user_id, ts,
                     CAST(NULL AS TIMESTAMP) AS b_ts,
                     CAST(NULL AS DOUBLE) AS fv, 1 AS side
              FROM events
              UNION ALL
              SELECT NULL, user_id, ts, ts, feature_val, 0 FROM pb
            ),
            f AS (
              SELECT event_id, user_id, ts, side,
                     last_value(b_ts IGNORE NULLS) OVER w_b AS bt,
                     last_value(fv IGNORE NULLS) OVER w_b AS bv,
                     first_value(b_ts IGNORE NULLS) OVER w_f AS ft,
                     first_value(fv IGNORE NULLS) OVER w_f AS fv2
              FROM u
              WINDOW w_b AS (PARTITION BY user_id ORDER BY ts, side
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW),
                     w_f AS (PARTITION BY user_id ORDER BY ts, side
                             ROWS BETWEEN CURRENT ROW
                                      AND UNBOUNDED FOLLOWING)
            )
            SELECT event_id, user_id,
                   CASE WHEN bt IS NULL THEN fv2
                        WHEN ft IS NULL THEN bv
                        WHEN epoch_us(ft) - epoch_us(ts)
                             < epoch_us(ts) - epoch_us(bt) THEN fv2
                        ELSE bv END AS feature_val
            FROM f WHERE side = 1
        """,
        "asof_join_events_range": f"""
            SELECT e.event_id, e.user_id, b.feature_val
            FROM events e
            ASOF LEFT JOIN ({_PURCHASE_BUILD}) b
              ON e.user_id = b.user_id AND e.ts >= b.ts
        """,
        "asof_join_events_interval": f"""
            SELECT e.event_id, e.user_id, b.feature_val
            FROM events e
            ASOF LEFT JOIN ({_PURCHASE_BUILD}) b
              ON e.user_id = b.user_id AND e.ts >= b.ts
        """,
        "asof_join_events_tolerance": f"""
            SELECT e.event_id, e.user_id,
                   CASE WHEN epoch_us(e.ts) - epoch_us(b.ts) <= 3600000000
                        THEN b.feature_val END AS feature_val
            FROM events e
            ASOF LEFT JOIN ({_PURCHASE_BUILD}) b
              ON e.user_id = b.user_id AND e.ts >= b.ts
        """,
        "tumbling_hourly_events": """
            SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS win_start_us,
                   event_type, count(*) AS n_events,
                   round(sum(value), 4) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "sliding_rate_events": """
            WITH e AS (SELECT epoch_us(ts) AS us FROM events),
            s AS (
              SELECT (us // 900000000) * 900000000
                       - k.k * 900000000 AS win_start_us
              FROM e CROSS JOIN (
                SELECT unnest(generate_series(0, 3)) AS k
              ) k
            )
            SELECT win_start_us, count(*) AS n_events
            FROM s GROUP BY win_start_us
        """,
        "asof_join_events_multi": """
            WITH pb AS (
              SELECT user_id, ts, round(value, 4) AS purchase_val,
                     row_number() OVER (PARTITION BY user_id, ts
                                        ORDER BY event_id DESC) AS rn
              FROM events WHERE event_type = 'purchase'
            ), eb AS (
              SELECT user_id, ts, round(value, 4) AS error_val,
                     row_number() OVER (PARTITION BY user_id, ts
                                        ORDER BY event_id DESC) AS rn
              FROM events WHERE event_type = 'error'
            ), s1 AS (
              SELECT e.event_id, e.user_id, e.ts, b.purchase_val
              FROM events e
              ASOF LEFT JOIN (SELECT * FROM pb WHERE rn = 1) b
                ON e.user_id = b.user_id AND e.ts >= b.ts
            )
            SELECT s1.event_id, s1.user_id, s1.purchase_val, b2.error_val
            FROM s1
            ASOF LEFT JOIN (SELECT * FROM eb WHERE rn = 1) b2
              ON s1.user_id = b2.user_id AND s1.ts >= b2.ts
        """,
        "asof_join_events_stacked": """
            WITH b AS (
              SELECT event_type, user_id, ts, round(value, 4) AS val,
                     row_number() OVER (PARTITION BY event_type, user_id, ts
                                        ORDER BY event_id DESC) AS rn
              FROM events WHERE event_type IN ('purchase', 'error', 'click')
            ), s1 AS (
              SELECT e.event_id, e.user_id, e.ts, p.val AS purchase_v
              FROM events e
              ASOF LEFT JOIN (SELECT * FROM b WHERE rn = 1
                              AND event_type = 'purchase') p
                ON e.user_id = p.user_id AND e.ts >= p.ts
            ), s2 AS (
              SELECT s1.event_id, s1.user_id, s1.ts, s1.purchase_v,
                     r.val AS error_v
              FROM s1
              ASOF LEFT JOIN (SELECT * FROM b WHERE rn = 1
                              AND event_type = 'error') r
                ON s1.user_id = r.user_id AND s1.ts >= r.ts
            )
            SELECT s2.event_id, s2.user_id, s2.purchase_v, s2.error_v,
                   c.val AS click_v
            FROM s2
            ASOF LEFT JOIN (SELECT * FROM b WHERE rn = 1
                            AND event_type = 'click') c
              ON s2.user_id = c.user_id AND s2.ts >= c.ts
        """,
        "session_window_events": f"""
            WITH s AS (
              SELECT event_id, user_id, ts,
                     CASE WHEN lag(ts) OVER ({_EVENT_WINDOW}) IS NULL
                               OR epoch_us(ts) - epoch_us(lag(ts) OVER ({_EVENT_WINDOW})) >= 1800000000
                          THEN 1 ELSE 0 END AS flag
              FROM events
            ), g AS (
              SELECT user_id, ts, sum(flag) OVER ({_EVENT_CUM}) AS sid
              FROM s
            )
            SELECT user_id, min(epoch_us(ts)) AS sess_start_us,
                   max(epoch_us(ts)) + 1800000000 AS sess_end_us,
                   count(*)::BIGINT AS n_events
            FROM g GROUP BY user_id, sid
        """,
        "enum_case_lookup": """
            SELECT event_id,
                   (CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
                        WHEN 'purchase' THEN 3 WHEN 'error' THEN 4 ELSE 99 END)::BIGINT AS activity_id,
                   (400200 + CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
                        WHEN 'purchase' THEN 3 WHEN 'error' THEN 4 ELSE 99 END)::BIGINT AS type_uid
            FROM events
        """,
        "json_dot_locator": """
            SELECT event_id, json_extract(props, '$.k')::BIGINT AS k_val FROM events
        """,
        "eventday_counts": """
            SELECT strftime(ts, '%Y%m%d') AS eventday, count(*)::BIGINT AS n
            FROM events GROUP BY 1
        """,
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(l_discount), 4) AS avg_disc,
                   count(*)::BIGINT AS count_order
            FROM lineitem GROUP BY 1, 2
        """,
        "q3_top_orders": """
            SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_str,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                 JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY o_orderkey, o_orderdate
            ORDER BY revenue DESC, o_orderkey LIMIT 10
        """,
        "region_customer_stats": """
            SELECT r_name, count(*)::BIGINT AS n_customers,
                   round(avg(c_acctbal), 2) AS avg_acctbal
            FROM customer JOIN nation ON c_nationkey = n_nationkey
                 JOIN region ON n_regionkey = r_regionkey
            GROUP BY 1
        """,
        "customers_without_orders": """
            SELECT c_mktsegment, count(*)::BIGINT AS n_customers
            FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
            GROUP BY 1
        """,
        "rollup_orders": """
            SELECT o_orderpriority, o_orderstatus,
                   round(sum(o_totalprice), 2) AS sum_total,
                   count(*)::BIGINT AS n_orders
            FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
        """,
        "cube_orders": """
            SELECT o_orderpriority, o_orderstatus,
                   round(sum(o_totalprice), 2) AS sum_total,
                   count(*)::BIGINT AS n_orders
            FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)
        """,
        "except_distinct_custkeys": """
            SELECT DISTINCT o_custkey FROM orders
            EXCEPT
            SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 150000
        """,
        "union_by_name_mixed": """
            SELECT o_orderkey, o_totalprice AS price, NULL::VARCHAR AS priority
            FROM orders WHERE o_orderstatus = 'F'
            UNION ALL
            SELECT o_orderkey, NULL::DOUBLE AS price, o_orderpriority AS priority
            FROM orders WHERE o_orderstatus = 'O'
        """,
        "topk_orders_per_priority": """
            SELECT o_orderpriority, o_orderkey, o_totalprice, rank FROM (
              SELECT o_orderpriority, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_orderpriority
                                        ORDER BY o_totalprice DESC, o_orderkey) AS rank
              FROM orders
            ) WHERE rank <= 3
        """,
        "distinct_users_by_type": """
            SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_users
            FROM events GROUP BY 1
        """,
        "rolling_1h_events": """
            SELECT event_id, user_id,
                   count(*) OVER w AS n_1h,
                   round(sum(value) OVER w, 4) AS sum_1h
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                         RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        """,
        "pivot_status_by_priority": """
            SELECT o_orderpriority,
                   round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS total_f,
                   round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS total_o,
                   round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS total_p
            FROM orders GROUP BY 1
        """,
        "unpivot_order_measures": """
            SELECT o_orderkey, 'total_price' AS metric, o_totalprice AS val FROM orders
            UNION ALL
            SELECT o_orderkey, 'cust_key' AS metric, o_custkey::DOUBLE AS val FROM orders
        """,
        "grouping_sets_orders": """
            SELECT o_orderpriority, o_orderstatus,
                   grouping(o_orderpriority)::BIGINT AS g_pri,
                   grouping(o_orderstatus)::BIGINT AS g_st,
                   round(sum(o_totalprice), 2) AS sum_total,
                   count(*)::BIGINT AS n_orders
            FROM orders
            GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        """,
        "ntile_events": """
            SELECT event_id, user_id,
                   ntile(4) OVER w AS quartile,
                   round(percent_rank() OVER w, 6) AS pct_rank,
                   round(cume_dist() OVER w, 6) AS cume
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        "histogram_doc_lengths": """
            SELECT least(floor(n_chars / 100), 19)::BIGINT AS bucket,
                   count(*)::BIGINT AS n_docs,
                   min(n_chars) AS min_chars, max(n_chars) AS max_chars
            FROM documents GROUP BY 1
        """,
        "full_outer_daily_activity": """
            SELECT strftime(day, '%Y-%m-%d') AS day_str,
                   coalesce(n_orders, 0)::BIGINT AS n_orders,
                   coalesce(n_events, 0)::BIGINT AS n_events
            FROM (SELECT o_orderdate::DATE AS day, count(*) AS n_orders
                  FROM orders GROUP BY 1) o
            FULL OUTER JOIN
                 (SELECT ts::DATE AS day, count(*) AS n_events
                  FROM events GROUP BY 1) e USING (day)
        """,
        "doc_stats": f"""
            SELECT doc_id, n_chars, n_tokens, n_subwords, punct_ratio, stopword_ratio,
                   CASE WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits > 0 THEN 'en'
                        WHEN es_hits >= de_hits AND es_hits > 0 THEN 'es'
                        WHEN de_hits > 0 THEN 'de' ELSE 'und' END AS lang_pred,
                   fingerprint,
                   floor((0.4::DOUBLE * least(n_tokens / 64.0::DOUBLE, 1.0::DOUBLE)
                       + 0.2::DOUBLE * (CASE WHEN mean_tok >= 3 AND mean_tok <= 10
                                             THEN 1.0::DOUBLE ELSE 0.5::DOUBLE END)
                       + 0.2::DOUBLE * least(stopword_ratio * 4, 1.0::DOUBLE)
                       + 0.2::DOUBLE * (1.0::DOUBLE - punct_ratio))
                       * 10000::DOUBLE + 0.5::DOUBLE)::BIGINT AS quality_bp
            FROM ({_DOC_BASE})
        """,
        "dedup_exact": """
            SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint,
                   min(doc_id) AS keep_id, count(*)::BIGINT AS n_dups
            FROM documents GROUP BY 1
        """,
        "dedup_minhash_lsh": _MINHASH_PAIRS,
        "dedup_incremental_docs": _MINHASH_INCREMENTAL,
        "semdedup_docs": _semdedup_oracle_sql(threshold=0.35, k=8, iters=1),
        # same fixpoint as graph.connected_components, via transitive
        # closure in a recursive CTE (different algorithm, different engine)
        "dedup_clusters": f"""
            WITH RECURSIVE p AS (SELECT doc_a, doc_b FROM ({_MINHASH_PAIRS})),
            e AS (SELECT doc_a AS a, doc_b AS b FROM p
                  UNION SELECT doc_b, doc_a FROM p),
            reach AS (
              SELECT a AS n, a AS m FROM e
              UNION
              SELECT r.n, e.b FROM reach r JOIN e ON r.m = e.a
            ),
            comp AS (SELECT n, min(m) AS component FROM reach GROUP BY n)
            SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster_id,
                   (d.doc_id = coalesce(c.component, d.doc_id)) AS keep
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.n
        """,
        "dedup_ngram_jaccard": f"""
            WITH sh AS (
              SELECT doc_id,
                     list_distinct(CASE WHEN len(ws) >= 3
                       THEN list_transform(range(1, len(ws) - 1),
                                           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
                       ELSE []::VARCHAR[] END) AS sh
              FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
            ), pairs AS ({_MINHASH_PAIRS})
            SELECT p.doc_a, p.doc_b,
                   round(CASE WHEN (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) > 0
                         THEN len(list_intersect(a.sh, b.sh))
                              / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
                         ELSE 0 END, 4) AS jaccard
            FROM pairs p JOIN sh a ON p.doc_a = a.doc_id JOIN sh b ON p.doc_b = b.doc_id
        """,
        "zorder_events": _zorder_sql(),
        "zorder_spans_events": _zorder_spans_sql(),
        "dedup_jaccard_exact": """
            WITH sh AS (
              SELECT doc_id,
                     list_distinct(CASE WHEN len(ws) >= 3
                       THEN list_transform(range(1, len(ws) - 1),
                              i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
                       ELSE []::VARCHAR[] END) AS sh
              FROM (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents)
            ),
            nz AS (SELECT * FROM sh WHERE len(sh) > 0),
            pairs AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     len(list_intersect(a.sh, b.sh))::DOUBLE
                       / (len(a.sh) + len(b.sh)
                          - len(list_intersect(a.sh, b.sh))) AS jac
              FROM nz a JOIN nz b ON a.doc_id < b.doc_id
            )
            SELECT doc_a, doc_b, round(jac, 4) + 0.0 AS jaccard
            FROM pairs WHERE jac >= 0.6
        """,
        "ngram_containment_docs": f"""
            WITH sh AS (
              SELECT doc_id,
                     list_distinct(CASE WHEN len(ws) >= 3
                       THEN list_transform(range(1, len(ws) - 1),
                                           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
                       ELSE []::VARCHAR[] END) AS sh
              FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
            ), pairs AS ({_MINHASH_PAIRS}),
            raw AS (
              SELECT p.doc_a, p.doc_b,
                     CASE WHEN len(a.sh) > 0
                          THEN len(list_intersect(a.sh, b.sh))::DOUBLE / len(a.sh)
                          ELSE 0 END AS ca,
                     CASE WHEN len(b.sh) > 0
                          THEN len(list_intersect(a.sh, b.sh))::DOUBLE / len(b.sh)
                          ELSE 0 END AS cb
              FROM pairs p JOIN sh a ON p.doc_a = a.doc_id
                           JOIN sh b ON p.doc_b = b.doc_id)
            SELECT doc_a, doc_b,
                   round(ca, 4) + 0.0 AS c_a_in_b,
                   round(cb, 4) + 0.0 AS c_b_in_a,
                   round(greatest(ca, cb), 4) + 0.0 AS containment
            FROM raw
        """,
        "ann_cosine_topk": f"""
            WITH e AS ({_EMB}),
            s AS (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     {_cos('q.v', 'c.v')} AS cos_sim
              FROM e q JOIN e c ON c.vec_id != q.vec_id
              WHERE q.vec_id IN {_QUERY_IDS_SQL}
            )
            SELECT query_id, rank, neighbor_id, cos_sim FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY cos_sim DESC, neighbor_id) AS rank
              FROM s
            ) WHERE rank <= 5
        """,
        "ann_ivf_assign": f"""
            WITH e AS ({_EMB}),
            x AS (SELECT vec_id, label, unnest(v) AS val, unnest(range(1, 65)) AS d FROM e),
            cd AS (SELECT label AS cell, d, avg(val) AS cv FROM x GROUP BY 1, 2),
            cl AS (SELECT cell, list(cv ORDER BY d) AS centroid FROM cd GROUP BY 1),
            s AS (
              SELECT e.vec_id, cl.cell::BIGINT AS cell,
                     {_cos('e.v', 'cl.centroid')} AS cos_to_centroid
              FROM e, cl
            )
            SELECT vec_id, cell, cos_to_centroid FROM (
              SELECT *, row_number() OVER (PARTITION BY vec_id
                                           ORDER BY cos_to_centroid DESC, cell) AS rn
              FROM s
            ) WHERE rn = 1
        """,
        "dedup_embedding_cosine": f"""
            WITH e AS ({_EMB})
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   {_cos('a.v', 'b.v')} AS cos_sim
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE {_cos('a.v', 'b.v')} >= 0.35
        """,
        "multimodal_frames": """
            SELECT doc_id,
                   unnest(range(0, 1 + octet_length(encode(text)) % 8))::BIGINT AS frame_idx,
                   (octet_length(encode(text))
                    * (unnest(range(0, 1 + octet_length(encode(text)) % 8)) + 1)) % 997 AS frame_off
            FROM documents
        """,
        "multimodal_meta": """
            SELECT doc_id,
                   octet_length(encode(text))::BIGINT AS n_bytes,
                   (64 + octet_length(encode(text)) % 512)::BIGINT AS width,
                   (64 + (octet_length(encode(text)) * 7) % 512)::BIGINT AS height,
                   (1 + octet_length(encode(text)) % 8)::BIGINT AS n_frames
            FROM documents
        """,
        "multimodal_decode_image": """
            SELECT doc_id,
                   (8 + doc_id % 8)::BIGINT AS width,
                   (8 + (doc_id * 3) % 8)::BIGINT AS height,
                   'RGB' AS mode,
                   ROUND(CAST(((doc_id % 256) * 19595
                               + ((doc_id * 7) % 256) * 38470
                               + ((doc_id * 13) % 256) * 7471
                               + 32768) // 65536 AS DOUBLE), 4) AS mean_luma
            FROM documents
        """,
        "dedup_simhash": f"""
            SELECT simhash, min(doc_id) AS keep_id, count(*)::BIGINT AS n_dups
            FROM ({_SIMHASH_SIG}) GROUP BY 1
        """,
        "dedup_simhash_hamming": f"""
            WITH sh AS ({_SIMHASH_SIG})
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        """,
        "ann_ivf_topk": _ivf_topk_oracle_sql(k=5, n_probe=2),
        "ann_kmeans_centroids": _kmeans_oracle_sql(k=8, iters=2),
        "dedup_embedding_cosine_blocked": _near_dup_blocked_oracle_sql(
            0.35, 4, k=16, iters=1
        ),
        "alb_parse": """
            SELECT o_orderkey,
              'https' AS type,
              strftime(o_orderdate, '%Y-%m-%d') || 'T00:00:00Z' AS time,
              'my-elb' AS elb,
              printf('10.%d.%d.%d', o_custkey % 256, (o_custkey // 256) % 256,
                     o_orderkey % 250 + 1) AS client_ip,
              printf('%d', o_orderkey % 50000 + 1024) AS client_port,
              printf('192.168.0.%d', o_custkey % 200 + 1) AS target_ip,
              '8080' AS target_port,
              printf('%d', o_orderkey % 3 * 101 + 200) AS elb_status_code,
              CASE WHEN o_orderkey % 5 = 0 THEN '-'
                   ELSE printf('%d', o_orderkey % 3 * 101 + 200) END AS target_status_code,
              printf('%d', o_orderkey % 4096) AS received_bytes,
              printf('%d', o_custkey % 8192) AS sent_bytes,
              CASE WHEN o_orderkey % 7 = 0 THEN NULL
                   ELSE ['GET','POST','PUT'][(o_orderkey % 3 + 1)::INT] END AS request_method,
              CASE WHEN o_orderkey % 7 = 0 THEN NULL
                   ELSE printf('https://shop.example.com/o/%d?u=%d', o_orderkey, o_custkey)
                   END AS request_url,
              CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE 'HTTP/1.1' END AS request_protocol,
              CASE WHEN o_orderkey % 7 = 0 THEN 'badreq' ELSE NULL END AS request,
              printf('agent/%d (Linux; x86_64)', o_custkey % 17) AS user_agent,
              'TLSv1.2' AS ssl_protocol,
              '-' AS conn_trace_id
            FROM orders
        """,
        "sysmon_description_kv": r"""
            SELECT event_id,
                   strftime(ts, '%Y-%m-%d %H:%M:%S.%g') AS utc_time,
                   printf('%d', user_id) AS process_id,
                   printf('C:\apps\%s.exe', event_type) AS image,
                   'orphan line without delimiter' AS line4
            FROM events
        """,
        "mapping_dispatch": """
            SELECT 'events_demo' AS source, 'web_activity' AS target_schema,
                   strftime(ts, '%Y%m%d') AS eventday,
                   (CASE event_type WHEN 'view' THEN 1 ELSE 2 END)::BIGINT AS activity_id,
                   event_id::VARCHAR AS event_uid,
                   user_id::VARCHAR AS actor_uid,
                   (CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
                         ELSE 99 END)::BIGINT AS severity_id,
                   strftime(ts, '%Y-%m-%d %H:%M:%S') AS time
            FROM events WHERE event_type IN ('view', 'click')
        """,
        "mapping_rejects": """
            SELECT 'events_demo' AS source,
                   'no_mapping_for_value' AS reject_reason,
                   count(*)::BIGINT AS n
            FROM events WHERE event_type NOT IN ('view', 'click')
        """,
        "doc_bpe_subwords": _bpe_oracle_sql(),
        # repetition oracles intentionally use the classical explode ->
        # GROUP BY gram algorithm (vs Spark's in-row sorted-run fold):
        # two independent implementations under one hash gate
        "repetition_stats": _REPETITION_STATS_SQL,
        "line_stats": _LINE_STATS_SQL,
        "corpus_filter": _CORPUS_FILTER_SQL,
        # conversation-level gate = the SAME filter SQL over rendered
        # transcripts (composition on both sides)
        "conv_quality_filter": (
            f"""WITH t AS (SELECT * FROM read_parquet('{_tr_dir()}/transcripts.parquet')),
            rendered_docs AS (
              SELECT conv_id AS doc_id,
                     string_agg(
                       '<|' || role ||
                       CASE WHEN tool IS NOT NULL THEN ':' || tool
                            ELSE '' END || '|>' || chr(10) || text
                       || chr(10),
                       '' ORDER BY turn_idx) AS text
              FROM t GROUP BY conv_id
            ),
            """
            + _CORPUS_FILTER_SQL.replace("WITH w AS", "w AS").replace(
                "FROM documents", "FROM rendered_docs"
            )
        ),
        "doc_lang_trigram": _langid_oracle_sql(),
        # order statistic recomputed from the FULL distinct hash set (vs
        # the engine's bounded per-partition k-min reduction)
        "kmv_distinct_users": f"""
            WITH x AS (SELECT event_type::VARCHAR AS g,
                              md5(user_id::VARCHAR) AS h FROM events),
            d AS (SELECT DISTINCT g, 0.0 + {_KMV_FRAC} AS frac FROM x),
            r AS (SELECT g, frac,
                         row_number() OVER (PARTITION BY g ORDER BY frac) AS rn
                  FROM d)
            SELECT g AS event_type,
                   count(*) FILTER (rn <= 64)::BIGINT AS n_candidates,
                   round(coalesce(63.0 / max(CASE WHEN rn = 64 THEN frac END),
                                  count(*) FILTER (rn <= 64)::DOUBLE), 4)
                     + 0.0 AS estimate
            FROM r GROUP BY g
        """,
        "merge_orders_cdc": """
            WITH upd AS (
              SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
                     o_totalprice + 1000.0 AS o_totalprice,
                     o_orderdate, o_orderpriority,
                     (o_orderkey % 40 = 0) AS del
              FROM orders WHERE o_orderkey % 10 = 0)
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                   o_orderdate, o_orderpriority
            FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
            UNION ALL
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                   o_orderdate, o_orderpriority
            FROM upd WHERE NOT del
        """,
        "top_ngrams": """
            WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
            g AS (SELECT unnest(list_transform(range(1, len(ws)),
                         i -> array_to_string(ws[i:i+1], ' '))) AS gram
                  FROM w WHERE len(ws) >= 2)
            SELECT gram, count(*)::BIGINT AS cnt FROM g
            GROUP BY gram ORDER BY cnt DESC, gram LIMIT 20
        """,
        "tfidf_top_terms": """
            WITH terms AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                           FROM documents),
            tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM terms
                   WHERE length(term) > 0 GROUP BY doc_id, term),
            dfreq AS (SELECT term, count(*)::BIGINT AS df_docs FROM tf GROUP BY term),
            n AS (SELECT count(DISTINCT doc_id)::BIGINT AS n_docs FROM documents),
            scored AS (
              SELECT doc_id, term, tf, df_docs,
                     round(tf * (ln((n_docs + 1)::DOUBLE / (df_docs + 1)::DOUBLE)
                                 + 1.0), 4) + 0.0 AS tfidf
              FROM tf JOIN dfreq USING (term) CROSS JOIN n)
            SELECT doc_id, term, tf, df_docs, tfidf FROM (
              SELECT *, row_number() OVER (PARTITION BY doc_id
                                           ORDER BY tfidf DESC, term) AS rk
              FROM scored
            ) WHERE rk <= 3
        """,
        "pmi_collocations_docs": """
            WITH w AS (SELECT list_filter(string_split(text, ' '),
                                          x -> length(x) > 0) AS ws
                       FROM documents),
            g AS (SELECT unnest(list_transform(range(1, len(ws)),
                         i -> ws[i] || ' ' || ws[i+1])) AS gram
                  FROM w WHERE len(ws) >= 2),
            bi AS (SELECT split_part(gram, ' ', 1) AS w1,
                          split_part(gram, ' ', 2) AS w2,
                          count(*)::BIGINT AS c12
                   FROM g GROUP BY 1, 2),
            btot AS (SELECT sum(greatest(len(ws) - 1, 0))::DOUBLE AS B FROM w),
            uni AS (SELECT unnest(ws) AS w, 1 AS one FROM w),
            uc AS (SELECT w, count(*)::BIGINT AS c FROM uni GROUP BY w),
            tot AS (SELECT sum(c)::DOUBLE AS T FROM uc)
            SELECT w1, w2, c12 AS pair_count,
                   round(ln(c12::DOUBLE * T * T / (B * u1.c * u2.c)), 4) + 0.0 AS pmi
            FROM bi JOIN uc u1 ON bi.w1 = u1.w
                    JOIN uc u2 ON bi.w2 = u2.w
                    CROSS JOIN tot CROSS JOIN btot
            WHERE c12 >= 5
            ORDER BY pmi DESC, w1, w2 LIMIT 20
        """,
        "scrub_pii": r"""
            WITH r AS (
              SELECT doc_id,
                     substring(text, 1, 40)
                     || CASE WHEN doc_id % 3 = 0
                             THEN ' contact u' || doc_id::VARCHAR || '@example.com'
                             ELSE '' END
                     || CASE WHEN doc_id % 4 = 0
                             THEN ' from 192.168.' || (doc_id % 200)::VARCHAR || '.25'
                             ELSE '' END
                     || CASE WHEN doc_id % 5 = 0
                             THEN ' acct ' || lpad((doc_id * 937)::VARCHAR, 8, '0')
                             ELSE '' END AS raw
              FROM documents)
            SELECT doc_id,
                   regexp_replace(regexp_replace(regexp_replace(raw,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                       '(?:[0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g'),
                       '[0-9]{4,}', '<NUM>', 'g') AS masked,
                   len(regexp_extract_all(raw,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_email,
                   len(regexp_extract_all(raw,
                       '(?:[0-9]{1,3}\.){3}[0-9]{1,3}'))::BIGINT AS n_ipv4,
                   len(regexp_extract_all(raw, '[0-9]{4,}'))::BIGINT AS n_number
            FROM r
        """,
        # dataset-assembly surface: thresholds are the hex forms of
        # floor(frac * 65536) — 0.8 -> 'cccc', 0.9 -> 'e666', 0.25 ->
        # '4000'; 'g' sorts after every hex digit (rate >= 1 keeps all)
        "dataset_split_events": """
            SELECT event_id, user_id,
                   CASE WHEN substr(md5('split-v1' || user_id::VARCHAR), 1, 4) < 'cccc' THEN 'train'
                        WHEN substr(md5('split-v1' || user_id::VARCHAR), 1, 4) < 'e666' THEN 'val'
                        ELSE 'test' END AS split
            FROM events
        """,
        "split_by_cluster_docs": """
            WITH k AS (
              SELECT doc_id,
                     md5(array_to_string(
                       list_slice(string_split(text, ' '), 1, 8), ' '))
                       AS fp
              FROM documents
            ),
            cm AS (
              SELECT doc_id,
                     min(doc_id) OVER (PARTITION BY fp) AS cluster_id
              FROM k
            )
            SELECT doc_id, cluster_id,
                   CASE WHEN substr(md5('split-v1' || cluster_id::VARCHAR),
                                    1, 4) < 'cccc' THEN 'train'
                        WHEN substr(md5('split-v1' || cluster_id::VARCHAR),
                                    1, 4) < 'e666' THEN 'val'
                        ELSE 'test' END AS split
            FROM cm
        """,
        "split_temporal_events": """
            SELECT event_id,
                   CASE WHEN ts < TIMESTAMP '2024-01-22 00:00:00'
                               - INTERVAL 172800 SECOND THEN 'train'
                        WHEN ts >= TIMESTAMP '2024-01-22 00:00:00' THEN 'test'
                        ELSE 'embargo' END AS split
            FROM events
        """,
        "sample_stratified_docs": """
            SELECT doc_id, lang FROM documents
            WHERE substr(md5('sample-v1' || doc_id::VARCHAR), 1, 4)
                  < (CASE WHEN lang = 'en' THEN '4000' ELSE 'g' END)
        """,
        "pack_sequences": """
            WITH d AS (
              SELECT doc_id, source,
                     len(string_split(text, ' '))::BIGINT AS n_tokens
              FROM documents
            )
            SELECT doc_id, source, n_tokens,
                   coalesce(sum(n_tokens) OVER w, 0)::BIGINT AS offset_tokens,
                   CAST(floor(coalesce(sum(n_tokens) OVER w, 0) / 2048.0) AS BIGINT) AS seq_id
            FROM d
            WINDOW w AS (PARTITION BY source ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        """,
        "doc_chunks": _DOC_CHUNKS_SQL,
        "doc_chunks_udtf": _DOC_CHUNKS_SQL,
        "contrastive_triples": f"""
            WITH chunks AS ({_DOC_CHUNKS_SQL}),
            c AS (
              SELECT doc_id::VARCHAR || '#' || chunk_idx::VARCHAR AS cid,
                     doc_id, chunk_idx, chunk_text
              FROM chunks
            ),
            pos AS (
              SELECT cid, doc_id, chunk_idx,
                     chunk_text AS anchor_text,
                     lead(chunk_text) OVER (
                       PARTITION BY doc_id ORDER BY chunk_idx
                     ) AS positive_text
              FROM c QUALIFY positive_text IS NOT NULL
            ),
            r AS (
              SELECT cid, md5('neg' || chr(31) || cid) AS ring,
                     (list_sum(list_transform(range(1, 5), i ->
                        ((strpos('0123456789abcdef',
                                 substr(md5('neg' || chr(31) || cid), i, 1))
                          - 1)::BIGINT << (4 * (4 - i)))))::BIGINT % 8)
                       AS bkt
              FROM c
            ),
            ranked AS (
              SELECT cid, bkt,
                     row_number() OVER (PARTITION BY bkt
                                        ORDER BY ring, cid) AS rnk,
                     count(*) OVER (PARTITION BY bkt) AS cnt
              FROM r
            ),
            pairs AS (
              SELECT cid, bkt, rnk, cnt, unnest([1, 2]) AS neg_rank
              FROM ranked
            ),
            negs AS (
              SELECT p.cid, p.neg_rank, r2.cid AS neg_id
              FROM (SELECT *, ((rnk - 1 + neg_rank) % cnt) + 1 AS target
                    FROM pairs WHERE neg_rank <= cnt - 1) p
              JOIN ranked r2 ON p.bkt = r2.bkt AND p.target = r2.rnk
              WHERE r2.cid <> p.cid
            )
            SELECT pos.doc_id, pos.chunk_idx, negs.neg_rank,
                   pos.anchor_text, pos.positive_text,
                   ct.chunk_text AS negative_text
            FROM pos
            JOIN negs ON pos.cid = negs.cid
            JOIN c ct ON ct.cid = negs.neg_id
        """,
        "positive_pairs_docs": f"""
            WITH chunks AS ({_DOC_CHUNKS_SQL})
            SELECT doc_id, chunk_idx,
                   chunk_text AS anchor_text,
                   lead(chunk_text) OVER (
                     PARTITION BY doc_id ORDER BY chunk_idx
                   ) AS positive_text
            FROM chunks
            QUALIFY positive_text IS NOT NULL
        """,
        "decontaminate_docs": _DECON_SQL,
        # the bloom prefilter is performance-transparent (exact join after
        # it) — deliberately the SAME oracle
        "decontaminate_docs_bloom": _DECON_SQL,
        "decontaminate_docs_bloom_forced": _DECON_SQL,
        "doc_length_quantiles": """
            SELECT lang,
                   round(quantile_cont(n_chars, 0.25), 4) AS p25,
                   round(quantile_cont(n_chars, 0.5), 4) AS p50,
                   round(quantile_cont(n_chars, 0.9), 4) AS p90,
                   round(quantile_cont(n_chars, 0.99), 4) AS p99
            FROM documents GROUP BY lang
        """,
        "iqr_value_by_user": """
            SELECT user_id,
                   round(quantile_cont(value, 0.75)
                         - quantile_cont(value, 0.25), 4) AS iqr_value
            FROM events GROUP BY user_id
        """,
        # both EWMA forms (JVM window / applyInPandas) hash against this
        # one oracle: adjusted ewm with halflife weights, reference weight
        # cancelled (u_j = 2^((t_j - t_first)/halflife))
        "ewma_events": _EWMA_ORACLE,
        "ewma_events_grouped": _EWMA_ORACLE,
        "kinesis_decode": """
            WITH k AS (
              SELECT event_id,
                     '{"source":"'
                       || CASE WHEN event_id % 2 = 0 THEN 'aws-alb'
                               ELSE 'windows-sysmon' END
                       || '","message":"evt-' || event_id || '"}' AS payload,
                     CASE WHEN event_id % 11 = 0 THEN 's3:TestEvent' END AS ev
              FROM events
            )
            SELECT event_id,
                   to_base64(encode(payload)) AS b64,
                   decode(from_base64(to_base64(encode(payload)))) AS payload,
                   payload->>'$.source' AS src,
                   payload->>'$.message' AS message
            FROM k
            WHERE ev IS NULL OR ev <> 's3:TestEvent'
        """,
        "s3_key_routing": """
            WITH k AS (
              SELECT event_id,
                     CASE WHEN event_id % 7 = 0
                            THEN 'other%2Fmisc%2Ff' || event_id
                          WHEN event_id % 2 = 0
                            THEN 'logs%2Falb%2Fyear%3D2024%2Ffile%20'
                                 || event_id || '.log.gz'
                          ELSE 'sysmon%2Farchive%2Fevt%20'
                                 || event_id || '.json.gz' END AS raw_key
              FROM events
            ), d AS (
              SELECT event_id, raw_key,
                     replace(replace(replace(raw_key, '%2F', '/'),
                                     '%20', ' '), '%3D', '=') AS key
              FROM k
            )
            SELECT event_id, raw_key, key,
                   CASE WHEN regexp_matches(key, '^logs/alb/.*$')
                          THEN 'aws-alb'
                        WHEN regexp_matches(key, '^sysmon/archive/.*$')
                          THEN 'windows-sysmon' END AS src
            FROM d
        """,
        "json_fallback": """
            WITH l AS (
              SELECT event_id,
                     CASE WHEN event_id % 7 = 0 THEN 'not json ' || event_id
                          ELSE '{"a":' || event_id || ',"b":"x'
                               || event_id || '"}' END AS line
              FROM events
            )
            SELECT event_id,
                   CASE WHEN json_valid(line) THEN (line->>'$.a')::BIGINT END AS a,
                   CASE WHEN json_valid(line) THEN line->>'$.b' END AS b,
                   CASE WHEN NOT json_valid(line) THEN line END AS "rawData"
            FROM l
        """,
        "gzip_line_scan": f"""
            SELECT line_id, payload, num
            FROM read_csv('{_ensure_gz_fixture()}/*.log.gz', header=false,
                          columns={{'line_id': 'BIGINT', 'payload': 'VARCHAR',
                                    'num': 'BIGINT'}})
        """,
        "flagship_transcripts": _flagship_oracle_sql(),
        "flagship_transcripts_bucketed": _flagship_oracle_sql(),
        "flagship_transcripts_salted": _flagship_oracle_sql(),
        "flagship_transcripts_hybrid": _flagship_oracle_sql(),
        # streaming operators, batch-form: the oracle reproduces the
        # at-least-once replay (UNION ALL of every third event) and the
        # two-sided time-bounded join independently of Spark's planner.
        "dedup_stream_batch": """
            WITH dup AS (
                SELECT event_id, user_id, ts, value FROM events
                UNION ALL
                SELECT event_id, user_id, ts, value FROM events
                WHERE event_id % 3 = 0
            )
            SELECT DISTINCT event_id, user_id,
                   epoch_us(ts) AS ts_us,
                   round(value, 4) + 0.0 AS value_r
            FROM dup
        """,
        "stream_interval_join_batch": """
            SELECT p.event_id, p.user_id, b.event_id AS purchase_id,
                   epoch_us(p.ts) AS ts_us,
                   epoch_us(b.ts) AS purchase_ts_us
            FROM events p
            JOIN events b
              ON p.user_id = b.user_id
             AND b.event_type = 'purchase'
             AND b.ts >= p.ts
             AND b.ts <= p.ts + INTERVAL 300 SECONDS
        """,
        # cross-doc exact-substring dedup: the oracle reproduces the gram
        # table on raw strings (no md5 — a second, independent keying) and
        # merges intervals with the classical gaps-and-islands window
        # instead of Spark's in-row fold — two algorithms per gate.
        "duplicate_ngram_spans": _SUBSTR_SPANS_SQL,
        "scrub_duplicate_spans": f"""
            WITH spans AS ({_SUBSTR_SPANS_SQL}),
            doc_spans AS (
                SELECT doc_id,
                       list({{'s': span_start, 'e': span_end}}) AS sps
                FROM spans GROUP BY doc_id
            ),
            tk AS (
                SELECT d.doc_id, string_split(d.text, ' ') AS t, ds.sps
                FROM documents d LEFT JOIN doc_spans ds USING (doc_id)
            ),
            kept AS (
                SELECT doc_id, t,
                       CASE WHEN sps IS NULL THEN t
                            ELSE list_filter(t, (x, i) ->
                                len(list_filter(sps, sp ->
                                    i >= sp.s AND i <= sp.e)) = 0)
                       END AS k
                FROM tk
            )
            SELECT doc_id,
                   coalesce(array_to_string(k, ' '), '') AS clean_text,
                   (len(t) - len(k))::BIGINT AS n_dropped_tokens
            FROM kept
        """,
        # ------------------------------------------- curation surface (r4)
        "label_horizon_events": """
            SELECT event_id, user_id,
                   count(CASE WHEN event_type = 'purchase' THEN 1 END)
                     OVER w AS label_n,
                   (count(CASE WHEN event_type = 'purchase' THEN 1 END)
                     OVER w) > 0 AS label
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                         RANGE BETWEEN 1 FOLLOWING AND 3600000000 FOLLOWING)
        """,
        "sample_topn_per_group": """
            SELECT event_id, event_type FROM (
              SELECT event_id, event_type,
                     row_number() OVER (
                        PARTITION BY event_type
                        ORDER BY md5('topn-v1' || event_id::VARCHAR), event_id
                     ) AS rn
              FROM events)
            WHERE rn <= 20
        """,
        "negative_samples_docs": """
            WITH r AS (
              SELECT doc_id,
                     md5('neg' || chr(31) || CAST(doc_id AS VARCHAR))
                       AS ring,
                     (list_sum(list_transform(range(1, 5), i ->
                        ((strpos('0123456789abcdef',
                                 substr(md5('neg' || chr(31) ||
                                        CAST(doc_id AS VARCHAR)), i, 1))
                          - 1)::BIGINT << (4 * (4 - i)))))::BIGINT % 8)
                       AS bkt
              FROM documents
            ),
            ranked AS (
              SELECT doc_id, bkt,
                     row_number() OVER (PARTITION BY bkt
                                        ORDER BY ring, doc_id) AS rnk,
                     count(*) OVER (PARTITION BY bkt) AS cnt
              FROM r
            ),
            pairs AS (
              SELECT doc_id, bkt, rnk, cnt,
                     unnest([1, 2, 3]) AS neg_rank
              FROM ranked
            )
            SELECT p.doc_id, p.neg_rank, r2.doc_id AS neg_id
            FROM (SELECT *, ((rnk - 1 + neg_rank) % cnt) + 1 AS target
                  FROM pairs WHERE neg_rank <= cnt - 1) p
            JOIN ranked r2 ON p.bkt = r2.bkt AND p.target = r2.rnk
            WHERE r2.doc_id <> p.doc_id
        """,
        "curriculum_docs": """
            WITH b AS (
              SELECT [round(quantile_cont(CAST(n_chars AS DOUBLE), 0.25), 4),
                      round(quantile_cont(CAST(n_chars AS DOUBLE), 0.50), 4),
                      round(quantile_cont(CAST(n_chars AS DOUBLE), 0.75), 4)]
                     AS bnds
              FROM documents
            )
            SELECT doc_id, CAST(n_chars AS DOUBLE) AS score,
                   len(list_filter(b.bnds,
                       x -> x < CAST(n_chars AS DOUBLE)))::BIGINT AS bucket,
                   md5(CAST(doc_id AS VARCHAR)) AS order_key
            FROM documents, b
        """,
        "domain_mixture_docs": """
            WITH per AS (
              SELECT lang, source, count(*)::BIGINT AS n_rows,
                     sum(n_chars)::DOUBLE AS size
              FROM documents GROUP BY 1, 2
            )
            SELECT lang, source, n_rows, round(size, 1) AS size,
                   round(pow(size, 0.3) / sum(pow(size, 0.3)) OVER (), 6)
                     + 0.0 AS weight,
                   round(1000000.0 * (pow(size, 0.3) / sum(pow(size, 0.3)) OVER ())
                         / size, 4) + 0.0 AS epochs
            FROM per
        """,
        "materialize_mixture_docs": f"""
            WITH per AS (
              SELECT lang, source, sum(n_chars)::DOUBLE AS size
              FROM documents GROUP BY 1, 2
            ),
            mix AS (
              SELECT lang, source,
                     round(1000000.0 * (pow(size, 0.3)
                           / sum(pow(size, 0.3)) OVER ()) / size, 4)
                       AS epochs
              FROM per
            ),
            d AS (
              SELECT doc_id, d0.lang, d0.source, epochs,
                     md5('mix-v1' || doc_id::VARCHAR) AS h
              FROM documents d0
              JOIN mix ON d0.lang = mix.lang AND d0.source = mix.source
            ),
            c AS (
              SELECT doc_id, lang, source,
                     (floor(epochs)::BIGINT
                      + CASE WHEN ({_KMV_FRAC}) < epochs - floor(epochs)
                             THEN 1 ELSE 0 END) AS n
              FROM d
            )
            SELECT doc_id, lang, source,
                   unnest(range(0, n)) AS epoch_idx
            FROM c WHERE n > 0
        """,
        # hashed-bigram DSIR: bucket = (first 16 md5 bits) mod 4096, the
        # same positional hex arithmetic as the simhash oracles
        "importance_weights_docs": """
            WITH d AS (
              SELECT doc_id, string_split(trim(text), ' ') AS ws,
                     (lang = 'en')::INT AS is_t
              FROM documents
            ), g AS (
              SELECT doc_id, is_t,
                     unnest(list_transform(range(1, len(ws)),
                            i -> ws[i] || ' ' || ws[i+1])) AS gram
              FROM d
            ), b AS (
              SELECT doc_id, is_t,
                     (list_sum(list_transform(range(1, 5), i ->
                        ((strpos('0123456789abcdef', substr(md5(gram), i, 1)) - 1)::BIGINT
                         << (4 * (4 - i)))))::BIGINT % 4096) AS bucket
              FROM g
            ), c AS (
              SELECT bucket, count(*)::DOUBLE AS n_raw,
                     sum(is_t)::DOUBLE AS n_target
              FROM b GROUP BY 1
            ), w AS (
              SELECT bucket,
                     ln((n_target + 1.0) / (sum(n_target) OVER () + 4096.0))
                   - ln((n_raw + 1.0) / (sum(n_raw) OVER () + 4096.0)) AS log_w
              FROM c
            )
            SELECT b.doc_id, round(avg(w.log_w), 4) + 0.0 AS importance
            FROM b JOIN w USING (bucket) GROUP BY 1
        """,
        # ------------------------------------------- encoder surface (r4)
        "target_encode_events": """
            SELECT event_id,
                   count(*) OVER w AS te_n,
                   round((coalesce(sum(CASE WHEN value > 100 THEN 1.0
                                             ELSE 0.0 END) OVER w, 0)
                          + 20.0 * 0.3) / (count(*) OVER w + 20.0), 6)
                     + 0.0 AS te
            FROM events
            WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts)
                         RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        """,
        "frequency_encode_events": """
            SELECT event_id, event_type,
                   count(*) OVER (PARTITION BY event_type) AS freq_n,
                   round(count(*) OVER (PARTITION BY event_type)::DOUBLE
                         / count(*) OVER (), 6) + 0.0 AS freq
            FROM events
        """,
        "zscore_value_by_type": """
            SELECT event_id,
                   round(CASE WHEN stddev_pop(value) OVER tw = 0 THEN 0.0
                         ELSE (value - avg(value) OVER tw)
                              / stddev_pop(value) OVER tw END, 4)
                     + 0.0 AS z
            FROM events
            WINDOW tw AS (PARTITION BY event_type)
        """,
        "mutual_info_type_value": """
            WITH c AS (
              SELECT event_type AS x, (value > 100) AS y,
                     count(*)::DOUBLE AS n
              FROM events GROUP BY 1, 2
            ), p AS (
              SELECT n / sum(n) OVER () AS pxy,
                     sum(n) OVER (PARTITION BY x) / sum(n) OVER () AS px,
                     sum(n) OVER (PARTITION BY y) / sum(n) OVER () AS py
              FROM c
            )
            SELECT round(sum(pxy * ln(pxy / (px * py))), 6) + 0.0 AS mi
            FROM p
        """,
        # ---- training-example assembly over transcripts (chatprep, r4):
        # same parquet fixture as the flagship oracles; chr(10/30/31) keep
        # the byte-exact separators out of SQL string literals.
        "chat_render": f"""
            WITH t AS (SELECT * FROM read_parquet('{_tr_dir()}/transcripts.parquet')),
            seg AS (
              SELECT conv_id, turn_idx,
                     '<|' || role ||
                     CASE WHEN tool IS NOT NULL THEN ':' || tool ELSE '' END
                     || '|>' || chr(10) || text || chr(10) AS seg
              FROM t
            )
            SELECT conv_id, count(*)::BIGINT AS n_turns,
                   string_agg(seg, '' ORDER BY turn_idx) AS rendered,
                   length(string_agg(seg, '' ORDER BY turn_idx))::BIGINT
                     AS rendered_len
            FROM seg GROUP BY conv_id
        """,
        "chat_loss_spans": f"""
            WITH t AS (SELECT * FROM read_parquet('{_tr_dir()}/transcripts.parquet')),
            x AS (
              SELECT conv_id, turn_idx, role,
                     (2 + length(role)
                        + CASE WHEN tool IS NOT NULL
                               THEN length(tool) + 1 ELSE 0 END
                        + 3)::BIGINT AS hlen,
                     length(text)::BIGINT AS tlen
              FROM t
            ), y AS (
              SELECT conv_id, turn_idx, role, hlen, tlen,
                     COALESCE(sum(hlen + tlen + 1) OVER (
                       PARTITION BY conv_id ORDER BY turn_idx
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ), 0)::BIGINT AS seg_start
              FROM x
            )
            SELECT conv_id, turn_idx, role, seg_start,
                   (seg_start + hlen)::BIGINT AS text_start,
                   (seg_start + hlen + tlen + 1)::BIGINT AS text_end,
                   role = 'assistant' AS loss
            FROM y
        """,
        "conv_prefix_dedup": f"""
            WITH t AS (SELECT * FROM read_parquet('{_tr_dir()}/transcripts.parquet')),
            p AS (
              SELECT conv_id, count(*)::BIGINT AS n_prefix_turns,
                     md5(string_agg(role || chr(31) || text, chr(30)
                                    ORDER BY turn_idx)) AS prefix_fp
              FROM t WHERE turn_idx < 4 GROUP BY conv_id
            )
            SELECT conv_id, n_prefix_turns, prefix_fp,
                   min(conv_id) OVER (PARTITION BY prefix_fp)
                     AS canonical_conv,
                   conv_id <> min(conv_id) OVER (PARTITION BY prefix_fp)
                     AS is_dup
            FROM p
        """,
        "validate_turns": f"""
            WITH t AS (SELECT * FROM read_parquet('{_tr_dir()}/transcripts.parquet')),
            x AS (
              SELECT conv_id, turn_idx,
                     ts >= COALESCE(lag(ts) OVER (
                       PARTITION BY conv_id ORDER BY turn_idx), ts) AS ts_ok,
                     CASE WHEN role = 'tool' THEN TRUE
                          ELSE role <> COALESCE(lag(role) OVER (
                            PARTITION BY conv_id, role <> 'tool'
                            ORDER BY turn_idx), '') END AS alt_ok
              FROM t
            ), a AS (
              SELECT conv_id, count(*)::BIGINT AS n_turns,
                     (min(turn_idx) = 0
                      AND max(turn_idx) = count(*) - 1
                      AND count(DISTINCT turn_idx) = count(*))
                       AS idx_contiguous,
                     bool_and(alt_ok) AS roles_alternate,
                     bool_and(ts_ok) AS ts_monotone
              FROM x GROUP BY conv_id
            )
            SELECT *, idx_contiguous AND roles_alternate AND ts_monotone AS ok
            FROM a
        """,
        "context_budget": f"""
            WITH t AS (SELECT * FROM read_parquet('{_tr_dir()}/transcripts.parquet')),
            x AS (
              SELECT conv_id, turn_idx,
                     (ceil(length(text) / 4.0) + 4)::BIGINT AS est_tokens
              FROM t
            )
            SELECT conv_id, turn_idx, est_tokens,
                   sum(est_tokens) OVER (
                     PARTITION BY conv_id ORDER BY turn_idx DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   )::BIGINT AS cum_from_end,
                   sum(est_tokens) OVER (
                     PARTITION BY conv_id ORDER BY turn_idx DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) <= 256 AS keep
            FROM x
        """,
        # Efraimidis-Spirakis weighted sample: the uniform is the same
        # exact-binary-fraction nibble sum as the KMV sketch (bitwise
        # equal across engines), the 2^-33 guard term dodges ln(0).
        "sample_weighted_docs": f"""
            WITH b AS (
              SELECT doc_id, length(text)::DOUBLE AS w,
                     md5('wsample-v1' || doc_id::VARCHAR) AS h
              FROM documents
            ), k AS (
              SELECT doc_id,
                     -ln(({_KMV_FRAC}) + power(2.0, -33)) / w AS key
              FROM b WHERE w > 0
            )
            SELECT doc_id, round(key, 6) + 0.0 AS es_key
            FROM k ORDER BY key, doc_id LIMIT 100
        """,
        "boilerplate_assistant_turns": f"""
            WITH t AS (SELECT * FROM read_parquet('{_tr_dir()}/transcripts.parquet')),
            u AS (
              SELECT conv_id, role, text FROM t
              UNION ALL
              SELECT conv_id || '_r', role, text FROM t WHERE turn_idx < 2
            )
            SELECT md5(text) AS text_fp,
                   count(DISTINCT conv_id)::BIGINT AS n_convs,
                   count(*)::BIGINT AS n_occurrences,
                   min(text) AS text
            FROM u WHERE role = 'assistant'
            GROUP BY md5(text)
            HAVING count(DISTINCT conv_id) >= 2
        """,
        "conv_profile": f"""
            WITH t AS (SELECT * FROM read_parquet('{_tr_dir()}/transcripts.parquet')),
            x AS (
              SELECT conv_id, role, tool, length(text)::BIGINT AS chars, ts,
                     (epoch_us(ts) - epoch_us(lag(ts) OVER (
                        PARTITION BY conv_id ORDER BY turn_idx)))
                       / 1000000.0 AS gap
              FROM t
            )
            SELECT conv_id, count(*)::BIGINT AS n_turns,
                   (1 + sum(CASE WHEN gap > 1800.0 THEN 1 ELSE 0 END))::BIGINT
                     AS n_sessions,
                   sum(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
                     AS n_tool_calls,
                   sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)::BIGINT
                     AS n_assistant_turns,
                   round(sum(CASE WHEN role = 'assistant' THEN chars ELSE 0 END)::DOUBLE
                         / sum(chars)::DOUBLE, 6) + 0.0 AS assistant_char_frac,
                   round((epoch_us(max(ts)) - epoch_us(min(ts))) / 1000000.0, 4)
                     + 0.0 AS duration_s,
                   round(avg(gap), 4) + 0.0 AS mean_gap_s
            FROM x GROUP BY conv_id
        """,
        "hot_conversations": f"""
            SELECT conv_id, count(*)::BIGINT AS n_rows
            FROM read_parquet('{_tr_dir()}/transcripts.parquet')
            GROUP BY conv_id
            HAVING count(*) >= greatest(1, ceil(0.05 * (
                SELECT count(*)
                FROM read_parquet('{_tr_dir()}/transcripts.parquet'))))
        """,
        "heavy_users_events": """
            SELECT user_id::VARCHAR AS user_id, count(*)::BIGINT AS n_rows
            FROM events
            GROUP BY 1
            HAVING count(*) >= greatest(1, ceil(0.008 * (
                SELECT count(*) FROM events)))
        """,
        "sft_pairs": f"""
            WITH t AS (SELECT * FROM read_parquet('{_tr_dir()}/transcripts.parquet')),
            seg AS (
              SELECT conv_id, turn_idx, role, text,
                     '<|' || role ||
                     CASE WHEN tool IS NOT NULL THEN ':' || tool ELSE '' END
                     || '|>' || chr(10) || text || chr(10) AS seg
              FROM t
            ), x AS (
              SELECT conv_id, turn_idx, role, text,
                     count(*) OVER w::BIGINT AS n_prompt_turns,
                     string_agg(seg, '') OVER w AS prompt
              FROM seg
              WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx
                           ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING)
            )
            SELECT conv_id, turn_idx, n_prompt_turns, prompt,
                   text AS response
            FROM x WHERE role = 'assistant' AND turn_idx > 0
        """,
        "tool_chains": f"""
            WITH t AS (SELECT * FROM read_parquet('{_tr_dir()}/transcripts.parquet')),
            pc AS (
              SELECT conv_id,
                     string_agg(tool, '>' ORDER BY turn_idx) AS chain,
                     count(*)::BIGINT AS n_calls
              FROM t WHERE tool IS NOT NULL GROUP BY conv_id
            )
            SELECT chain, min(n_calls)::BIGINT AS n_calls,
                   count(DISTINCT conv_id)::BIGINT AS n_convs
            FROM pc GROUP BY chain
        """,
        "conv_near_dup_minhash": _minhash_pairs_sql(f"""
            WITH t0 AS (SELECT * FROM read_parquet('{_tr_dir()}/transcripts.parquet')),
            t AS (
              SELECT * FROM t0
              UNION ALL
              SELECT conv_id || '_v2' AS conv_id, turn_idx, role, text, tool, ts
              FROM t0 WHERE conv_id LIKE '%00' AND turn_idx <> 3
            ),
            seg AS (
              SELECT conv_id, turn_idx,
                     '<|' || role ||
                     CASE WHEN tool IS NOT NULL THEN ':' || tool ELSE '' END
                     || '|>' || chr(10) || text || chr(10) AS seg
              FROM t
            )
            SELECT conv_id AS doc_id,
                   string_agg(seg, '' ORDER BY turn_idx) AS text
            FROM seg GROUP BY conv_id
        """),
        "repair_turns": f"""
            WITH t0 AS (SELECT * FROM read_parquet('{_tr_dir()}/transcripts.parquet')),
            broken AS (
              SELECT conv_id, turn_idx, role, text, tool, ts
              FROM t0 WHERE turn_idx % 11 <> 5
              UNION ALL
              SELECT conv_id, turn_idx, role, text || ' (edited)', tool,
                     ts + INTERVAL 1 SECOND
              FROM t0 WHERE turn_idx % 7 = 0
            ),
            keep AS (
              SELECT *,
                     row_number() OVER (
                       PARTITION BY conv_id, turn_idx
                       ORDER BY ts DESC, md5(concat_ws(chr(31), coalesce(role, ''), coalesce(tool, ''), coalesce(text, ''))) DESC
                     ) AS rk,
                     count(*) OVER (PARTITION BY conv_id, turn_idx) > 1
                       AS was_dup
              FROM broken
            )
            SELECT conv_id,
                   (row_number() OVER (
                      PARTITION BY conv_id
                      ORDER BY turn_idx, ts, md5(concat_ws(chr(31), coalesce(role, ''), coalesce(tool, ''), coalesce(text, '')))
                    ) - 1)::BIGINT AS turn_idx,
                   turn_idx AS orig_turn_idx, role, text, was_dup,
                   epoch_us(ts) AS ts_us
            FROM keep WHERE rk = 1
        """,
        "preference_pairs": f"""
            WITH t0 AS (SELECT * FROM read_parquet('{_tr_dir()}/transcripts.parquet')),
            t AS (
              SELECT * FROM t0
              UNION ALL
              SELECT conv_id || '_alt' AS conv_id, turn_idx, role,
                     CASE WHEN turn_idx >= 2
                          THEN text || ' ' || text ELSE text END AS text,
                     tool, ts
              FROM t0 WHERE conv_id LIKE '%0'
            ),
            p AS (
              SELECT conv_id,
                     md5(string_agg(role || chr(31) || text, chr(30)
                                    ORDER BY turn_idx)) AS prefix_fp
              FROM t WHERE turn_idx < 2 GROUP BY conv_id
            ),
            r AS (
              -- (turn_idx, text) lexicographic min, matching the
              -- engine's F.min(struct) exactly even when duplicate
              -- turn_idx values tie (arg_min's tie pick is arbitrary)
              SELECT conv_id, text AS response FROM (
                SELECT conv_id, text,
                       row_number() OVER (PARTITION BY conv_id
                                          ORDER BY turn_idx, text) AS rn
                FROM t WHERE role = 'assistant' AND turn_idx >= 2
              ) WHERE rn = 1
            ),
            c AS (
              SELECT p.conv_id, p.prefix_fp, r.response,
                     CAST(length(r.response) AS DOUBLE) AS score
              FROM p JOIN r ON p.conv_id = r.conv_id
            ),
            g AS (
              SELECT *,
                     row_number() OVER (PARTITION BY prefix_fp
                       ORDER BY score DESC, conv_id DESC) AS rn_hi,
                     row_number() OVER (PARTITION BY prefix_fp
                       ORDER BY score ASC, conv_id ASC) AS rn_lo,
                     count(*) OVER (PARTITION BY prefix_fp)::BIGINT
                       AS n_candidates
              FROM c
            )
            SELECT hi.prefix_fp, hi.n_candidates,
                   hi.conv_id AS chosen_conv,
                   hi.response AS chosen_response,
                   hi.score AS chosen_score,
                   lo.conv_id AS rejected_conv,
                   lo.response AS rejected_response,
                   lo.score AS rejected_score
            FROM (SELECT * FROM g WHERE rn_hi = 1) hi
            JOIN (SELECT * FROM g WHERE rn_lo = 1) lo
              ON hi.prefix_fp = lo.prefix_fp
            WHERE hi.n_candidates >= 2 AND hi.score > lo.score
        """,
        "psi_value_by_split": """
            WITH s AS (
              SELECT CASE WHEN substr(md5('split-v1' || user_id::VARCHAR), 1, 4) < 'cccc' THEN 'train'
                          WHEN substr(md5('split-v1' || user_id::VARCHAR), 1, 4) < 'e666' THEN 'val'
                          ELSE 'test' END AS split,
                     value::DOUBLE AS v
              FROM events
            ), bounds AS (SELECT min(v) AS lo, max(v) AS hi FROM s),
            binned AS (
              SELECT split,
                     CASE WHEN (hi - lo) / 10.0 = 0 THEN 0
                          ELSE least(floor((v - lo) / ((hi - lo) / 10.0))::INT, 9)
                     END AS bin
              FROM s CROSS JOIN bounds
            ),
            per AS (SELECT split, bin, count(*)::DOUBLE AS n FROM binned GROUP BY 1, 2),
            frac AS (SELECT split, bin, n / sum(n) OVER (PARTITION BY split) AS frac FROM per),
            grid AS (
              SELECT split, bin
              FROM (SELECT DISTINCT split FROM frac WHERE split <> 'train')
              CROSS JOIN (SELECT unnest(range(0, 10))::INT AS bin)
            ),
            base AS (SELECT bin, frac AS p FROM frac WHERE split = 'train'),
            oth AS (SELECT split, bin, frac AS q FROM frac WHERE split <> 'train')
            SELECT g.split,
                   round(sum((coalesce(p, 0) + 1e-4 - (coalesce(q, 0) + 1e-4))
                             * ln((coalesce(p, 0) + 1e-4) / (coalesce(q, 0) + 1e-4))),
                         4) + 0.0 AS psi
            FROM grid g LEFT JOIN base USING (bin) LEFT JOIN oth USING (split, bin)
            GROUP BY 1
        """,
        # --- r5 second wave ---
        "interval_overlap_sessions": """
            WITH af AS (
              SELECT user_id, ts, event_id,
                     CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                               OR (epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) / 1000000.0 > 21600.0
                          THEN 1 ELSE 0 END AS flag
              FROM events WHERE event_type IN ('view', 'click')
            ),
            a AS (
              SELECT user_id, ts,
                     (sum(flag) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1)::BIGINT AS a_session
              FROM af
            ),
            ai AS (SELECT user_id, a_session, min(ts) AS a_start, max(ts) AS a_end
                   FROM a GROUP BY 1, 2),
            bf AS (
              SELECT user_id, ts, event_id,
                     CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                               OR (epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) / 1000000.0 > 21600.0
                          THEN 1 ELSE 0 END AS flag
              FROM events WHERE event_type IN ('purchase', 'error')
            ),
            b AS (
              SELECT user_id, ts,
                     (sum(flag) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1)::BIGINT AS b_session
              FROM bf
            ),
            bi AS (SELECT user_id, b_session, min(ts) AS b_start, max(ts) AS b_end
                   FROM b GROUP BY 1, 2)
            SELECT ai.user_id, a_session, b_session,
                   epoch_us(a_start) AS a_start_us, epoch_us(a_end) AS a_end_us,
                   epoch_us(b_start) AS b_start_us, epoch_us(b_end) AS b_end_us
            FROM ai JOIN bi ON ai.user_id = bi.user_id
                           AND a_start <= b_end AND b_start <= a_end
        """,
        "embedding_covariance": """
            WITH x AS (
              SELECT vec_id,
                     unnest(embedding::DOUBLE[]) AS v,
                     unnest(range(0, len(embedding))) AS i
              FROM embeddings
            )
            SELECT a.i::BIGINT AS i, b.i::BIGINT AS j,
                   round((sum(a.v * b.v) - count(*) * avg(a.v) * avg(b.v))
                         / (count(*) - 1), 4) + 0.0 AS cov
            FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
            GROUP BY 1, 2
        """,
        "decontaminate_semantic": f"""
            WITH e AS ({_EMB}),
            hits AS (
              SELECT DISTINCT t.vec_id
              FROM e t JOIN e q
                ON t.vec_id % 41 <> 0 AND q.vec_id % 41 = 0
               AND {_cos('t.v', 'q.v')} >= 0.35
            )
            SELECT t.vec_id, t.label::BIGINT AS label
            FROM e t
            WHERE t.vec_id % 41 <> 0
              AND t.vec_id NOT IN (SELECT vec_id FROM hits)
        """,
        "role_transitions": f"""
            WITH t AS (SELECT * FROM read_parquet('{_tr_dir()}/transcripts.parquet')),
            pairs AS (
              SELECT role AS state_from,
                     lead(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS state_to
              FROM t
            ),
            c AS (SELECT state_from, state_to, count(*)::BIGINT AS n
                  FROM pairs WHERE state_to IS NOT NULL GROUP BY 1, 2)
            SELECT state_from, state_to, n,
                   round(n / sum(n) OVER (PARTITION BY state_from), 4) + 0.0 AS p
            FROM c
        """,
        "select_budget_docs": """
            WITH s AS (
              SELECT doc_id,
                     length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
                       / length(text) AS score,
                     n_chars::DOUBLE AS cost
              FROM documents WHERE length(text) > 0
            ),
            b AS (SELECT 0.3 * sum(cost) AS budget FROM s),
            r AS (
              SELECT doc_id, score, cost,
                     sum(cost) OVER (ORDER BY score DESC, doc_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM s
            )
            SELECT doc_id, round(score, 4) + 0.0 AS score, cost::BIGINT AS cost
            FROM r, b WHERE r.cum <= b.budget
        """,
        "epoch_shard_docs": """
            SELECT doc_id,
                   substr(md5('epoch1:' || doc_id::VARCHAR), 1, 16) AS sort_key,
                   ('0x' || substr(md5('epoch1:' || doc_id::VARCHAR), 17, 8))::BIGINT
                     % 16 AS shard
            FROM documents
        """,
        "kcore_docs": _kcore_oracle_sql(rounds=4, k=4),
        "ann_srp_topk": _srp_oracle_sql(k=5, bits=8),
        "trimmed_mean_value_by_user": """
            WITH r AS (
              SELECT user_id, value,
                     row_number() OVER (PARTITION BY user_id
                       ORDER BY value, event_id) AS rn,
                     count(*) OVER (PARTITION BY user_id) AS n
              FROM events
            )
            SELECT user_id, count(*)::BIGINT AS n_kept,
                   round(avg(value), 4) + 0.0 AS trimmed_mean
            FROM r
            WHERE rn > floor(n * 0.1) AND rn <= n - floor(n * 0.1)
            GROUP BY 1
        """,
        "collapse_bursts_events": """
            WITH r AS (
              SELECT event_id, user_id, ts,
                     CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) IS NULL
                               OR epoch_us(ts) - lag(epoch_us(ts))
                                  OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id)
                                  >= 3600000000
                          THEN 1 ELSE 0 END AS head
              FROM events
            ),
            b AS (
              SELECT event_id, user_id, ts, head,
                     sum(head) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - 1 AS burst_id
              FROM r
            )
            SELECT event_id, user_id, epoch_us(ts) AS ts_us,
                   burst_id::BIGINT AS burst_id
            FROM b WHERE head = 1
        """,
        "bootstrap_sample_docs": """
            WITH n AS (SELECT count(*) AS c FROM documents),
            d AS (
              SELECT i AS draw_id,
                     ('0x' || substr(md5('boot-v1:' || i::VARCHAR), 1, 15))
                       ::BIGINT % (SELECT c FROM n) AS doc_id
              FROM (SELECT unnest(range(0, 1000)) AS i)
            )
            SELECT draw_id, d.doc_id, lang, source
            FROM d JOIN documents USING (doc_id)
        """,
        "dq_checks_orders": """
            SELECT 'orderkey_unique' AS name, 'unique' AS kind,
                   (count(*) - count(DISTINCT o_orderkey))::BIGINT AS n_violations,
                   count(*) = count(DISTINCT o_orderkey) AS passed
            FROM orders
            UNION ALL
            SELECT 'custkey_not_null', 'not_null',
                   count(*) FILTER (WHERE o_custkey IS NULL)::BIGINT,
                   count(*) FILTER (WHERE o_custkey IS NULL) = 0
            FROM orders
            UNION ALL
            SELECT 'status_accepted', 'accepted_values',
                   count(*) FILTER (WHERE o_orderstatus IS NOT NULL
                                      AND o_orderstatus NOT IN ('O', 'F'))::BIGINT,
                   count(*) FILTER (WHERE o_orderstatus IS NOT NULL
                                      AND o_orderstatus NOT IN ('O', 'F')) = 0
            FROM orders
            UNION ALL
            SELECT 'totalprice_range', 'range',
                   count(*) FILTER (WHERE o_totalprice IS NOT NULL
                                      AND (o_totalprice < 0.0
                                           OR o_totalprice > 400000.0))::BIGINT,
                   count(*) FILTER (WHERE o_totalprice IS NOT NULL
                                      AND (o_totalprice < 0.0
                                           OR o_totalprice > 400000.0)) = 0
            FROM orders
            UNION ALL
            SELECT 'priority_regex', 'regex',
                   count(*) FILTER (WHERE o_orderpriority IS NOT NULL
                                      AND NOT regexp_matches(o_orderpriority,
                                                             '^[1-5]-'))::BIGINT,
                   count(*) FILTER (WHERE o_orderpriority IS NOT NULL
                                      AND NOT regexp_matches(o_orderpriority,
                                                             '^[1-5]-')) = 0
            FROM orders
            UNION ALL
            SELECT 'custkey_fk', 'fk',
                   count(*) FILTER (WHERE o_custkey IS NOT NULL
                                      AND o_custkey NOT IN
                                          (SELECT c_custkey FROM customer
                                           WHERE c_custkey IS NOT NULL))::BIGINT,
                   count(*) FILTER (WHERE o_custkey IS NOT NULL
                                      AND o_custkey NOT IN
                                          (SELECT c_custkey FROM customer
                                           WHERE c_custkey IS NOT NULL)) = 0
            FROM orders
        """,
        "multimodal_resize_image": """
            WITH g AS (
              SELECT doc_id, unnest(range(0, 8)) AS xo FROM documents
            )
            SELECT doc_id, 8::BIGINT AS out_w, 8::BIGINT AS out_h,
                   round(avg(((doc_id + 17 * ((xo * (8 + doc_id % 8)) // 8))
                              % 256)::DOUBLE), 4) + 0.0 AS mean_luma
            FROM g GROUP BY 1
        """,
        "multimodal_audio_features": """
            WITH p AS (
              SELECT doc_id, 64 + doc_id % 64 AS n, 1 + doc_id % 5 AS k
              FROM documents
            ),
            s AS (SELECT doc_id, n, k, unnest(range(0, n)) AS i FROM p),
            sv AS (
              SELECT doc_id, n, i,
                     ((((doc_id * 31 + i * k) % 256) - 128) * 256)::DOUBLE AS v
              FROM s
            ),
            z AS (
              SELECT doc_id, n, v,
                     lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
              FROM sv
            )
            SELECT doc_id, count(*)::BIGINT AS n_samples,
                   8000::BIGINT AS sample_rate, 1::BIGINT AS n_channels,
                   round(sqrt(avg(v * v)), 4) + 0.0 AS rms,
                   count(*) FILTER (WHERE v * pv < 0)::BIGINT
                     AS zero_crossings
            FROM z GROUP BY 1
        """,
        "twa_value_by_user": """
            WITH r AS (
              SELECT user_id, value,
                     epoch_us(ts) AS t,
                     lead(epoch_us(ts)) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) - epoch_us(ts) AS dur
              FROM events
            )
            SELECT user_id, count(*)::BIGINT AS n_obs,
                   round(CASE WHEN max(t) > min(t)
                              THEN sum(value * dur) / (max(t) - min(t))
                              ELSE min(value) END, 4) + 0.0 AS twa
            FROM r GROUP BY 1
        """,
        "assoc_rules_events": """
            WITH base AS (
              SELECT DISTINCT user_id AS e, event_type AS i
              FROM events WHERE event_type IS NOT NULL
            ),
            tot AS (SELECT count(DISTINCT e)::DOUBLE AS t FROM base),
            itemn AS (SELECT i, count(*)::BIGINT AS n FROM base GROUP BY 1),
            pr AS (
              SELECT a.i AS antecedent, b.i AS consequent,
                     count(*)::BIGINT AS n_both
              FROM base a JOIN base b ON a.e = b.e AND a.i <> b.i
              GROUP BY 1, 2
            )
            SELECT antecedent, consequent, n_both,
                   round(n_both / t, 4) + 0.0 AS support,
                   round(n_both / na.n, 4) + 0.0 AS confidence,
                   round(n_both * t / (na.n * nc.n), 4) + 0.0 AS lift
            FROM pr
            CROSS JOIN tot
            JOIN itemn na ON na.i = pr.antecedent
            JOIN itemn nc ON nc.i = pr.consequent
        """,
        "triangle_counts_docs": """
            WITH ids AS (SELECT doc_id FROM documents),
            raw AS (
              SELECT doc_id AS s, doc_id + 1 AS t FROM ids
              UNION ALL SELECT doc_id, doc_id + 2 FROM ids
              UNION ALL SELECT doc_id, doc_id - doc_id % 10 FROM ids
            ),
            e0 AS (SELECT s, t FROM raw WHERE t IN (SELECT doc_id FROM ids)),
            can AS (
              SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
              FROM e0 WHERE s <> t
            ),
            tri AS (
              SELECT e1.a AS x, e1.b AS y, e2.b AS z
              FROM can e1
              JOIN can e2 ON e2.a = e1.b
              JOIN can e3 ON e3.a = e1.a AND e3.b = e2.b
            )
            SELECT node::BIGINT AS node, count(*)::BIGINT AS n_triangles
            FROM (SELECT unnest([x, y, z]) AS node FROM tri)
            GROUP BY 1
        """,
        "quality_linear_score": """
            WITH w AS (
              SELECT i::BIGINT AS idx,
                     (('0x' || substr(md5('w-v1:' || i::VARCHAR), 1, 8))::BIGINT
                      / 4294967296.0) * 2 - 1 AS w
              FROM (SELECT unnest(range(0, 64)) AS i)
            ),
            f AS (
              SELECT event_id,
                     ('0x' || substr(md5('fh-v1' || 'event_type' || '='
                                         || event_type), 1, 8))::BIGINT % 64 AS idx,
                     CASE WHEN substr(md5('fh-v1' || 'event_type' || '='
                                          || event_type), 9, 1) < '8'
                          THEN 1 ELSE -1 END AS sign
              FROM events WHERE event_type IS NOT NULL
              UNION ALL
              SELECT event_id,
                     ('0x' || substr(md5('fh-v1' || 'user_id' || '='
                                         || user_id::VARCHAR), 1, 8))::BIGINT % 64 AS idx,
                     CASE WHEN substr(md5('fh-v1' || 'user_id' || '='
                                          || user_id::VARCHAR), 9, 1) < '8'
                          THEN 1 ELSE -1 END AS sign
              FROM events WHERE user_id IS NOT NULL
            ),
            c AS (SELECT event_id, sum(sign * w.w) AS dot
                  FROM f JOIN w USING (idx) GROUP BY 1)
            SELECT e.event_id,
                   round(1.0 / (1.0 + exp(-(0.25 + coalesce(c.dot, 0.0)))), 4)
                     + 0.0 AS score
            FROM (SELECT DISTINCT event_id FROM events) e
            LEFT JOIN c USING (event_id)
        """,
    })


def _alias_oracles(sql: dict[str, str]) -> dict[str, str]:
    """Queries whose oracle is another query's oracle verbatim — i.e. the
    Spark side must reproduce the SAME answer through a DIFFERENT physical
    strategy (the strongest kind of gate: incremental == full rebuild,
    stacked == chained)."""
    sql["conv_profile_incremental"] = sql["conv_profile"]
    sql["asof_join_events_skinny"] = sql["asof_join_events_stacked"]
    sql["asof_join_events_skinny_iv"] = sql["asof_join_events_stacked"]
    sql["asof_join_events_skinny_stream_form"] = sql["asof_join_events_stacked"]
    sql["asof_join_events_skinny_routed"] = sql["asof_join_events_stacked"]
    return sql
