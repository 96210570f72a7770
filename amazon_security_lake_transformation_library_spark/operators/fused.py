"""Fused as-of + per-turn feature block: the whole flagship query in ONE
window pass over one union.

Why
---
The modular composition (``features.build_turn_features`` then
``asof.asof_join``) costs TWO shuffles + TWO sorts of the wide transcript
frame: the feature window partitions by conv_id, then the as-of union
destroys that partitioning and the fill window re-exchanges everything.
At 10^12 turns the second exchange is pure waste — every as-of feature is
itself a last-non-null window expression, so it can share the feature
block's Exchange + Sort:

  union(probe turns, build feature rows)
    -> ONE Window over (conv_id) ORDER BY (ts, side, turn_idx)
         lag-like   = last(probe-only expr)  over (unbounded, -1)
         lead-like  = first(probe-only expr) over (1, unbounded)
         ffill/asof = last(non-null expr)    over (unbounded, 0)
         cumsums    = sum(probe-only ind)    over (unbounded, 0)
    -> keep probe rows

Build rows sort BEFORE probe rows at equal ts (side 0 < 1) giving ``<=``
as-of semantics (``strict=True`` uses side 2). WindowExec buffers one
entity-partition regardless of frame shape, so the following-frame lead
costs no extra memory over ``F.lead``.

Equality with the modular composition is property-tested
(tests/test_fused.py) — same values, half the shuffle bytes and half the
sort work, which is exactly the term that dominated the N->4N scaling gap
(BASELINE.md §4.2 finding 2: sort-bound WindowExec).

The salted variant applies the chunk-and-carry decomposition
(``salted`` module docstring) to the union frame, so even the as-of fill
of a hot conversation (10% of all rows) spreads across tasks.
:func:`asof_turn_features_hybrid` is the block's one front door: a
pre-pass hash count finds the hot entities; with none it returns the
plain plan, otherwise it routes hot entities down the salted chunks and
the long tail down one constant chunk — skew-proof without paying the
salted constant factor on unskewed data.

Reference analog: none — the reference has no joins or windows at all
(SURVEY.md §2.B); this is the north-rule engine core.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.timeops import epoch_seconds
from .salted import hot_entities

_SIDE = "__side"
_B = "__asof_payload"
_CHUNK = "__salt_chunk"
_CK = "__entity_hash"

# Leading 64-bit hash of the entity as the FIRST partition/sort key: long
# entity ids that share a byte prefix (conv_00000123 vs conv_00004567)
# defeat the sort's 8-byte prefix comparator and degrade the radix/prefix
# sort into per-pair full string compares — the hash key restores an
# almost-always-discriminating prefix. Same co-location (hash is a pure
# function of the entity), dropped before output.


def _union_frame(
    probe: DataFrame,
    build: DataFrame,
    entity: str,
    ts: str,
    build_cols: Sequence[str],
    strict: bool,
    asof_ts_col: str,
    shared: Sequence[str] = (),
) -> DataFrame:
    """Tag-union both sides with aligned schemas. ``build`` must be unique
    per (entity, ts) — same contract as ``asof.asof_join``. ``shared``
    names probe columns that ``build`` ALSO carries (e.g. an entity-level
    routing flag): they union through as real values on both sides instead
    of being nulled on the build side — required when the chunk expression
    reads them (build rows must land in the same chunk sequence as their
    entity's probe rows or the as-of carry would read the future)."""
    payload = F.struct(
        F.col(ts).alias(asof_ts_col), *[F.col(c) for c in build_cols]
    ).alias(_B)
    shared_set = set(shared)
    probe_rest = [c for c in probe.columns if c not in {entity, ts}]
    build_side = build.select(
        F.col(entity),
        F.col(ts),
        F.lit(2 if strict else 0).alias(_SIDE),
        payload,
        *[
            F.col(c) if c in shared_set
            else F.lit(None).cast(probe.schema[c].dataType).alias(c)
            for c in probe_rest
        ],
    )
    probe_side = probe.select(
        F.col(entity),
        F.col(ts),
        F.lit(1).alias(_SIDE),
        F.lit(None).cast(build_side.schema[_B].dataType).alias(_B),
        *[F.col(c) for c in probe_rest],
    )
    return build_side.unionByName(probe_side)


def _out_columns(
    probe: DataFrame, entity: str, ts: str, asof_ts_col: str,
    build_cols: Sequence[str],
) -> list[str]:
    return [
        entity, ts,
        *[c for c in probe.columns if c not in {entity, ts}],
        "text_len", "n_tokens", "prev_role", "prev_text_len", "next_role",
        "tool_ffill", "session_id", "user_turn_cum",
        asof_ts_col, *build_cols,
    ]


def asof_turn_features(
    transcripts: DataFrame,
    conv_features: DataFrame,
    gap_seconds: int = 1800,
    entity: str = "conv_id",
    ts: str = "ts",
    build_cols: Sequence[str] = ("feature_val",),
    strict: bool = False,
    asof_ts_col: str = "asof_ts",
    text_col: str = "text",
    role_col: str = "role",
    tool_col: str = "tool",
    turn_col: str = "turn_idx",
) -> DataFrame:
    """Flagship block, fused: identical output to
    ``asof_join(build_turn_features(transcripts), conv_features)`` with a
    single Exchange + Sort over probe+build rows."""
    u = _union_frame(
        transcripts, conv_features, entity, ts, list(build_cols), strict, asof_ts_col
    ).withColumn(_CK, F.xxhash64(F.col(entity)))
    w = Window.partitionBy(_CK, entity).orderBy(ts, _SIDE, turn_col)
    wp = w.rowsBetween(Window.unboundedPreceding, -1)
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    is_probe = F.col(_SIDE) != (2 if strict else 0)
    text_len = F.length(F.col(text_col))
    probe_ts = F.when(is_probe, F.col(ts))
    prev_ts = F.last(probe_ts, ignorenulls=True).over(wp)
    gap = epoch_seconds(F.col(ts)) - epoch_seconds(prev_ts)
    flag = F.when(
        is_probe & (prev_ts.isNull() | (gap > float(gap_seconds))), 1
    ).otherwise(0)
    user_ind = F.when(is_probe & (F.col(role_col) == "user"), 1).otherwise(0)

    # Frame discipline: every expression here is a RUNNING frame
    # (unboundedPreceding -> -1/0), which WindowExec streams in O(n).
    # An (1, unboundedFollowing) frame would hit Spark's per-row-rescan
    # UnboundedFollowingWindowFunctionFrame — O(partition^2), measured 3x
    # slower end-to-end — so next_role is NOT computed here; it becomes a
    # plain lead() AFTER the probe filter (below), where only probe rows
    # remain and the child is already partitioned AND sorted (no second
    # Exchange, no second Sort).
    filled = u.select(
        "*",
        text_len.alias("text_len"),
        F.size(F.split(F.trim(F.col(text_col)), r"\s+")).alias("n_tokens"),
        F.last(F.when(is_probe, F.col(role_col)), ignorenulls=True)
        .over(wp).alias("prev_role"),
        F.last(F.when(is_probe, text_len), ignorenulls=True)
        .over(wp).alias("prev_text_len"),
        F.last(F.col(tool_col), ignorenulls=True).over(wc).alias("tool_ffill"),
        (F.sum(flag).over(wc) - F.lit(1)).cast("long").alias("session_id"),
        F.sum(user_ind).over(wc).cast("long").alias("user_turn_cum"),
        F.last(F.col(_B), ignorenulls=True).over(wc).alias("__fill"),
    ).filter(is_probe)
    filled = filled.select(
        "*", F.lead(F.col(role_col)).over(w).alias("next_role")
    )

    fill = F.col("__fill")
    return filled.select(
        *_out_columns(transcripts, entity, ts, asof_ts_col, list(build_cols))[:-1 - len(build_cols)],
        fill[asof_ts_col].alias(asof_ts_col),
        *[fill[c].alias(c) for c in build_cols],
    )


def asof_turn_features_salted(
    transcripts: DataFrame,
    conv_features: DataFrame,
    chunk: Column,
    gap_seconds: int = 1800,
    entity: str = "conv_id",
    ts: str = "ts",
    build_cols: Sequence[str] = ("feature_val",),
    strict: bool = False,
    asof_ts_col: str = "asof_ts",
    text_col: str = "text",
    role_col: str = "role",
    tool_col: str = "tool",
    turn_col: str = "turn_idx",
    shared_cols: Sequence[str] = (),
) -> DataFrame:
    """Hot-entity-safe fused block: chunk-and-carry over the union frame,
    so lag/lead/ffill/sessionize AND the as-of fill of a hot conversation
    all spread across tasks. Same output as :func:`asof_turn_features`
    (property-tested); cost = ONE big-table shuffle on (entity, chunk) + a
    3-column probe-side pre-pass for session-break totals + a tiny carry
    frame (one row per chunk) + the join back.

    ``chunk`` must be an order-respecting function of ``ts`` per entity
    (e.g. ``salted.time_chunk``, or a per-entity conditional over it — see
    the hybrid) so that equal-ts build/probe ties never split across
    chunks; any non-ts columns it reads must be listed in ``shared_cols``
    and be present on BOTH inputs.
    """
    u = (
        _union_frame(
            transcripts, conv_features, entity, ts, list(build_cols), strict,
            asof_ts_col, shared=shared_cols,
        )
        .withColumn(_CHUNK, chunk)
        .withColumn(_CK, F.xxhash64(F.col(entity)))
    )

    w = Window.partitionBy(_CK, entity, _CHUNK).orderBy(ts, _SIDE, turn_col)
    wp = w.rowsBetween(Window.unboundedPreceding, -1)
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    is_probe = F.col(_SIDE) != (2 if strict else 0)
    text_len = F.length(F.col(text_col))
    user_ind = F.when(is_probe & (F.col(role_col) == "user"), 1).otherwise(0)

    # ---- pass 1: per-(entity, chunk) partials (the only big-table window)
    # ONE sort direction only: next_role is NOT computed here — it becomes
    # a plain lead() AFTER the probe filter (below), where the child is
    # already partitioned AND sorted, same as the plain fused variant. The
    # r2 desc-window formulation paid a second full-width in-partition
    # sort of the union frame; dropping it is the single largest cut to
    # the salted constant factor (r3).
    prev_probe = F.last(
        F.when(is_probe, F.struct(
            F.col(ts).alias("ts_v"),
            F.col(role_col).alias("role"),
            text_len.alias("tlen"),
        )),
        ignorenulls=True,
    ).over(wp)
    gap_p = epoch_seconds(F.col(ts)) - epoch_seconds(F.col("__prev_probe.ts_v"))

    d = u.select(
        "*",
        text_len.alias("text_len"),
        F.size(F.split(F.trim(F.col(text_col)), r"\s+")).alias("n_tokens"),
        prev_probe.alias("__prev_probe"),
        F.last(F.col(tool_col), ignorenulls=True).over(wc).alias("__ffill_p"),
        F.last(F.col(_B), ignorenulls=True).over(wc).alias("__fill_p"),
        F.sum(user_ind).over(wc).alias("__user_cum_p"),
    )
    # interior flag: counts only probe rows whose previous PROBE row lives
    # in the same chunk; each chunk's first probe row is resolved in the
    # carry frame (bflag) instead
    flag_int = F.when(
        is_probe
        & F.col("__prev_probe").isNotNull()
        & (gap_p > float(gap_seconds)),
        1,
    ).otherwise(0)
    d = d.select("*", F.sum(flag_int).over(wc).alias("__flag_cum_int"))

    # ---- per-chunk summaries -> prefix-combined carries ------------------
    # r3 restructure: NOTHING here reads the pass-1 window output, so `d`
    # has exactly ONE consumer and its scan+shuffle+sort lineage never
    # executes twice (r2's d-derived agg recomputed a narrowed copy of the
    # whole branch: measured ~50s of the 104s single-executor wall).
    #
    # Plan-shape discipline learned from the r3 event logs:
    #  * struct min/max over the raw union plans as SortAggregate and
    #    inserts its OWN full-width Sort of the corpus — so the probe-side
    #    summaries are computed in the NARROW pre-pass below, whose window
    #    sort already orders the rows by the grouping keys (SortAggregate
    #    then streams with no extra sort);
    #  * build rows can never be the previous PROBE row, so per-chunk
    #    break totals from the probe side alone equal the pass-1 interior
    #    counts (pinned by the salted==plain property suite).
    #
    # Probe branch: (entity, ts, turn, role, tool, length(text)) — no text
    # payload, no union — one narrow shuffle + sort; every per-chunk probe
    # summary AND the session-break totals ride it.
    tfl = (
        transcripts.withColumn(_CHUNK, chunk)
        .withColumn(_CK, F.xxhash64(F.col(entity)))
        .select(
            _CK, entity, _CHUNK, ts, turn_col, role_col, tool_col,
            F.length(F.col(text_col)).alias("__tlen"),
        )
    )
    wtp = (
        Window.partitionBy(_CK, entity, _CHUNK)
        .orderBy(ts, turn_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_ts_t = F.last(F.col(ts), ignorenulls=True).over(wtp)
    gap_t = epoch_seconds(F.col(ts)) - epoch_seconds(prev_ts_t)
    flag_t = F.when(
        prev_ts_t.isNotNull() & (gap_t > float(gap_seconds)), 1
    ).otherwise(0)
    probe_sums = (
        tfl.select("*", flag_t.alias("__fl"))
        .groupBy(_CK, entity, _CHUNK)
        .agg(
            F.sum("__fl").alias("__flag_int_sum"),
            F.sum(
                F.when(F.col(role_col) == "user", 1).otherwise(0)
            ).alias("__user_sum"),
            F.min(F.struct(
                F.col(ts).alias("ts_v"), F.col(turn_col).alias("ti"),
                F.col(role_col).alias("role"),
            )).alias("__first_probe"),
            F.max(F.struct(
                F.col(ts).alias("ts_v"), F.col(turn_col).alias("ti"),
                F.col(role_col).alias("role"), F.col("__tlen").alias("tlen"),
            )).alias("__last_probe"),
            F.max(F.when(
                F.col(tool_col).isNotNull(),
                F.struct(F.col(ts).alias("ts_v"), F.col(turn_col).alias("ti"),
                         F.col(tool_col).alias("v")),
            )).alias("__ltool"),
        )
    )
    # Build branch: one row per (entity, ts) by contract — a tiny agg.
    build_sums = (
        conv_features.withColumn(_CHUNK, chunk)
        .withColumn(_CK, F.xxhash64(F.col(entity)))
        .groupBy(_CK, entity, _CHUNK)
        .agg(F.max(F.struct(
            F.col(ts).alias("ts_v"),
            F.struct(
                F.col(ts).alias(asof_ts_col),
                *[F.col(c) for c in build_cols],
            ).alias("v"),
        )).alias("__lfill"))
    )
    # full outer: a chunk may hold only probe rows or only build rows (a
    # build-only chunk's value must still carry forward)
    sums = probe_sums.join(
        build_sums, [_CK, entity, _CHUNK], "full"
    ).select(
        _CK, entity, _CHUNK,
        F.coalesce(F.col("__flag_int_sum"), F.lit(0)).alias("__flag_int_sum"),
        F.coalesce(F.col("__user_sum"), F.lit(0)).alias("__user_sum"),
        "__first_probe", "__last_probe", "__ltool", "__lfill",
    )

    wb = Window.partitionBy(entity).orderBy(_CHUNK)
    wb_prev = wb.rowsBetween(Window.unboundedPreceding, -1)
    wb_next = wb.rowsBetween(1, Window.unboundedFollowing)
    prev_probe_carry = F.last(F.col("__last_probe"), ignorenulls=True).over(wb_prev)
    bgap = epoch_seconds(F.col("__first_probe.ts_v")) - epoch_seconds(
        prev_probe_carry["ts_v"]
    )
    # boundary flag of THIS chunk's first probe row
    bflag = F.when(F.col("__first_probe").isNull(), 0).when(
        prev_probe_carry.isNull() | (bgap > float(gap_seconds)), 1
    ).otherwise(0)
    chunk_flags = F.col("__flag_int_sum") + bflag

    carries = sums.select(
        _CK,
        entity,
        _CHUNK,
        F.sum("__user_sum").over(wb_prev).alias("__user_carry"),
        prev_probe_carry.alias("__prev_carry"),
        F.first(F.col("__first_probe"), ignorenulls=True).over(wb_next)
        .alias("__next_carry"),
        F.last(F.col("__ltool"), ignorenulls=True).over(wb_prev)["v"]
        .alias("__tool_carry"),
        F.last(F.col("__lfill"), ignorenulls=True).over(wb_prev)["v"]
        .alias("__fill_carry"),
        bflag.alias("__bflag"),
        (F.sum(chunk_flags).over(wb) - chunk_flags).alias("__flag_carry"),
    )

    # next_role BEFORE the carries join: lead over probe-only rows within
    # the chunk — the filtered pass-1 output is still partitioned by
    # (ck, entity, chunk) and sorted by (ts, side, turn), so this window
    # adds NO exchange and NO sort. Ordering matters: a SortMergeJoin only
    # preserves join-KEY ordering, so a lead placed after the join forced
    # a second full-width Sort of the joined frame (the r3 event logs'
    # 5x CPU inflation at 4 executors); before the join it is free. The
    # chunk's last probe row falls through to the cross-chunk carry.
    d = d.filter(is_probe).select(
        "*", F.lead(F.col(role_col)).over(w).alias("__next_role_p")
    )
    j = d.join(carries, [_CK, entity, _CHUNK])

    # ---- combine: rows before their chunk's first probe edge take carries
    no_prev_in_chunk = F.col("__prev_probe").isNull()
    prev_role = F.when(no_prev_in_chunk, F.col("__prev_carry.role")).otherwise(
        F.col("__prev_probe.role")
    )
    prev_len = F.when(no_prev_in_chunk, F.col("__prev_carry.tlen")).otherwise(
        F.col("__prev_probe.tlen")
    )
    next_role = F.coalesce(F.col("__next_role_p"), F.col("__next_carry.role"))
    session_cum = F.col("__flag_cum_int") + F.col("__bflag") + F.col("__flag_carry")
    fill = F.coalesce(F.col("__fill_p"), F.col("__fill_carry"))

    return j.select(
        entity, ts,
        *[c for c in transcripts.columns if c not in {entity, ts}],
        "text_len", "n_tokens",
        prev_role.alias("prev_role"),
        prev_len.alias("prev_text_len"),
        next_role.alias("next_role"),
        F.coalesce(F.col("__ffill_p"), F.col("__tool_carry")).alias("tool_ffill"),
        (session_cum - F.lit(1)).cast("long").alias("session_id"),
        (F.col("__user_cum_p") + F.coalesce(F.col("__user_carry"), F.lit(0)))
        .cast("long").alias("user_turn_cum"),
        fill[asof_ts_col].alias(asof_ts_col),
        *[fill[c].alias(c) for c in build_cols],
    )


def asof_turn_features_hybrid(
    transcripts: DataFrame,
    conv_features: DataFrame,
    chunk: Column,
    hot_threshold_rows: int = 1_000_000,
    gap_seconds: int = 1800,
    entity: str = "conv_id",
    ts: str = "ts",
    build_cols: Sequence[str] = ("feature_val",),
    **kw,
) -> DataFrame:
    """The flagship block's front door. Entities above
    ``hot_threshold_rows`` get time-chunked (chunk-and-carry spreads them
    across tasks), the long tail gets a single constant chunk — for which
    the chunk machinery degenerates to the plain fused semantics (one
    chunk == one window partition, empty carries). One extra hash-agg
    pre-pass over the probe side (map-side partials, tiny result,
    broadcast) picks the plan: when it finds no hot entity the block is
    :func:`asof_turn_features` itself (1 Exchange + 1 Sort instead of the
    routed plan's chunk-and-carry machinery).

    r3 one-pipeline form: the r2 router split rows into TWO full pipelines
    (plain on the tail + salted on the hot slice + union), which scanned
    and shuffled the big table twice — measured SLOWER than plain-with-
    floor at sandbox scale (87s vs 43s at 1 executor). Routing at the
    chunk EXPRESSION keeps one scan and one big-table shuffle; the hot
    flag unions through both sides (``shared_cols``) so a hot entity's
    build rows land in the same chunk sequence as its probe rows.

    Output is identical to :func:`asof_turn_features` on the whole input
    (property-tested).
    """
    hot = hot_entities(transcripts, entity, hot_threshold_rows).select(
        entity, F.lit(True).alias("__hot")
    )
    if not hot.take(1):
        return asof_turn_features(
            transcripts, conv_features, gap_seconds, entity, ts, build_cols, **kw
        )
    t = transcripts.join(F.broadcast(hot), entity, "left")
    cf = conv_features.join(F.broadcast(hot), entity, "left")
    cond_chunk = (
        F.when(F.col("__hot"), chunk).otherwise(F.lit(0)).cast("long")
    )
    out = asof_turn_features_salted(
        t, cf, cond_chunk, gap_seconds, entity, ts, build_cols,
        shared_cols=("__hot",), **kw
    )
    return out.drop("__hot")
