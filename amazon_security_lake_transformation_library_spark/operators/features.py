"""Windowed per-entity feature operators: lag/lead, forward-fill,
gap-based sessionization, cumulative features.

Design for scale
----------------
All features over one entity share ONE window spec
``partitionBy(entity).orderBy(*order)`` so Catalyst collapses them into a
single Window physical operator: one shuffle on the entity key + one sort,
regardless of how many features are requested. ``.explain`` on
:func:`build_turn_features` shows exactly one Exchange+Sort pair.

The reference library has no window operators at all (SURVEY.md §2.B —
its only grouping is write partitioning, transformation_function/app.py:397);
these implement the north-rule surface on top of the same transcripts data
model.

Skew: ``Window.partitionBy(conv_id)`` puts a whole hot conversation in one
task and AQE cannot split it. :mod:`.salted` provides chunk-and-carry
variants for cumulative features (forward-fill / running sums) that split
a hot entity across tasks; its hot-entity rule decides when they pay.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from ..functions.timeops import epoch_seconds


def entity_window(
    entity: str | Sequence[str] = "conv_id",
    order: Sequence[str] = ("ts", "turn_idx"),
) -> WindowSpec:
    ent = [entity] if isinstance(entity, str) else list(entity)
    return Window.partitionBy(*ent).orderBy(*order)


def cumulative_window(
    entity: str | Sequence[str] = "conv_id",
    order: Sequence[str] = ("ts", "turn_idx"),
) -> WindowSpec:
    return entity_window(entity, order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )


def with_lag_lead(
    df: DataFrame,
    cols: dict[str, Column],
    entity: str | Sequence[str] = "conv_id",
    order: Sequence[str] = ("ts", "turn_idx"),
    lags: Sequence[int] = (1,),
    leads: Sequence[int] = (1,),
) -> DataFrame:
    """Add lag/lead of each named expression. ``cols`` maps output-name-stem
    -> Column; produces ``prev{n}_<stem>`` / ``next{n}_<stem>`` (plain
    ``prev_``/``next_`` for n=1). First/last rows yield NULL.
    """
    w = entity_window(entity, order)
    out = []
    for stem, c in cols.items():
        for n in lags:
            name = f"prev_{stem}" if n == 1 else f"prev{n}_{stem}"
            out.append(F.lag(c, n).over(w).alias(name))
        for n in leads:
            name = f"next_{stem}" if n == 1 else f"next{n}_{stem}"
            out.append(F.lead(c, n).over(w).alias(name))
    return df.select("*", *out)


def forward_fill(
    df: DataFrame,
    cols: Sequence[str],
    entity: str | Sequence[str] = "conv_id",
    order: Sequence[str] = ("ts", "turn_idx"),
    suffix: str = "_ffill",
) -> DataFrame:
    """Carry the last non-null observation forward within each entity
    (north-rule 'backfill': last(ignoreNulls) over unbounded preceding).
    """
    w = cumulative_window(entity, order)
    exprs = [
        F.last(F.col(c), ignorenulls=True).over(w).alias(f"{c}{suffix}")
        for c in cols
    ]
    return df.select("*", *exprs)


def session_flag(ts_col: str, gap_seconds: int, w: WindowSpec) -> Column:
    """1 when this row starts a new session (gap > gap_seconds from the
    previous row, or first row of the entity), else 0.
    """
    prev_ts = F.lag(F.col(ts_col)).over(w)
    gap = epoch_seconds(F.col(ts_col)) - epoch_seconds(prev_ts)
    return F.when(prev_ts.isNull() | (gap > float(gap_seconds)), 1).otherwise(0)


def sessionize(
    df: DataFrame,
    entity: str | Sequence[str] = "conv_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
    order: Sequence[str] | None = None,
    out_col: str = "session_id",
) -> DataFrame:
    """Gap-based sessionization: ``session_id`` is the 0-based running count
    of gap-exceeded boundaries within the entity (cumulative sum of the
    new-session flag, minus 1). One shuffle + one sort; the flag and its
    cumsum share the window ordering so Catalyst emits a single Window node.
    """
    order = list(order) if order is not None else [ts_col, "turn_idx"]
    w = entity_window(entity, order)
    wc = cumulative_window(entity, order)
    flag = session_flag(ts_col, gap_seconds, w)
    return df.select(
        "*", (F.sum(flag).over(wc) - F.lit(1)).cast("long").alias(out_col)
    )


def build_turn_features(
    df: DataFrame,
    gap_seconds: int = 1800,
    entity: str = "conv_id",
    order: Sequence[str] = ("ts", "turn_idx"),
    text_col: str = "text",
    role_col: str = "role",
    tool_col: str = "tool",
    ts_col: str = "ts",
) -> DataFrame:
    """The flagship per-turn feature block (SURVEY.md §7.5):

    * ``text_len`` / ``n_tokens`` — vectorized builtins, no Python
    * ``prev_role`` / ``prev_text_len`` / ``next_role`` — lag/lead
    * ``tool_ffill`` — forward-filled last tool used
    * ``session_id`` — 30-minute gap rule
    * ``user_turn_cum`` — running count of user turns (leakage-free: only
      rows with ts' <= ts, tie-broken by turn_idx, are visible)

    All window expressions share ONE (partitionBy entity, orderBy order)
    spec => single Exchange + Sort in the physical plan.
    """
    w = entity_window(entity, order)
    wc = cumulative_window(entity, order)
    text_len = F.length(F.col(text_col))
    flag = session_flag(ts_col, gap_seconds, w)
    return df.select(
        "*",
        text_len.alias("text_len"),
        F.size(F.split(F.trim(F.col(text_col)), r"\s+")).alias("n_tokens"),
        F.lag(F.col(role_col)).over(w).alias("prev_role"),
        F.lag(text_len).over(w).alias("prev_text_len"),
        F.lead(F.col(role_col)).over(w).alias("next_role"),
        F.last(F.col(tool_col), ignorenulls=True).over(wc).alias("tool_ffill"),
        (F.sum(flag).over(wc) - F.lit(1)).cast("long").alias("session_id"),
        F.sum((F.col(role_col) == "user").cast("long")).over(wc).alias("user_turn_cum"),
    )


def rolling_time_window(
    df: DataFrame,
    entity: str,
    ts_col: str,
    aggs: dict[str, Column],
    window_seconds: float,
) -> DataFrame:
    """Trailing time-RANGE rolling aggregates per entity — "activity in the
    last hour" style features, the rate-limiting / velocity counterpart of
    the row-frame cumulative features. ``aggs`` maps output name ->
    aggregate expression (e.g. ``F.count(F.lit(1))``, ``F.sum("value")``);
    each is evaluated over ``RANGE BETWEEN window_seconds PRECEDING AND
    CURRENT ROW`` ordered by event time, so rows with equal timestamps are
    frame PEERS (both included), exactly the ANSI RANGE-frame semantics.

    Scale shape: one Exchange on the entity key + one sort by time for ALL
    requested aggregates (they share the window spec, so Catalyst emits a
    single Window operator); the running frame is computed by a sliding
    two-pointer pass inside each partition — never a self-join, never an
    explode of (row x window) pairs. The reference has no windowed
    aggregation at all (SURVEY.md §2.B).
    """
    # integer-microsecond order key: RANGE boundaries are exact integer
    # arithmetic (a double epoch key would make frame membership depend on
    # float rounding at the boundary — unreproducible across engines).
    # Layout-aware: an integral ts_col (epoch micros materialized into the
    # lakehouse sort key) is ordered by directly, so a (entity, ts_us)-
    # sorted bucketed scan plans this window with zero Exchange/Sort —
    # Sort elimination is syntactic (BASELINE.md §7.7).
    ts_key = (
        F.col(ts_col)
        if dict(df.dtypes).get(ts_col) in ("int", "bigint", "smallint")
        else F.unix_micros(F.col(ts_col).cast("timestamp"))
    )
    w = (
        Window.partitionBy(entity)
        .orderBy(ts_key)
        .rangeBetween(-int(window_seconds * 1_000_000), 0)
    )
    return df.select(
        "*", *[c.over(w).alias(name) for name, c in aggs.items()]
    )


# ------------------------------------------------ time-decayed EWMA features

# Width of one EWMA rebase chunk, in halflives. Every weight is
# 2^(offset/halflife) with the offset taken inside the row's chunk, so it
# stays below 2^EWMA_CHUNK_HALFLIVES; a row two chunks back weighs less
# than 2^-EWMA_CHUNK_HALFLIVES relative to the current row.
EWMA_CHUNK_HALFLIVES = 512


def ewma_time_decay(
    df: DataFrame,
    entity: str,
    ts_col: str,
    val_col: str,
    halflife_seconds: float,
    order_tiebreak: str | None = None,
    out_col: str = "ewma",
) -> DataFrame:
    """Exponentially-decayed moving average over IRREGULAR timestamps —
    the standard "decayed activity" feature of a point-in-time feature
    store: ``ewma_i = Σ_j≤i w_j·x_j / Σ_j≤i w_j`` with
    ``w_j = 0.5^((t_i - t_j)/halflife)`` (pandas ``ewm(times=...)``
    adjusted form). A NULL value adds no weight, as in pandas: a NULL
    row reads the mean of the rows before it, and rows before an
    entity's first non-NULL value read NULL.

    The per-row reference weight cancels in the ratio, so the sums can
    use any common reference. Time is cut into chunks of
    :data:`EWMA_CHUNK_HALFLIVES` halflives (``C`` integer microseconds,
    chunk start and offset exact ``long`` arithmetic), and each row
    weighs ``u_j = 2^(offset_j/halflife)`` against its own chunk start,
    which stays in ``[1, 2^512)``. A row's sums are the running sums of
    ``u·x`` and ``u`` over its ``(entity, chunk)`` so far, plus the
    previous chunk's totals scaled by ``2^(-C/halflife)``; chunks further
    back weigh under ``2^-512`` and drop out. So the form is exact at any
    entity time range. A NULL row more than one chunk after its entity's
    last non-NULL value holds no weight in either chunk; it reads the
    last non-NULL mean before it, carried by a running ``last`` over
    ``partitionBy(entity).orderBy(chunk, ts)``, as pandas carries it.
    One Exchange on the entity key and two Sorts (chunk totals over
    ``partitionBy(entity).orderBy(chunk)``, then running sums and the
    carry, which share the ``(entity, chunk, ts)`` order), no Python.

    Raises ``ValueError`` unless ``halflife_seconds`` is positive and
    finite.
    """
    h_us = float(halflife_seconds) * 1e6
    if not 0.0 < h_us < math.inf:
        raise ValueError(
            f"halflife_seconds must be positive and finite, got {halflife_seconds!r}"
        )
    # at least 1 us; at most 2^60 us, wider than the whole Spark timestamp
    # range, so even a capped chunk leaves no row two chunks back
    c_us = min(max(1, round(EWMA_CHUNK_HALFLIVES * h_us)), 1 << 60)
    ts_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    off = F.pmod(ts_us, F.lit(c_us))
    u = F.pow(F.lit(2.0), off / F.lit(h_us))
    x = F.col(val_col)
    staged = df.select(
        "*",
        (ts_us - off).alias("__ewma_chunk"),
        (u * x).alias("__ewma_ux"),
        F.when(x.isNotNull(), u).alias("__ewma_u"),
    )
    prev = (
        Window.partitionBy(entity).orderBy("__ewma_chunk")
        .rangeBetween(-c_us, -c_us)
    )
    order = [ts_col] + ([order_tiebreak] if order_tiebreak else [])
    run = cumulative_window([entity, "__ewma_chunk"], order)
    carry = cumulative_window(entity, ["__ewma_chunk", *order])
    scale = F.lit(2.0 ** (-c_us / h_us))

    def carried(c: str) -> Column:
        return (
            F.coalesce(F.sum(c).over(run), F.lit(0.0))
            + scale * F.coalesce(F.sum(c).over(prev), F.lit(0.0))
        )

    # try_divide: NULL, not an ANSI error, where no weight is in reach
    ratio = F.try_divide(carried("__ewma_ux"), carried("__ewma_u"))
    return (
        staged.withColumn("__ewma_r", ratio)
        .withColumn(out_col, F.last("__ewma_r", ignorenulls=True).over(carry))
        .drop("__ewma_chunk", "__ewma_ux", "__ewma_u", "__ewma_r")
    )


# ------------------------------------------------ robust rolling features

def rolling_quantile(
    df: DataFrame,
    entity: str,
    ts_col: str,
    value_col: str,
    q: float = 0.5,
    n_preceding: int = 9,
    out_col: str = "roll_q",
    strict_past: bool = False,
    tiebreak: str | None = None,
) -> DataFrame:
    """Exact rolling quantile of ``value_col`` over the trailing
    ``n_preceding`` rows (plus the current row unless ``strict_past``)
    per entity, time-ordered — the robust counterpart of a rolling mean
    (a single spike moves the mean, not the median).

    ``strict_past=True`` shifts the frame to ``(n_preceding PRECEDING,
    1 PRECEDING)``: the feature then provably reads no value at or after
    the current row's timestamp — the leakage-safe form for training
    features (NULL on each entity's first row).

    Scale shape: ONE Exchange + Sort per entity (shared with any other
    window feature on the same key); the exact percentile buffers only
    the O(n_preceding) frame rows. Deterministic: the frame is a ROWS
    frame over a total order (pass a unique ``tiebreak`` column so
    equal-timestamp rows have a fixed frame), and Spark's interpolated
    exact percentile matches DuckDB quantile_cont.
    """
    lo, hi = (-n_preceding, -1) if strict_past else (-n_preceding, 0)
    order = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(entity).orderBy(*order).rowsBetween(lo, hi)
    return df.withColumn(
        out_col, F.expr(f"percentile({value_col}, {q!r})").over(w)
    )


def rolling_zscore(
    df: DataFrame,
    entity: str,
    ts_col: str,
    value_col: str,
    n_preceding: int = 100,
    min_periods: int = 5,
    flag_sigma: float = 3.0,
    tiebreak: str | None = None,
) -> DataFrame:
    """Strictly-past rolling z-score anomaly flag: how far the current
    value sits from the trailing window's mean, in trailing-window
    standard deviations. Adds ``roll_mean, roll_std, zscore,
    is_anomaly``.

    The frame is ``(n_preceding PRECEDING, 1 PRECEDING)`` — the current
    row NEVER contributes to its own baseline, so the feature has zero
    temporal leakage by construction (the same strictly-past discipline
    as encoders.target_encode / the PSI gate). ``zscore`` is NULL when
    the trailing window holds fewer than ``min_periods`` rows or has
    zero variance (both undefined, not zero, so downstream filters drop
    rather than mis-rank them).

    One Exchange + Sort on the entity key; mean/std are sliding-frame
    aggregates (no self-join, no explode).
    """
    order = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(entity).orderBy(*order).rowsBetween(-n_preceding, -1)
    mean = F.avg(value_col).over(w)
    std = F.stddev_pop(value_col).over(w)
    cnt = F.count(value_col).over(w)
    z = F.when(
        (cnt >= min_periods) & (std > 0),
        (F.col(value_col) - mean) / std,
    )
    return (
        df.withColumn("roll_mean", mean)
        .withColumn("roll_std", std)
        .withColumn("zscore", z)
        .withColumn(
            "is_anomaly",
            F.when(z.isNotNull(), F.abs(z) > F.lit(flag_sigma)),
        )
    )


def throttle_events(
    df: DataFrame,
    entity: str,
    ts_col: str,
    window_seconds: int,
    by: list[str] | None = None,
    tiebreak: str | None = None,
) -> DataFrame:
    """Fixed-window rate limiting: keep only the FIRST event per
    (entity, *by, tumbling ``window_seconds`` bucket) — the standard
    debounce/throttle pass a 100 TB event feed runs before feature
    extraction so hot emitters can't dominate windows.

    Note this is the TUMBLING-window form (first per aligned bucket),
    which is fully declarative — one composite-key window, rank 1. The
    sliding form ("drop within N seconds of the previous KEPT event")
    is inherently sequential state; at scale the tumbling form is the
    standard approximation (an event stream throttled at one per bucket
    emits at most 2 events per N-second sliding window).

    Determinism: rank orders by (ts, tiebreak) — pass a unique
    ``tiebreak`` column (event id) so equal-timestamp rows pick a stable
    winner.
    """
    bucket = F.floor(
        F.unix_micros(F.col(ts_col).cast("timestamp"))
        / F.lit(int(window_seconds) * 1_000_000)
    )
    order = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(entity, *(by or []), bucket.alias("__b")).orderBy(
        *order
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


# ------------------------------------------- regular-grid resampling + ffill

def resample_ffill(
    df: DataFrame,
    entity: str,
    ts_col: str,
    value_cols: Sequence[str],
    step_seconds: int,
    tiebreak: str | None = None,
) -> DataFrame:
    """Resample an irregular per-entity series onto a regular time grid
    with point-in-time-correct forward-fill — the feature-store
    "as-of snapshot every N seconds" materialization (training tables
    want one feature row per (entity, grid_ts), not one per raw event).

    Grid: every aligned ``step_seconds`` boundary in
    ``[ceil(min_ts), floor(max_ts)]`` per entity (entities shorter than
    one step emit nothing — there is no aligned instant inside their
    span). Each grid instant carries the LAST observed value at-or-before
    it (strict as-of: a grid row never reads a later observation, the
    same zero-leakage discipline as :mod:`.asof`).

    Scale shape: one groupBy(entity) agg for the bounds (map-side
    partial, |entities| rows), ``sequence()`` + explode to build the grid
    (never a driver loop, never a cross join against a calendar table),
    union with the observations, ONE Window (Exchange+Sort on the entity
    key) running ``last(ignorenulls)``, then a grid-only filter. Grid
    cardinality is span/step per entity — bounded and predictable; at
    10^12 turns the union input is |events| + |entities|·span/step rows,
    both linear scans. Equal-instant tie: an observation AT a grid
    boundary sorts before the grid row (is_grid orders last), so the
    boundary snapshot includes it. Among equal-instant observations,
    ``tiebreak`` (a unique id column) picks a stable winner — pass it
    whenever the series can carry duplicate timestamps.
    """
    us = int(step_seconds) * 1_000_000
    t = F.unix_micros(F.col(ts_col).cast("timestamp"))
    bounds = df.groupBy(entity).agg(
        F.min(t).alias("__lo"), F.max(t).alias("__hi")
    )
    k_lo = -F.floor(-F.col("__lo") / us)  # ceil_div
    k_hi = F.floor(F.col("__hi") / us)
    # sequence(start, stop) DESCENDS when start > stop — an entity whose
    # span contains no aligned instant must emit nothing, not a reversed
    # grid, so the empty case is filtered before explode.
    grid = bounds.where(k_lo <= k_hi).select(
        entity,
        F.explode(F.sequence(k_lo, k_hi)).alias("__k"),
    ).select(
        entity,
        (F.col("__k") * us).alias("__tus"),
        F.lit(1).alias("__grid"),
        F.lit(None).cast("long").alias("__tb"),
        *[F.lit(None).cast(dict(df.dtypes)[c]).alias(c) for c in value_cols],
    )
    obs = df.select(
        entity,
        t.alias("__tus"),
        F.lit(0).alias("__grid"),
        (F.col(tiebreak).cast("long") if tiebreak else F.lit(0)).alias("__tb"),
        *value_cols,
    )
    w = (
        Window.partitionBy(entity)
        .orderBy("__tus", "__grid", F.col("__tb").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = obs.unionByName(grid).select(
        entity,
        "__tus",
        "__grid",
        "__tb",
        *[
            F.last(c, ignorenulls=True).over(w).alias(c)
            for c in value_cols
        ],
    )
    return filled.where(F.col("__grid") == 1).select(
        entity,
        F.timestamp_micros(F.col("__tus")).alias("grid_ts"),
        *value_cols,
    )


# ------------------------------------------------- cyclic calendar features

def calendar_features(
    df: DataFrame,
    ts_col: str,
    prefix: str = "cal_",
) -> DataFrame:
    """Cyclic calendar encodings of an event timestamp: raw fields
    (hour, dow Monday=0, day-of-month, month) plus sin/cos pairs so
    models see midnight adjacent to 23:00 and December adjacent to
    January. Pure projection — zero shuffle, whole-stage codegen,
    trivially scan-fused at any scale. Values rounded to 4 dp (the
    repo-wide float contract)."""
    two_pi = 2.0 * 3.141592653589793
    ts = F.col(ts_col).cast("timestamp")
    hour = F.hour(ts)
    # Monday=0..Sunday=6 (Spark dayofweek is Sunday=1)
    dow = (F.dayofweek(ts) + 5) % 7
    month = F.month(ts)

    def cyc(col: Column, period: float, name: str) -> list[Column]:
        ang = col.cast("double") * F.lit(two_pi / period)
        # + 0.0 normalizes IEEE -0.0 (round(sin(pi), 4) is negative zero)
        return [
            (F.round(F.sin(ang), 4) + F.lit(0.0)).alias(f"{prefix}{name}_sin"),
            (F.round(F.cos(ang), 4) + F.lit(0.0)).alias(f"{prefix}{name}_cos"),
        ]

    return df.select(
        "*",
        hour.alias(f"{prefix}hour"),
        dow.alias(f"{prefix}dow"),
        F.dayofmonth(ts).alias(f"{prefix}dom"),
        month.alias(f"{prefix}month"),
        *cyc(hour, 24.0, "hour"),
        *cyc(dow, 7.0, "dow"),
        *cyc(month - 1, 12.0, "month"),
    )


# ------------------------------------------------------- rolling correlation

def rolling_corr(
    df: DataFrame,
    entity: str,
    ts_col: str,
    x_col: str,
    y_col: str,
    n_preceding: int = 50,
    min_periods: int = 5,
    tiebreak: str | None = None,
) -> DataFrame:
    """Trailing-window Pearson correlation between two per-entity series
    (e.g. a turn-level feature vs its lag) — the co-movement feature of a
    drift dashboard. Computed from sliding sufficient statistics
    (E[xy], E[x], E[y], population stddevs) over ONE shared window frame:
    one Exchange+Sort, five sliding aggregates Catalyst fuses into a
    single Window operator, no self-join. NULL when the frame holds fewer
    than ``min_periods`` rows or either variance is zero (undefined, not
    zero). Frame includes the current row — corr is a symmetric
    descriptive feature, not a leakage-sensitive predictor baseline;
    for a strictly-past form shift the frame like rolling_zscore."""
    order = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    w = (
        Window.partitionBy(entity)
        .orderBy(*order)
        .rowsBetween(-n_preceding, 0)
    )
    x, y = F.col(x_col), F.col(y_col)
    exy = F.avg(x * y).over(w)
    ex, ey = F.avg(x).over(w), F.avg(y).over(w)
    sx, sy = F.stddev_pop(x).over(w), F.stddev_pop(y).over(w)
    cnt = F.count(F.lit(1)).over(w)
    corr = F.when(
        (cnt >= min_periods) & (sx > 0) & (sy > 0),
        (exy - ex * ey) / (sx * sy),
    )
    return df.withColumn("roll_corr", F.round(corr, 4))


# ------------------------------------------------------------ CUSUM drift

def cusum_drift(
    df: DataFrame,
    entity: str,
    ts_col: str,
    value_col: str,
    target: float,
    slack: float,
    threshold: float,
    tiebreak: str | None = None,
) -> DataFrame:
    """One-sided upper CUSUM change detection per entity: the classic
    sequential drift statistic ``S_i = max(0, S_{i-1} + (x_i - target -
    slack))`` with an alarm when ``S_i > threshold``.

    The recurrence looks inherently sequential, but has the closed form
    ``S_i = C_i - min(0, min_{j<=i} C_j)`` where ``C_i`` is the plain
    cumulative sum of ``(x - target - slack)`` — a running sum plus a
    running min, i.e. TWO cumulative-frame aggregates over one shared
    window. So the "stateful" detector is fully declarative: one
    Exchange+Sort per entity, no applyInPandas, no per-row Python, and
    it parallelizes across entities exactly like every other window
    feature. (Induction: S_i = max(0, C_{i-1} - m_{i-1} + x_i - k)
    = C_i - min(m_{i-1}, C_i) = C_i - m_i, with m_i = min(0, C_j, j<=i).)
    """
    order = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    wc = (
        Window.partitionBy(entity)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dev = F.col(value_col) - F.lit(float(target) + float(slack))
    cum = F.sum(dev).over(wc)
    runmin = F.least(F.lit(0.0), F.min(cum).over(wc))
    # min(cum) over the running frame of the ALREADY-windowed column is
    # illegal (nested window); materialize cum first.
    out = (
        df.withColumn("__cum", cum)
        .withColumn(
            "cusum",
            F.round(
                F.col("__cum")
                - F.least(F.lit(0.0), F.min("__cum").over(wc)),
                4,
            ),
        )
        .withColumn("drift_alarm", F.col("cusum") > F.lit(float(threshold)))
        .drop("__cum")
    )
    return out


# ------------------------------------------------------- rolling trend slope

def rolling_slope(
    df: DataFrame,
    entity: str,
    ts_col: str,
    value_col: str,
    n_preceding: int = 50,
    min_periods: int = 5,
    per_seconds: float = 3600.0,
    tiebreak: str | None = None,
) -> DataFrame:
    """Trailing-window OLS trend slope of ``value_col`` against event
    time — "is this metric rising, and how fast" as a per-row feature.
    ``roll_slope`` is value units per ``per_seconds`` (default: per
    hour), 4 dp; NULL when the frame holds fewer than ``min_periods``
    rows or time has zero variance in the frame.

    beta = cov(x, y) / var(x) from sliding sufficient statistics, with
    x RE-CENTERED PER ENTITY (x - min(x) over the entity partition,
    materialized by a first Window pass on the SAME partition spec so
    it adds no Exchange): raw epoch seconds are ~1.7e9, so E[x^2] ~
    2.9e18 overflows the 53-bit double mantissa and E[xy] - E[x]E[y]
    would cancel catastrophically; covariance is shift-invariant, so
    subtracting any frame-constant offset leaves beta unchanged while
    keeping every moment entity-span-sized (exact for spans up to
    ~years). The centering must be a materialized column — a
    first_value over the frame nested inside the sliding aggregates
    would be an (illegal) window-in-window expression. One
    Exchange+Sort; the centering Window and the five sliding aggregates
    reuse the same partitioning/order.
    """
    order = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    wp = Window.partitionBy(entity).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w = (
        Window.partitionBy(entity)
        .orderBy(*order)
        .rowsBetween(-n_preceding, 0)
    )
    x_raw = F.unix_micros(F.col(ts_col).cast("timestamp")) / F.lit(1e6)
    base = df.withColumn("__xc", x_raw - F.min(x_raw).over(wp))
    xc, y = F.col("__xc"), F.col(value_col)
    cov = F.avg(xc * y).over(w) - F.avg(xc).over(w) * F.avg(y).over(w)
    varx = F.avg(xc * xc).over(w) - F.avg(xc).over(w) * F.avg(xc).over(w)
    cnt = F.count(F.lit(1)).over(w)
    beta = F.when(
        (cnt >= min_periods) & (varx > 0),
        cov / varx * F.lit(float(per_seconds)),
    )
    return base.withColumn(
        "roll_slope", F.round(beta, 4) + F.lit(0.0)
    ).drop("__xc")


def collapse_bursts(
    df: DataFrame,
    entity: str | Sequence[str] = "user_id",
    ts_col: str = "ts",
    gap_seconds: float = 5.0,
    order: Sequence[str] = (),
) -> DataFrame:
    """Burst collapse — keep only the FIRST row of every rapid-fire run
    per entity (rows closer than ``gap_seconds`` to their predecessor are
    duplicates-in-spirit: retry storms, double-clicks, at-least-once
    redeliveries). The fuzzy-timestamp companion to exact dedup: one
    entity-keyed lag window (the shared feature-block exchange) + a
    filter — no state, no self-join. Emits the surviving rows unchanged
    plus ``burst_id`` (0-based island index within the entity) so
    callers can also aggregate burst sizes."""
    keys = [entity] if isinstance(entity, str) else list(entity)
    w = Window.partitionBy(*keys).orderBy(ts_col, *order)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    gap_us = int(gap_seconds * 1_000_000)
    head = (
        F.lag(us).over(w).isNull()
        | ((us - F.lag(us).over(w)) >= F.lit(gap_us))
    )
    wc = Window.partitionBy(*keys).orderBy(ts_col, *order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    out = df.select(
        "*",
        head.alias("_head"),
        (F.sum(head.cast("long")).over(wc) - F.lit(1)).alias("burst_id"),
    )
    return out.where(F.col("_head")).drop("_head")


def trimmed_mean(
    df: DataFrame,
    entity: str | Sequence[str] = "user_id",
    value_col: str = "value",
    trim_frac: float = 0.1,
    order: Sequence[str] = (),
) -> DataFrame:
    """Exact per-entity trimmed mean: drop the lowest and highest
    ``floor(n·trim_frac)`` observations, average the rest — the robust
    location estimate between mean (trim 0) and median (trim 0.5),
    standard for latency/score aggregation under outliers.

    Exactness contract: the trim count is the INTEGER floor per entity,
    and rows are ranked by ``(value, order...)`` — a total order, so the
    kept set (and therefore the mean) is identical on any engine and
    partitioning. One entity-keyed rank window + one hash aggregate.
    """
    keys = [entity] if isinstance(entity, str) else list(entity)
    w = Window.partitionBy(*keys).orderBy(F.col(value_col), *[F.col(c) for c in order])
    wn = Window.partitionBy(*keys)
    ranked = df.select(
        *keys, F.col(value_col).alias("_v"),
        F.row_number().over(w).alias("_r"),
        F.count(F.lit(1)).over(wn).alias("_n"),
    )
    t = F.floor(F.col("_n") * F.lit(float(trim_frac)))
    kept = ranked.where((F.col("_r") > t) & (F.col("_r") <= F.col("_n") - t))
    return kept.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.avg("_v").alias("trimmed_mean"),
    )
