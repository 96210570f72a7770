"""Point-in-time (as-of) join — the core operator the north rule adds on
top of the reference's per-row schema-normalization surface (which has no
record-to-record join at all, SURVEY.md §2.B).

Semantics
---------
For each probe row ``(entity, ts)`` attach the build-side row with the
largest ``build.ts`` such that ``build.ts <= probe.ts`` (``strict=True``
uses ``<``). Leakage-free by construction: no probe row can observe a build
row with a strictly greater timestamp; ties resolve per the strict flag.

Physical strategies
-------------------
1. :func:`asof_join` (primary) — **union + last-non-null window**.
   Tag both sides, union by name, forward-fill the build payload struct
   over ``(entity) ORDER BY (ts, side)``, keep probe rows — one core
   (``_union_fill``) under every union form, K-table and skinny included.
   Cost: ONE shuffle on entity + one sort over n_probe + n_build rows.
   Caveat (measured, BASELINE.md §7.12): that Exchange does NOT become a
   no-op over bucketed inputs — Spark does not propagate bucketing
   through a Union. The layout-exploiting forms are the JOIN-shaped
   rewrites: :func:`asof_join_interval` (zero Exchange/Sort over a
   bucketed pair — what plans/bucketed.flagship_bucketed pins) and
   :func:`asof_join_skinny_intervals` (probe-side zero Exchange/Sort,
   shuffle proportional to the feature log).
2. :func:`asof_join_interval` — build rows become ``[ts, next_ts)``
   validity intervals and a sort-merge join matches each probe row to
   exactly one of them. Linear in the input (a range join that keeps the
   latest of every earlier build row is per-entity quadratic), and the
   only form whose join consumes a bucketed layout directly.
3. K-feature assembly from one skinny log: :func:`asof_join_skinny_auto`
   picks single-pass union, interval or hot/tail-routed from row counts
   and the log's hot change points.

Spark has no native ASOF JOIN (as of 4.1); every strategy is a plain
DataFrame rewrite — Catalyst still gets full pushdown/pruning on inputs.

Scale notes: the window partitions by entity only, so a pathologically hot
entity serializes in one task — the flagship block routes such entities
through chunk-and-carry (``fused.asof_turn_features_hybrid``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.timeops import epoch_seconds
from .salted import UNION_FLOOR, hot_entities, in_hot

_B = "__asof_payload"
_SIDE = "__asof_side"


def latest_per_key(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[str],
    payload: Sequence[str],
) -> DataFrame:
    """Deterministically dedupe to one row per key: the row with the
    lexicographically-largest ``order`` tuple wins (max over a struct —
    a single hash aggregate with map-side partials, no window/sort).
    """
    win = F.max(F.struct(*[F.col(c) for c in order], *[F.col(c) for c in payload]))
    agg = df.groupBy(*keys).agg(win.alias("__w"))
    return agg.select(*keys, *[F.col(f"__w.{c}").alias(c) for c in [*order, *payload]])


def _union_fill(
    probe: DataFrame,
    builds: Sequence[tuple[DataFrame, int]],
    keys: Sequence[str],
    ts: str,
    back: Sequence[tuple[str, Column]] = (),
    fwd: Sequence[tuple[str, Column]] = (),
) -> DataFrame:
    """The core every union-form as-of join shares: tag each build side
    with its sort tag and the probe with 1, union by name (Spark fills
    the columns a side lacks with typed NULLs), fill over ONE window
    spec ``(keys) ORDER BY (ts, side)`` and keep the probe rows.

    ``builds`` are ``(frame, tag)`` pairs already projected to keys, ts
    and payload columns. ``back`` entries become ``last(expr,
    ignorenulls) OVER (unboundedPreceding, currentRow)``; ``fwd`` entries
    ``first(expr, ignorenulls) OVER (currentRow, unboundedFollowing)``.
    Every fill shares the one partitioning and ordering, so the plan is
    one Exchange + one Sort however many fills or build sides there are.
    """
    unioned = probe.withColumn(_SIDE, F.lit(1))
    for b, tag in builds:
        unioned = unioned.unionByName(
            b.withColumn(_SIDE, F.lit(tag)), allowMissingColumns=True
        )
    base = Window.partitionBy(*keys).orderBy(ts, _SIDE)
    wb = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wf = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    return unioned.select(
        "*",
        *[F.last(e, ignorenulls=True).over(wb).alias(n) for n, e in back],
        *[F.first(e, ignorenulls=True).over(wf).alias(n) for n, e in fwd],
    ).filter(F.col(_SIDE) == 1)


def asof_join(
    probe: DataFrame,
    build: DataFrame,
    on: str | Sequence[str] = "conv_id",
    ts: str = "ts",
    build_cols: Sequence[str] | None = None,
    strict: bool = False,
    tolerance_seconds: float | None = None,
    asof_ts_col: str = "asof_ts",
    suffix: str = "",
    direction: str = "backward",
) -> DataFrame:
    """Union + last-non-null-window as-of join (left outer: unmatched probe
    rows keep NULL build columns), with the pandas ``merge_asof``
    ``direction=`` surface:

    * ``backward`` — latest build row with ``build.ts <= probe.ts``
      (``<`` when ``strict``).
    * ``forward`` — EARLIEST build row with ``build.ts >= probe.ts``
      (``>`` when ``strict``). The label-attachment direction: "first
      outcome observed at-or-after this turn".
    * ``nearest`` — whichever of the backward/forward candidates is
      closer in absolute time; exact distance ties resolve BACKWARD
      (the leakage-safe side). ``strict`` must be False — an equal-ts
      row is distance 0 by definition.

    ``build`` must be unique per ``(on, ts)`` — pre-shrink with
    :func:`latest_per_key` otherwise (latest-wins matches the reference
    oracle and pandas ``merge_asof``). ``tolerance_seconds`` bounds the
    match distance per direction (backward: ``probe.ts - build.ts``;
    forward: ``build.ts - probe.ts``; nearest: applied to each candidate
    before choosing).

    Physical shape: ONE union + ONE Exchange + ONE Sort; ``nearest``
    evaluates both frames over the same window ordering, which Catalyst
    plans as stacked Window nodes over that one Exchange + Sort (pinned
    in tests/test_asof.py::test_directional_plan_single_exchange_sort).

    Sort-tag construction: rows order by ``(ts, side)`` with probe
    side=1. Backward-visible build rows must sort BEFORE equal-ts probes
    (side 0) to land in the backward frame; forward-visible build rows
    must sort AFTER them (side 2). ``strict`` flips the tag so equal-ts
    build rows fall OUTSIDE the direction's frame. For ``nearest`` the
    tag is 0: the backward frame captures equal-ts rows at distance 0,
    which win any comparison, so the forward frame correctly sees only
    strictly-later rows.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown direction: {direction!r}")
    if direction == "nearest" and strict:
        raise ValueError("direction='nearest' requires strict=False")
    keys = [on] if isinstance(on, str) else list(on)
    if build_cols is None:
        build_cols = [c for c in build.columns if c not in {*keys, ts}]
    probe_extra = [c for c in probe.columns if c not in {*keys, ts}]

    side_tag = {
        "backward": 2 if strict else 0,
        "forward": 0 if strict else 2,
        "nearest": 0,
    }[direction]
    payload = F.struct(
        F.col(ts).alias(asof_ts_col),
        *[F.col(c).alias(f"{c}{suffix}") for c in build_cols],
    )
    build_side = build.select(*keys, ts, payload.alias(_B))
    filled = _union_fill(
        probe, [(build_side, side_tag)], keys, ts,
        back=[("__fb", F.col(_B))] if direction != "forward" else (),
        fwd=[("__ff", F.col(_B))] if direction != "backward" else (),
    )

    def dist_back(f):
        return epoch_seconds(F.col(ts)) - epoch_seconds(f[asof_ts_col])

    def dist_fwd(f):
        return epoch_seconds(f[asof_ts_col]) - epoch_seconds(F.col(ts))

    fb, ff = F.col("__fb"), F.col("__ff")
    if tolerance_seconds is not None:
        fb = F.when(dist_back(fb) <= float(tolerance_seconds), fb)
        ff = F.when(dist_fwd(ff) <= float(tolerance_seconds), ff)
    if direction == "backward":
        fill = fb
    elif direction == "forward":
        fill = ff
    else:
        # closer candidate wins; equal distance -> backward; one-sided
        # NULLs fall through to the surviving side
        fill = (
            F.when(fb.isNull(), ff)
            .when(ff.isNull(), fb)
            .when(dist_fwd(ff) < dist_back(fb), ff)
            .otherwise(fb)
        )

    return filled.withColumn("__fill", fill).select(
        *keys, ts, *probe_extra, "__fill.*"
    )


def asof_join_interval(
    probe: DataFrame,
    build: DataFrame,
    on: str = "conv_id",
    ts: str = "ts",
    build_cols: Sequence[str] | None = None,
    strict: bool = False,
    asof_ts_col: str = "asof_ts",
) -> DataFrame:
    """Interval form of the as-of join, built for pre-partitioned sorted
    layouts (conv_id-bucketed, ts-sorted tables): the build side becomes
    half-open validity intervals ``[ts, next_ts)`` via ``lead(ts)`` — an
    in-partition window that, over a bucketed sorted scan, needs NO
    Exchange and NO Sort — and the sort-merge join then matches each probe
    row to EXACTLY ONE interval.

    Why this exists: a range join (``build.ts <= probe.ts``, then keep the
    latest per probe row) enumerates every (probe row x earlier build row)
    pair per entity and dedups with a ``row_number`` window afterwards —
    per-entity QUADRATIC. Measured on a 10.15M-turn input with a 3.54M-row
    build side, the range form pushed 226.9M intermediate rows (22x the
    probe count) through its dedup window; the interval form emits 10.15M,
    one per probe, and needs no dedup pass at all. Same answer, linear not
    quadratic.

    Precondition: ``build`` must be unique per ``(on, ts)`` (apply
    :func:`latest_per_key` upstream otherwise); with duplicates, ``lead``
    over the tied timestamps is not deterministic. Probe rows earlier than
    every build row survive with NULL build columns (left join), matching
    the other as-of forms.
    """
    if build_cols is None:
        build_cols = [c for c in build.columns if c not in {on, ts}]
    w = Window.partitionBy(on).orderBy(ts)
    iv = build.select(
        on, ts, F.col(ts).alias(asof_ts_col), *build_cols,
        F.lead(F.col(ts)).over(w).alias("__next_ts"),
    )
    return asof_join_over_intervals(probe, iv, on=on, ts=ts, strict=strict)


def asof_join_stacked(
    probe: DataFrame,
    builds: "dict[str, DataFrame]",
    on: str | Sequence[str] = "conv_id",
    ts: str = "ts",
    build_cols: "dict[str, Sequence[str]] | None" = None,
    strict: bool = False,
    asof_ts_suffix: str = "_asof_ts",
) -> DataFrame:
    """Single-pass multi-table point-in-time join: attach, to every probe
    row, the as-of-latest row from EACH of K feature tables, in ONE
    shuffle + ONE sort total.

    This is the feature-store spine-assembly shape (a label spine enriched
    from K independently-updated feature tables). Chaining K
    :func:`asof_join_interval` calls costs K joins — K Exchanges + K Sorts
    on an unbucketed layout, and the probe spine (re-shuffled each step)
    widens as it goes. Here every build table is tagged with its own
    payload struct column (null on all other sources' rows), unioned with
    the probe side, and filled by K ``last(..., ignorenulls=True)`` calls
    that share ONE window spec — Catalyst collapses same-spec window
    functions into a single WindowExec, so the physical plan is one
    Exchange over ``n_probe + sum(n_build_k)`` rows, one Sort, one Window,
    regardless of K (pinned in tests/test_plans_quality.py). NOTE: that
    one Exchange does NOT vanish over bucketed inputs — Spark does not
    propagate bucketing through a Union — so for bucketed/oversized probe
    tables use :func:`asof_join_skinny_intervals`, whose probe side is
    Exchange-free.

    Output columns: each source ``s``'s payload column ``c`` appears as
    ``{s}_{c}``, plus ``{s}{asof_ts_suffix}`` (the matched build
    timestamp, NULL when no build row is as-of-visible). Unmatched probe
    rows keep NULLs everywhere (left-outer semantics, like every other
    as-of form here).

    Precondition (shared with the other forms): each build table unique
    per ``(on, ts)`` — pre-shrink with :func:`latest_per_key`. Leakage
    contract: with ``strict=False`` a build row at ts T is visible to
    probes at T and later; never to earlier probes (build rows sort before
    probe rows at equal ts; ``strict=True`` flips that side order, so
    equal-ts build rows are invisible).

    The reference library has no record-to-record joins at all
    (SURVEY.md §2.B); this operator is north-rule surface
    (BASELINE.json: "full as-of/point-in-time join ... over conv_id-
    bucketed, ts-sorted partitions").
    """
    keys = [on] if isinstance(on, str) else list(on)
    probe_extra = [c for c in probe.columns if c not in {*keys, ts}]
    sides = []
    for s, b in builds.items():
        cols = (
            list(build_cols[s]) if build_cols and s in build_cols
            else [c for c in b.columns if c not in {*keys, ts}]
        )
        payload = F.struct(
            F.col(ts).alias(f"{s}{asof_ts_suffix}"),
            *[F.col(c).alias(f"{s}_{c}") for c in cols],
        )
        sides.append((b.select(*keys, ts, payload.alias(f"__stk_{s}")),
                      2 if strict else 0))
    filled = _union_fill(
        probe, sides, keys, ts,
        back=[(f"__f_{s}", F.col(f"__stk_{s}")) for s in builds],
    )
    return filled.select(*keys, ts, *probe_extra, *[f"__f_{s}.*" for s in builds])


def asof_join_skinny(
    probe: DataFrame,
    build: DataFrame,
    sources: Sequence[str],
    source_col: str = "feature",
    value_col: str = "value",
    on: str | Sequence[str] = "conv_id",
    ts: str = "ts",
    strict: bool = False,
    asof_ts_suffix: str = "_asof_ts",
) -> DataFrame:
    """Point-in-time join against a SKINNY feature log — one table of
    ``(entity, ts, feature_name, value)`` rows, the EAV layout a feature
    store's ingestion actually lands (every feature pipeline appends to
    one log; no per-feature table exists until someone pivots one).

    Same semantics as :func:`asof_join_stacked` (for each probe row and
    each ``s`` in ``sources``, the latest visible build row with
    ``source_col == s``), but because all K features live in one table
    the plan needs NO per-source branch at all: one union of probe +
    build, one window, and K ``last(when(source == s, payload),
    ignorenulls=True)`` calls sharing the window spec — nulls from
    other sources are simply skipped by ``ignorenulls``. Where the
    per-table form costs one dedupe/scan branch per source (K Exchanges
    upstream), this is ONE Exchange + ONE Sort + ONE Window end-to-end
    on top of a single scan. That Exchange covers n_probe + n_log rows
    and does NOT vanish over bucketed inputs (bucketing does not
    propagate through a Union — measured, see
    :func:`asof_join_skinny_intervals` for the bucketed/asymmetric-size
    form whose shuffle is proportional to the log only).

    ``build`` must be unique per ``(on, source_col, ts)``; rows whose
    ``source_col`` is not in ``sources`` are ignored (filter pushed into
    the scan). Output: probe columns + ``{s}{asof_ts_suffix}`` and
    ``{s}_{value_col}`` per source, NULL when nothing is visible
    (left-outer, matching every other as-of form here).
    """
    keys = [on] if isinstance(on, str) else list(on)
    probe_extra = [c for c in probe.columns if c not in {*keys, ts}]
    build_side = build.filter(F.col(source_col).isin(list(sources))).select(
        *keys,
        ts,
        F.col(source_col).alias("__src"),
        F.struct(F.col(ts).alias("a"), F.col(value_col).alias("v")).alias(_B),
    )
    filled = _union_fill(
        probe, [(build_side, 2 if strict else 0)], keys, ts,
        back=[
            (f"__f_{i}", F.when(F.col("__src") == s, F.col(_B)))
            for i, s in enumerate(sources)
        ],
    )

    out_cols = [*keys, ts, *probe_extra]
    for i, s in enumerate(sources):
        f = F.col(f"__f_{i}")
        out_cols.append(f["a"].alias(f"{s}{asof_ts_suffix}"))
        out_cols.append(f["v"].alias(f"{s}_{value_col}"))
    return filled.select(*out_cols)


def skinny_to_intervals(
    log: DataFrame,
    sources: Sequence[str],
    source_col: str = "feature",
    value_col: str = "value",
    on: str = "conv_id",
    ts: str = "ts",
    asof_ts_suffix: str = "_asof_ts",
) -> DataFrame:
    """Collapse a skinny EAV feature log into piecewise-constant
    K-VECTOR validity intervals: one row per ``(entity, change_ts)``
    carrying the current value (and its own update ts) of EVERY source
    at that instant, valid over ``[change_ts, __next_ts)``.

    Built from the single-pass form itself — the probe side is the
    log's own distinct change points, widened by
    :func:`asof_join_skinny`, then ``lead(ts)`` closes the intervals.
    Cost: one Exchange + Sort over ~|log| rows and a K+2-column output —
    proportional to the FEATURE LOG, never the probe table. Feeds
    :func:`asof_join_skinny_intervals` (batch) and
    ``streaming.pipeline.asof_enrich_stream_skinny`` (live tail).
    """
    changes = (
        log.filter(F.col(source_col).isin(list(sources)))
        .select(on, ts)
        .distinct()
    )
    wide = asof_join_skinny(
        changes, log, sources, source_col=source_col, value_col=value_col,
        on=on, ts=ts, strict=False, asof_ts_suffix=asof_ts_suffix,
    )
    w = Window.partitionBy(on).orderBy(ts)
    return wide.withColumn("__next_ts", F.lead(F.col(ts)).over(w))


def asof_join_skinny_intervals(
    probe: DataFrame,
    log: DataFrame,
    sources: Sequence[str],
    source_col: str = "feature",
    value_col: str = "value",
    on: str = "conv_id",
    ts: str = "ts",
    strict: bool = False,
    asof_ts_suffix: str = "_asof_ts",
) -> DataFrame:
    """K-feature point-in-time assembly from a skinny EAV log via
    PRE-WIDENED validity intervals — same output as
    :func:`asof_join_skinny`, different physical contract: the probe
    table is NEVER shuffled or sorted.

    Why it exists: the single-pass union+window form cannot go
    zero-Exchange over a bucketed layout — Spark does not propagate
    bucketing through a Union, so even with probe AND log bucketed and
    sorted on the entity, the union's window still plans one Exchange +
    Sort over n_probe + n_log rows (measured; pinned in
    tests/test_asof_stacked.py::test_skinny_intervals_bucketed_probe_no_exchange).
    Here the log is widened first (:func:`skinny_to_intervals` — one
    Exchange over ~|log| rows), and the probe side is a sort-merge
    interval join that matches each probe row to EXACTLY ONE interval:
    over a conv_id-bucketed ts-sorted probe table the probe-side
    Exchange AND Sort both vanish, so total shuffle is proportional to
    the feature log, never the turns. At 10^12 probe turns against a
    10^9-row feature log that asymmetry IS the operator.

    Prefer :func:`asof_join_skinny` when probe and log are comparably
    sized and unbucketed (one pass, no join); prefer this form when the
    probe table is bucketed or much larger than the log. Tie semantics
    ride the interval inequality, mirroring :func:`asof_join_interval`:
    non-strict matches the interval starting AT the probe ts; strict
    takes the PREVIOUS interval (state strictly before the probe ts).
    Left-outer like every other as-of form here.
    """
    iv = skinny_to_intervals(
        log, sources, source_col=source_col, value_col=value_col,
        on=on, ts=ts, asof_ts_suffix=asof_ts_suffix,
    )
    return asof_join_over_intervals(probe, iv, on=on, ts=ts, strict=strict)


def asof_join_over_intervals(
    probe: DataFrame,
    intervals: DataFrame,
    on: str = "conv_id",
    ts: str = "ts",
    strict: bool = False,
) -> DataFrame:
    """The STATELESS half of the interval strategy: match each probe row
    to exactly one pre-widened K-vector validity interval (the raw
    output of :func:`skinny_to_intervals` — ``(entity, change_ts,
    per-source columns, __next_ts)``) via a left sort-merge interval
    join. Split out so callers that reuse one widened table across many
    probes — the streaming live tail
    (``streaming.pipeline.asof_enrich_stream_skinny``), or a batch probe
    fanned over a persisted per-refresh interval snapshot — pay the
    widening once instead of per join. Tie semantics mirror
    :func:`asof_join_interval`: non-strict matches the interval starting
    AT the probe ts; strict takes the PREVIOUS interval.
    """
    iv = intervals.withColumnRenamed(on, f"__b_{on}").withColumnRenamed(
        ts, "__iv_ts"
    )
    start, t, nxt = F.col("__iv_ts"), F.col(ts), F.col("__next_ts")
    inside = (
        (start < t) & (nxt.isNull() | (t <= nxt)) if strict
        else (start <= t) & (nxt.isNull() | (t < nxt))
    )
    cond = (F.col(on) == F.col(f"__b_{on}")) & inside
    return probe.join(iv, cond, "left").drop(
        f"__b_{on}", "__iv_ts", "__next_ts"
    )


# The chooser's rule, the job's ``--auto-ratio`` default since it landed
# (BASELINE.md §7.14): the union form when the log holds at least a
# quarter of the probe's rows. It reads §7.12's "interval form when the
# probe is >> the log" as 4x; no measurement has tuned it.
SINGLE_PASS_LOG_RATIO = 0.25


def _skinny_routed(
    probe: DataFrame,
    log: DataFrame,
    sources: Sequence[str],
    hot: Sequence,
    **kw,
) -> tuple[DataFrame, str]:
    """The routed plan for the named ``hot`` entities and its name:
    ``"intervals"`` (none named: :func:`asof_join_skinny_intervals`) or
    ``"routed"``, split by key-list filters (two filtered probe scans, no
    shuffle). ``kw`` holds every :func:`asof_join_skinny` keyword."""
    if not hot:
        return asof_join_skinny_intervals(probe, log, sources, **kw), "intervals"
    is_hot = in_hot(kw["on"], hot)
    lg = log.filter(F.col(kw["source_col"]).isin(list(sources)))
    out_hot = asof_join_skinny(
        probe.filter(is_hot), lg.filter(is_hot), sources, **kw
    )
    out_tail = asof_join_skinny_intervals(
        probe.filter(~is_hot), lg.filter(~is_hot), sources, **kw
    )
    return out_tail.unionByName(out_hot), "routed"


def _skinny_hot(probe_rows: int, log: DataFrame, sources, **kw) -> list:
    """The pre-pass over the LOG only: ``n_e`` is the entity's change
    points ``b_e``, and ``probe_rows`` spread over them estimate ``p_e``."""
    lg = log.filter(F.col(kw["source_col"]).isin(list(sources)))
    b = F.count_distinct(F.col(kw["ts"]))
    return hot_entities(lg, kw["on"], UNION_FLOOR, b, probe_rows)


def asof_join_skinny_routed(
    probe: DataFrame,
    log: DataFrame,
    sources: Sequence[str],
    source_col: str = "feature",
    value_col: str = "value",
    on: str = "conv_id",
    ts: str = "ts",
    strict: bool = False,
    asof_ts_suffix: str = "_asof_ts",
) -> DataFrame:
    """Hot-entity-safe K-feature assembly: the entities that
    ``salted.hot_entities`` calls hot take the union+window path
    (:func:`asof_join_skinny`, O((p_e + b_e) log) per entity), the tail
    keeps the shuffle-free interval SMJ (:func:`asof_join_skinny_intervals`,
    O(p_e × b_e) per entity: BASELINE.md §7.13's 10× shard); with none,
    the plain interval plan. Costs a probe count and a log pre-pass."""
    kw = dict(
        source_col=source_col, value_col=value_col, on=on, ts=ts,
        strict=strict, asof_ts_suffix=asof_ts_suffix,
    )
    hot = _skinny_hot(probe.count(), log, sources, **kw)
    return _skinny_routed(probe, log, sources, hot, **kw)[0]


def asof_join_skinny_auto(
    probe: DataFrame,
    log: DataFrame,
    sources: Sequence[str],
    source_col: str = "feature",
    value_col: str = "value",
    on: str = "conv_id",
    ts: str = "ts",
    strict: bool = False,
    asof_ts_suffix: str = "_asof_ts",
) -> tuple[DataFrame, str]:
    """The K-feature assembly's one front door: pick the plan from row
    counts and the log's hot entities, and return it with its name.

    * ``"single_pass"`` — :func:`asof_join_skinny`, when the log holds at
      least ``SINGLE_PASS_LOG_RATIO`` of the probe's rows. The union form
      is already hot-safe: O((p + b) log) per entity.
    * otherwise :func:`asof_join_skinny_routed`: ``"intervals"`` when the
      hot-entity rule names no entity (the plain
      :func:`asof_join_skinny_intervals` plan), ``"routed"`` when it
      names some (BASELINE.md §7.15's 11x hot-shard fix).

    Costs two row counts, plus the router's one log-sized pre-pass when
    the log is the smaller side. Output as :func:`asof_join_skinny`.
    """
    kw = dict(
        source_col=source_col, value_col=value_col, on=on, ts=ts,
        strict=strict, asof_ts_suffix=asof_ts_suffix,
    )
    probe_rows = probe.count()
    if log.count() >= SINGLE_PASS_LOG_RATIO * probe_rows:
        return asof_join_skinny(probe, log, sources, **kw), "single_pass"
    hot = _skinny_hot(probe_rows, log, sources, **kw)
    return _skinny_routed(probe, log, sources, hot, **kw)
