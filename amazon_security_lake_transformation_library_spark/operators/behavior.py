"""Behavioral / product-analytics operators over event streams: ordered
funnel conversion, cohort retention, and exact rolling distinct counts.

These are the classic OLAP "sessions-and-sequences" surface (the
match_recognize / funnel / retention family every warehouse grows) that a
transcript-scale event table needs next to the north-rule window features.
The reference library has no aggregation surface at all
(transformation_function/app.py only normalizes rows); this module is part
of the training-pipeline extension inventoried in SURVEY.md §2.D.

Design for scale
----------------
* ``funnel_conversion`` — per-entity ordered k-step funnel. The naive
  formulation (self-join events k times) explodes; the sequential-scan
  formulation (per-entity sorted state machine) is a non-associative scan
  that would force one giant Window sort of the raw events. Instead each
  step is a *filtered aggregate then entity-keyed join*: step 1 is
  ``events.filter(type=s1).groupBy(entity).min(ts)`` (map-side partial
  agg, filter pushed to the scan), and step i is ``events.filter(type=si)
  ⋈ prev_steps ON entity WHERE ts > step_{i-1}`` re-aggregated to
  ``min(ts)``. Every join side after the first aggregate is
  |entities|-sized (one row per entity), so the k-1 joins shuffle the
  small per-entity tables, never the raw event stream; every raw-table
  scan is pre-filtered to one step's event type (predicate pushdown
  prunes it) and pre-shrunk by the partial min, and AQE broadcasts the
  per-entity side when it fits.

* ``cohort_retention`` — first-seen-period cohort × offset activity
  matrix. One entity-keyed aggregate for the cohort assignment, one
  distinct (entity, period) presence projection, one entity-keyed join
  (same key as the aggregate, so the exchange is reused), one
  (cohort, offset) count. Output is |periods|² rows — tiny at any corpus
  scale.

* ``rolling_distinct`` — exact count of distinct entities active in the
  trailing ``window_buckets`` time buckets, per bucket. Rolling COUNT
  DISTINCT is not distributive (you cannot sum per-bucket distincts), and
  the textbook windowed-distinct shuffles every (bucket, entity) pair into
  a RANGE window per bucket. Exact and scalable instead via
  *coverage-interval islands*: a presence at bucket p makes the entity
  count toward every bucket in [p, p+W-1]; per entity, overlapping
  coverage intervals are merged with one gaps-and-islands window (new
  island when the gap since the previous presence ≥ W), islands are
  exploded back to at most W rows per *island* (not per presence — merged
  runs amortize), and a plain bucket-keyed count finishes. State per
  entity is one sorted pass; the explode factor is bounded by the constant
  W; the final count is a partial-aggregable sum, immune to hot buckets.

All three are pure JVM column expressions (zero Python in the row path)
and deterministic functions of the input set — partitioning-independent,
so the DuckDB differential oracle can replay them in ANSI SQL.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.timeops import epoch_seconds

__all__ = ["funnel_conversion", "funnel_counts", "cohort_retention",
           "rolling_distinct", "rolling_distinct_kmv", "transition_matrix",
           "time_weighted_avg", "association_rules"]


def funnel_conversion(
    events: DataFrame,
    steps: Sequence[str],
    entity: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    within_seconds: int | None = None,
) -> DataFrame:
    """Per-entity ordered funnel: earliest completion time of each step,
    where step i must occur STRICTLY after the entity's step i-1 time.

    Returns one row per entity that completed at least step 1, with
    columns ``<entity>, step1_ts .. step<k>_ts (nullable), furthest_step``.
    With ``within_seconds`` set, steps 2..k must additionally land within
    that many seconds of the entity's step-1 time (a bounded-window
    funnel); steps outside the window do not count.

    Semantics note: each step time is the *earliest* qualifying event
    given the previous step's earliest time (the standard greedy funnel).
    Greedy-earliest is optimal for unbounded funnels; with a time bound it
    is the standard product-analytics convention (first touch opens the
    window) rather than the NP-hard "best window" variant.
    """
    if len(steps) < 1:
        raise ValueError("funnel needs at least one step")

    # Minimal recurrence: step i's table is built from step i-1's table
    # ALONE (entity, step{i-1}_ts [, step1_ts for the bounded window]) —
    # never from the accumulated left-join chain. Each step table is
    # |entities|-sized. Lazily composed, step j's subplan is still
    # re-derived inside every later step's lineage (join-side null-filter
    # pushdown makes the subtrees canonically distinct, so exchange reuse
    # cannot dedupe them): the static plan holds O(k^2) *step-filtered*
    # scans — fine for the typical k<=5 funnel where every scan prunes to
    # one event type.
    s1 = (
        events.where(F.col(type_col) == steps[0])
        .groupBy(entity)
        .agg(F.min(ts_col).alias("step1_ts"))
    )
    hits = [s1]
    for i, step in enumerate(steps[1:], start=2):
        prev_col = f"step{i - 1}_ts"
        prev = hits[-1]
        cand = events.where(F.col(type_col) == step).select(
            F.col(entity).alias("_ce"), F.col(ts_col).alias("_cts")
        )
        cond = (F.col("_ce") == F.col(entity)) & (F.col("_cts") > F.col(prev_col))
        if within_seconds is not None:
            # whole-second comparison (floor of the epoch), NTZ-safe and
            # reproducible in ANSI SQL as epoch_us // 1_000_000
            cond = cond & (
                F.floor(epoch_seconds(F.col("_cts")))
                <= F.floor(epoch_seconds(F.col("step1_ts")))
                + F.lit(int(within_seconds))
            )
        # step1_ts rides along (functionally dependent on the entity) so
        # the bounded-window predicate never needs a join back to s1
        aggs = [F.min("_cts").alias(f"step{i}_ts")]
        if within_seconds is not None and i < len(steps):
            aggs.append(F.min("step1_ts").alias("step1_ts"))
        hits.append(cand.join(prev, cond, "inner").groupBy(entity).agg(*aggs))

    acc = s1
    for i, hit in enumerate(hits[1:], start=2):
        acc = acc.join(hit.select(entity, f"step{i}_ts"), entity, "left")

    # steps are sequential (step i non-null implies step i-1 non-null), so
    # building the when() chain inner-to-outer from step 1 up yields the
    # LARGEST completed step at the outermost (deepest) branch
    deepest = F.lit(0)
    for i in range(1, len(steps) + 1):
        deepest = F.when(F.col(f"step{i}_ts").isNotNull(), F.lit(i)).otherwise(deepest)
    return acc.withColumn("furthest_step", deepest)


def funnel_counts(funnel_df: DataFrame, n_steps: int) -> DataFrame:
    """Aggregate a :func:`funnel_conversion` result to per-step reach:
    ``(step, n_entities)`` where n_entities counts entities whose
    furthest_step >= step. One tiny conditional aggregate."""
    aggs = [
        F.coalesce(
            F.sum((F.col("furthest_step") >= i).cast("long")), F.lit(0)
        ).alias(f"s{i}")
        for i in range(1, n_steps + 1)
    ]
    wide = funnel_df.agg(*aggs)
    pairs = F.array(
        *[
            F.struct(F.lit(i).alias("step"), F.col(f"s{i}").alias("n_entities"))
            for i in range(1, n_steps + 1)
        ]
    )
    return wide.select(F.explode(pairs).alias("p")).select("p.step", "p.n_entities")


def cohort_retention(
    events: DataFrame,
    entity: str = "user_id",
    ts_col: str = "ts",
    granularity: str = "week",
) -> DataFrame:
    """Cohort retention matrix: entities grouped by first-seen period
    (cohort), counted per period-offset they were active in.

    Returns ``(cohort_period: date, period_offset: int, n_active: long)``
    with one row per (cohort, offset) that had activity. ``granularity``
    is any ``date_trunc`` unit (``day``/``week``/``month``).

    Offsets are calendar-unit differences (datediff / unit length for
    day and week; month arithmetic for month), matching the warehouse
    convention so the SQL oracle is expressible exactly.
    """
    period = F.date_trunc(granularity, F.col(ts_col)).cast("date")
    presence = events.select(
        F.col(entity).alias("_e"), period.alias("_p")
    ).distinct()
    cohort = presence.groupBy("_e").agg(F.min("_p").alias("_cohort"))
    if granularity == "day":
        offset = F.datediff(F.col("_p"), F.col("_cohort"))
    elif granularity == "week":
        offset = (F.datediff(F.col("_p"), F.col("_cohort")) / 7).cast("int")
    elif granularity == "month":
        offset = (
            (F.year("_p") - F.year("_cohort")) * 12
            + (F.month("_p") - F.month("_cohort"))
        ).cast("int")
    else:
        raise ValueError(f"unsupported granularity {granularity!r}")
    return (
        presence.join(cohort, "_e")  # same key as the cohort agg: exchange reuse
        .select(
            F.col("_cohort").alias("cohort_period"),
            offset.alias("period_offset"),
            F.col("_e"),
        )
        .groupBy("cohort_period", "period_offset")
        .agg(F.count("*").alias("n_active"))
    )


def rolling_distinct(
    events: DataFrame,
    entity: str = "user_id",
    ts_col: str = "ts",
    bucket_seconds: int = 3600,
    window_buckets: int = 24,
    observed_only: bool = True,
) -> DataFrame:
    """Exact distinct-``entity`` count over the trailing ``window_buckets``
    time buckets, evaluated at every bucket.

    Returns ``(bucket: long, n_distinct: long)`` where ``bucket`` is the
    epoch-bucket index (``floor(epoch/bucket_seconds)``) and
    ``n_distinct`` counts entities with ≥1 event in buckets
    ``(bucket - window_buckets, bucket]``. With ``observed_only`` the
    output is restricted to buckets that themselves contain events
    (bounded, data-derived domain); otherwise every covered bucket is
    emitted.

    Exact at scale via coverage islands — see the module docstring.

    Plan shape (pinned in test_plans_quality): the presence projection
    deduplicates with a map-side partial aggregate BEFORE its exchange
    (at high per-bucket activity the wire carries near-|presence| rows,
    not raw events), then ONE entity-keyed Exchange+Sort serves the
    lag/cumsum window stack AND the (entity, island) aggregate (subset
    clustering) — deliberately distinct-then-window, not a single
    repartition(entity) that would ship every raw row un-deduplicated.
    """
    w = int(window_buckets)
    bucket = F.floor(epoch_seconds(F.col(ts_col)) / F.lit(int(bucket_seconds)))
    presence = events.select(
        F.col(entity).alias("_e"), bucket.alias("_b")
    ).distinct()

    ew = Window.partitionBy("_e").orderBy("_b")
    # island id increments when the previous presence cannot chain
    # coverage: gap >= W means buckets between are uncovered
    new_island = (
        (F.col("_b") - F.lag("_b").over(ew) >= F.lit(w))
        | F.lag("_b").over(ew).isNull()
    ).cast("long")
    islands = (
        presence.withColumn("_isl", F.sum(new_island).over(ew))
        .groupBy("_e", "_isl")
        .agg(F.min("_b").alias("_lo"), F.max("_b").alias("_hi"))
    )
    covered = islands.select(
        "_e",
        F.explode(F.sequence(F.col("_lo"), F.col("_hi") + F.lit(w - 1))).alias(
            "bucket"
        ),
    )
    counts = covered.groupBy("bucket").agg(F.count("*").alias("n_distinct"))
    if observed_only:
        obs = presence.select(F.col("_b").alias("bucket")).distinct()
        counts = counts.join(obs, "bucket", "left_semi")
    return counts


def rolling_distinct_kmv(
    events: DataFrame,
    entity: str = "user_id",
    ts_col: str = "ts",
    bucket_seconds: int = 3600,
    window_buckets: int = 24,
    k: int = 64,
    observed_only: bool = True,
) -> DataFrame:
    """KMV-sketched rolling distinct — the scale path for LARGE trailing
    windows, where :func:`rolling_distinct`'s exact coverage explode
    (O(islands x W) entity-level rows) gets expensive.

    Collapses the corpus ONCE to a per-bucket k-min synopsis
    (|buckets| x k rows, via the partition-bounded
    ``sketch.kmv_synopsis`` reduction), then solves the rolling merge
    entirely on the synopsis table: each bucket's k-min set covers the W
    target buckets [b, b+W-1] (the same coverage trick, but exploding
    sketch rows, not entities), and the k smallest distinct fractions per
    target bucket ARE the KMV state of the union of the window's entities
    (k-min-of-union == k-min of unioned k-min sets), so the estimator
    keeps exact KMV semantics over the window.

    Returns ``(bucket: long, n_candidates: long, estimate: double)``.
    Exact-regime contract: a window holding fewer than k distinct
    entities gets ``estimate == exact distinct count`` (integer-valued)
    — the differential gate pins this against the same quadratic oracle
    as the exact operator; the estimation regime carries the standard
    KMV ~1/sqrt(k-2) relative error (property-tested against
    :func:`rolling_distinct`).

    At 100 TB: every corpus scan is a map-side bounded reduction (the
    k-min pass emits <= |buckets| x k distinct fractions, plus their
    repeats, per partition; the
    observed-bucket branch is a partial-agg distinct of one long column);
    everything after is |buckets|-scale. Explode volume is
    |buckets| x k x W synopsis rows — independent of corpus size.
    """
    from .sketch import kmv_estimate, kmv_synopsis

    w = int(window_buckets)
    bucket = F.floor(epoch_seconds(F.col(ts_col)) / F.lit(int(bucket_seconds)))
    proj = events.select(bucket.alias("_b"), F.col(entity).alias("_e"))
    syn = kmv_synopsis(proj, "_b", "_e", k).select(
        F.col("g").cast("long").alias("_b"), "frac"
    )
    covered = syn.select(
        F.explode(
            F.sequence(F.col("_b"), F.col("_b") + F.lit(w - 1))
        ).alias("g"),
        "frac",
    )
    merge_w = Window.partitionBy("g").orderBy(F.col("frac").asc_nulls_last())
    ranked = (
        covered.distinct()
        .withColumn("rn", F.row_number().over(merge_w))
        .where(F.col("rn") <= k)
        .withColumn("g", F.col("g").cast("string"))
    )
    out = kmv_estimate(ranked, k, "bucket").select(
        F.col("bucket").cast("long").alias("bucket"),
        "n_candidates",
        "estimate",
    )
    if observed_only:
        obs = syn.select(F.col("_b").alias("bucket")).distinct()
        out = out.join(obs, "bucket", "left_semi")
    return out


def transition_matrix(
    df: DataFrame,
    entity: str | Sequence[str] = "conv_id",
    order: Sequence[str] = ("turn_idx",),
    state_col: str = "role",
) -> DataFrame:
    """First-order Markov transition matrix over a per-entity ordered
    state sequence: ``(state_from, state_to, n, p)`` where ``p`` is the
    conditional probability P(next = to | cur = from). The agent-transcript
    use: role / tool transition profiles (e.g. assistant→tool→tool loops)
    as corpus-level diagnostics next to the per-conversation loop detector
    (turnsim.py).

    Shape: ONE entity-keyed window (lead — the same exchange+sort every
    turn feature shares), then a hash aggregate to the |states|²-sized
    count table; the row-conditional denominator is a window over that
    tiny table (states², not rows — the documented bounded-window class).
    Deterministic: counts are exact, p = n/row_total in double.
    """
    keys = [entity] if isinstance(entity, str) else list(entity)
    w = Window.partitionBy(*keys).orderBy(*order)
    pairs = (
        df.select(
            F.col(state_col).alias("state_from"),
            F.lead(state_col).over(w).alias("state_to"),
        )
        .where(F.col("state_to").isNotNull())
    )
    counts = pairs.groupBy("state_from", "state_to").agg(
        F.count(F.lit(1)).alias("n")
    )
    row_w = Window.partitionBy("state_from")
    return counts.select(
        "state_from", "state_to", "n",
        (F.col("n") / F.sum("n").over(row_w)).alias("p"),
    )


def time_weighted_avg(
    df: DataFrame,
    entity: str | Sequence[str] = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    order: Sequence[str] = (),
) -> DataFrame:
    """Per-entity time-weighted average of a step function (the TWAP /
    sensor-mean form): each observation holds until the next one, so
    ``twa = Σ value_i · (t_{i+1} − t_i) / (t_last − t_first)`` — the
    right mean for irregularly-sampled series where the plain AVG
    over-weights bursts.

    Shape: one entity-keyed lead window (the shared feature-block
    exchange) + one hash aggregate; entities with a single observation
    (zero span) fall back to that value. Durations in microseconds
    (exact longs — the fold is partial-sum-exact and
    partitioning-independent); the final divide is one double op.
    """
    keys = [entity] if isinstance(entity, str) else list(entity)
    w = Window.partitionBy(*keys).orderBy(ts_col, *order)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    nxt = F.lead(us).over(w)
    rows = df.select(
        *keys,
        F.col(value_col).alias("_v"),
        us.alias("_t"),
        (nxt - us).alias("_dur"),
    )
    return rows.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_obs"),
        (F.when(
            F.max("_t") > F.min("_t"),
            F.sum(F.col("_v") * F.col("_dur"))
            / (F.max("_t") - F.min("_t")).cast("double"),
        ).otherwise(F.min("_v"))).alias("twa"),
    )


def association_rules(
    df: DataFrame,
    entity: str = "user_id",
    item_col: str = "event_type",
    min_support: float = 0.0,
) -> DataFrame:
    """Pairwise association rules over per-entity item sets:
    ``(antecedent, consequent, n_both, support, confidence, lift)`` for
    every ordered item pair — the market-basket diagnostic (which event
    types predict which) on transcript/event corpora.

    Shape: one distinct (entity, item) projection, one item-keyed count
    (|items|-sized), and ONE self-equi-join on entity restricted to
    distinct pairs — the join output is Σ_e |items_e|², bounded by the
    per-entity item vocabulary (never the event count; dedup first).
    All counts exact; support/confidence/lift are single double divides
    of exact longs, engine-independent.
    """
    base = df.select(F.col(entity).alias("_e"),
                     F.col(item_col).alias("_i")).where(
        F.col(item_col).isNotNull()).distinct()
    n_entities = base.select("_e").distinct().count()  # one scalar, bounded
    item_n = base.groupBy("_i").agg(F.count(F.lit(1)).alias("_n"))
    a = base.select("_e", F.col("_i").alias("antecedent"))
    b = base.select("_e", F.col("_i").alias("consequent"))
    both = (
        a.join(b, "_e")
        .where(F.col("antecedent") != F.col("consequent"))
        .groupBy("antecedent", "consequent")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    na = item_n.select(F.col("_i").alias("antecedent"),
                       F.col("_n").alias("_na"))
    nc = item_n.select(F.col("_i").alias("consequent"),
                       F.col("_n").alias("_nc"))
    tot = float(n_entities)
    out = (
        both.join(F.broadcast(na), "antecedent")
        .join(F.broadcast(nc), "consequent")
        .select(
            "antecedent", "consequent", "n_both",
            (F.col("n_both") / F.lit(tot)).alias("support"),
            (F.col("n_both") / F.col("_na").cast("double")).alias("confidence"),
            (F.col("n_both") * F.lit(tot)
             / (F.col("_na") * F.col("_nc")).cast("double")).alias("lift"),
        )
    )
    if min_support > 0.0:
        out = out.where(F.col("support") >= F.lit(min_support))
    return out
