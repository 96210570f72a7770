"""Skew handling for cumulative window features over hot entities.

``Window.partitionBy(entity)`` serializes each entity into one task; AQE's
skew-join splitting does NOT apply to window operators, so a conversation
holding 10% of 10^12 turns would pin a single executor core for hours.

Chunk-and-carry (two-pass prefix computation, the classic parallel-scan
decomposition):

1. derive an order-respecting chunk id from the ORDER columns themselves
   (e.g. ``floor(turn_idx / chunk)`` or a time bucket) — never from a
   random salt, which would break ordering;
2. compute the partial cumulative within ``(entity, chunk)`` — the hot
   entity now spreads across many tasks;
3. aggregate one summary row per ``(entity, chunk)`` (sum / latest
   non-null), prefix-combine those with a window over the tiny per-chunk
   frame (rows = n_chunks, never skewed);
4. join the exclusive carry back on ``(entity, chunk)`` — broadcast, since
   the carry frame is ~rows/chunk_size — and combine.

Equivalent to the unsalted window for any chunking that respects the order.
Cost: the big side is shuffled once on (entity, chunk) — same count as the
unsalted plan's single shuffle — plus a broadcast of the small carry table.
The one implementation is the fused flagship block
(``fused.asof_turn_features_salted``, property-tested in
tests/test_fused.py); this module holds its chunk id and the one
hot-entity rule of all three skew routers.

The rule (BASELINE.md §11): entity ``e`` is hot when its work
``w_e > F * sum(w) / cores`` and ``w_e >= FLOOR``, ``cores`` being the
session's default parallelism. A window block's work is its rows, and
routing only spreads it (``WINDOW_FACTOR``); a band join's is its
``p_e * b_e`` comparisons, which routing makes linear, so it pays on one
core (``BAND_FACTOR`` < 1). ``FLOOR`` is the routed plan's premium in the
form's work units.
"""

from __future__ import annotations

from collections.abc import Hashable, Sequence

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from ..functions.timeops import epoch_seconds

# Fitted from the cores x hot-share x plan sweeps (BASELINE.md §11) on 1,
# 2 and 4 cores. The routed window block lost every measured cell, so
# WINDOW_FACTOR = 4 is a lower bound, and its use above 4 cores, where it
# routes an entity holding more than 4 / cores of the rows, is
# extrapolated; so is WINDOW_FLOOR (rows), which only acts there. The band
# floors are band comparisons: chunk-and-carry lost at 2.7e7 and won from
# 3.4e8; the union form won from 2.5e7 on a thin probe and from 1e8 on
# every layout, and was within spread below.
WINDOW_FACTOR = 4
WINDOW_FLOOR = 30_000
BAND_FACTOR = 0.5
CARRY_FLOOR = 300_000_000
UNION_FLOOR = 10_000_000


def time_chunk(ts_col: str = "ts", chunk_seconds: int = 86_400) -> Column:
    """Order-respecting chunk id for timestamp order (equal-ts ties always
    land in the same chunk, preserving the tie-break contract)."""
    return F.floor(epoch_seconds(ts_col) / F.lit(float(chunk_seconds)))


def hot_rule(
    works: Sequence[tuple[Hashable, float]],
    total_work: float | None,
    cores: int,
    floor: float,
    band: bool = False,
) -> list:
    """The keys of ``(key, w_e)`` pairs that the rule calls hot, given the
    total work over ALL entities. At most ``cores / F`` entities can pass,
    and none when ``cores <= F``."""
    factor = BAND_FACTOR if band else WINDOW_FACTOR
    if cores <= factor or not total_work:
        return []
    bar = factor * total_work / cores
    return [k for k, w in works if w > bar and w >= floor]


def hot_entities(
    df: DataFrame,
    entity: str,
    floor: float,
    size: Column | None = None,
    band_rows: int | None = None,
) -> list:
    """Pre-pass: the hot keys of ``df`` under :func:`hot_rule`, as a list
    on the driver; ``size`` aggregates ``n_e`` (default: rows). Window
    form: ``w_e = n_e``. Band form: the join's other side, ``band_rows``,
    spread as ``n`` is, so ``w_e = n_e^2 * band_rows / sum(n)`` estimates
    ``p_e * b_e``. One Spark action (the top ``cores // F`` sizes, the sums
    observed on the same aggregate), and none when ``cores <= F``."""
    band = band_rows is not None
    cores = df.sparkSession.sparkContext.defaultParallelism
    factor = BAND_FACTOR if band else WINDOW_FACTOR
    if cores <= factor:
        return []
    n = F.col("__n").cast("double")
    obs = Observation()
    top = (
        df.groupBy(entity)
        .agg((F.count(F.lit(1)) if size is None else size).alias("__n"))
        .observe(obs, F.sum(n).alias("n"), F.sum(n * n).alias("n2"))
        .orderBy(F.col("__n").desc())
        .limit(int(cores // factor))
        .collect()
    )
    sums = obs.get
    if not band:
        return hot_rule(top, sums["n"], cores, floor)
    rate = band_rows / (sums["n"] or 1)
    works = [(k, rate * n_e * n_e) for k, n_e in top]
    return hot_rule(works, rate * (sums["n2"] or 0), cores, floor, band)


def in_hot(entity: str, hot: Sequence) -> Column:
    """True on the rows of the named ``hot`` entities, False elsewhere
    (NULL entity included, so ``~in_hot`` keeps the same rows a left
    anti join would)."""
    return F.coalesce(F.col(entity).isin(list(hot)), F.lit(False))
