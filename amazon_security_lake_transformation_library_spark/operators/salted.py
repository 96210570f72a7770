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
tests/test_fused.py); this module holds its chunk id and the hot-entity
pre-pass that routes to it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.timeops import epoch_seconds


def time_chunk(ts_col: str = "ts", chunk_seconds: int = 86_400) -> Column:
    """Order-respecting chunk id for timestamp order (equal-ts ties always
    land in the same chunk, preserving the tie-break contract)."""
    return F.floor(epoch_seconds(ts_col) / F.lit(float(chunk_seconds)))


def hot_entities(
    df: DataFrame, entity: str = "conv_id", threshold_rows: int = 1_000_000
) -> DataFrame:
    """Pre-pass: entities whose row count exceeds the per-task budget.
    One hash aggregate; broadcast the result to route hot entities to the
    salted path and the long tail to the plain window path.
    """
    return (
        df.groupBy(entity)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .filter(F.col("n_rows") > threshold_rows)
    )
