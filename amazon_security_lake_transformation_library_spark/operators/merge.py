"""CDC merge/upsert — the MERGE INTO shape (WHEN MATCHED UPDATE /
WHEN MATCHED DELETE / WHEN NOT MATCHED INSERT) as a pure DataFrame
transform, composable with the snapshot writer (plans/writer.py) for a
copy-on-write table rewrite.

Scale design: the only join is ``base LEFT ANTI update-keys``. A CDC
batch is small relative to the table, so the distinct update-key set is
broadcast — the base table is NEVER shuffled, the merge pipelines inside
the base scan, and the output unions the surviving updates on top.
Combined with a partitioned base table, Catalyst prunes untouched
partitions via the key predicate pushdown — the same effect Iceberg's
merge-on-read achieves with delete files.

The reference's writer is append-only per Lambda invoke
(transformation_function/app.py:404-411); it has no update/delete
surface at all. A feature store rebuilt continuously from CDC streams
needs exactly this operator.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["merge_upsert", "incremental_refresh"]


def merge_upsert(
    base: DataFrame,
    updates: DataFrame,
    key_cols: str | Sequence[str],
    deleted_col: str | None = None,
) -> DataFrame:
    """Apply a CDC batch to ``base``: rows whose key appears in
    ``updates`` are replaced (matched-update) or, when
    ``deleted_col`` is true on the update row, removed
    (matched-delete); update rows with unseen keys are inserted.

    ``updates`` must carry the same columns as ``base`` (plus the
    optional ``deleted_col``); the union is by name. Keys appearing on
    several update rows are all applied (callers wanting last-writer-wins
    should pre-reduce the batch with a row_number window)."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    upd_keys = F.broadcast(updates.select(*keys).distinct())
    kept = base.join(upd_keys, keys, "left_anti")
    if deleted_col is not None:
        live = updates.filter(
            ~F.coalesce(F.col(deleted_col), F.lit(False))
        ).drop(deleted_col)
    else:
        live = updates
    return kept.unionByName(live)


def incremental_refresh(
    base: DataFrame,
    history: DataFrame,
    delta: DataFrame,
    compute: Callable[[DataFrame], DataFrame],
    keys: str | Sequence[str] = "conv_id",
) -> DataFrame:
    """Incremental maintenance of a per-entity derived table: given the
    current snapshot ``base`` (one row per key, previously produced by
    ``compute``), the FULL row history, and the ``delta`` of newly
    arrived rows, recompute ``compute`` ONLY for the keys the delta
    touches and splice the fresh rows over the stale ones.

    Invariant (the whole point, property-tested and driver-gated):
    ``incremental_refresh(base, history, delta, f) == f(history)``
    row-for-row, for any delta that is exactly ``history - old_history``.
    The corpus is never recomputed — only affected entities are, from
    their full per-entity history (conversation-level features such as
    session counts are not decomposable over row deltas, so per-entity
    recompute-from-history is the correct general contract; ``compute``
    stays a black box).

    Scale shape: ``affected = delta.keys.distinct()`` is a hash agg over
    the (small) delta; the recompute input is ``history LEFT SEMI
    affected`` and the survivors are ``base LEFT ANTI affected`` — both
    joins broadcast the key set, so neither the history scan nor the snapshot scan shuffles, and on a
    conv-bucketed layout ``compute``'s own window/agg adds zero Exchange
    too. A day's delta touching D of C conversations costs
    O(scan(history of D convs) + scan(base)), not O(recompute(C)) —
    the merge-on-read economics the north rule's resumable 10^12-turn
    feature build needs. ``compute`` must emit exactly one row per key
    present in its input (true of every profile/feature rollup here).
    """
    kk = [keys] if isinstance(keys, str) else list(keys)
    affected = F.broadcast(delta.select(*kk).distinct())
    recomputed = compute(history.join(affected, kk, "left_semi"))
    untouched = base.join(affected, kk, "left_anti")
    return untouched.unionByName(recomputed)


def scd2_build(
    log: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_cols: list[str],
    tiebreak: str | None = None,
    collapse_unchanged: bool = True,
) -> DataFrame:
    """Build a slowly-changing-dimension type-2 table from a change log:
    one validity interval ``[valid_from, valid_to)`` per (entity, value
    version), ``valid_to`` NULL + ``is_current`` true on the open
    interval — the dimension shape a feature store serves point-in-time
    lookups from (the interval form of :mod:`.asof`; asof_join_over_
    intervals consumes exactly this layout).

    ``collapse_unchanged`` drops log rows that repeat the previous
    version's values (no-op updates), so intervals reflect VALUE
    changes, not write traffic — without it a chatty upstream writer
    fragments every entity into per-write slivers.

    Scale shape: ONE Exchange+Sort on the entity key; the change flag
    (lag comparison), interval end (lead) and current flag all share
    the window spec. Equal-timestamp writes need ``tiebreak`` (a
    sequence column) for a stable version order.
    """
    order = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(*key_cols).orderBy(*order)
    vals = F.struct(*[F.col(c) for c in value_cols])
    cur = log
    if collapse_unchanged:
        changed = F.lag(vals).over(w).isNull() | ~F.lag(vals).over(w).eqNullSafe(vals)
        cur = log.withColumn("__chg", changed).where(F.col("__chg")).drop("__chg")
    out = cur.select(
        *key_cols,
        *value_cols,
        F.col(ts_col).alias("valid_from"),
        F.lead(F.col(ts_col)).over(w).alias("valid_to"),
    ).withColumn("is_current", F.col("valid_to").isNull())
    return out


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Row-level diff between two table versions — the CDC-extraction
    inverse of :func:`merge_upsert`: emits one row per changed key with
    ``change_type`` in {insert, delete, update}. Unchanged keys are NOT
    emitted (the diff of two 100 TB snapshots that differ by 0.1% is
    0.1%-sized, never corpus-sized output).

    Comparison is null-safe over ``compare_cols`` (default: all shared
    non-key columns, order-insensitively matched by name). One
    full-outer sort-merge join on the key — the canonical plan; both
    sides shuffle once on the same key, so bucketed layouts join with
    zero Exchange.
    """
    if compare_cols is None:
        shared = [c for c in old.columns if c in set(new.columns)]
        compare_cols = [c for c in shared if c not in set(key_cols)]
    o = old.select(
        *key_cols, F.struct(*[F.col(c) for c in compare_cols]).alias("__o")
    )
    n = new.select(
        *key_cols, F.struct(*[F.col(c) for c in compare_cols]).alias("__n")
    )
    j = o.join(n, key_cols, "full_outer")
    ct = (
        F.when(F.col("__o").isNull(), F.lit("insert"))
        .when(F.col("__n").isNull(), F.lit("delete"))
        .when(~F.col("__o").eqNullSafe(F.col("__n")), F.lit("update"))
    )
    return (
        j.withColumn("change_type", ct)
        .where(F.col("change_type").isNotNull())
        .select(
            *key_cols,
            "change_type",
            *[F.col("__o")[c].alias(f"old_{c}") for c in compare_cols],
            *[F.col("__n")[c].alias(f"new_{c}") for c in compare_cols],
        )
    )
