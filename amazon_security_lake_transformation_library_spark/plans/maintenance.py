"""Lakehouse maintenance over SnapshotWriter tables: compaction, snapshot
expiry, orphan-file removal — the Iceberg ``rewrite_data_files`` /
``expire_snapshots`` / ``remove_orphan_files`` analogs for the manifest
emulation (plans/writer.py; SURVEY.md §7.4 — no Iceberg jar offline).

Why this is first-class at 100 TB: the streaming sink and CDC merge paths
append a snapshot per micro-batch / per merge, each with
``shuffle.partitions``-many files. A year of 1-minute batches is ~500k
snapshots and tens of millions of small files — scan task-launch overhead
and NameNode/S3-LIST pressure grow linearly with file count while data
volume doesn't. Compaction bin-packs a snapshot's files back to
target size WITHOUT changing a single row (verified by row count against
the manifest before the swap); expiry bounds the time-travel horizon;
orphan removal reclaims half-written data from crashed jobs (which
snapshot isolation already made invisible — this is space, not
correctness).

Semantics vs Iceberg, stated exactly:
  * ``compact`` == rewrite_data_files scoped to one snapshot partition.
    Rows, schema, manifest lineage, and time travel are all unchanged;
    only the file layout inside ``data/snapshot_id=<id>/`` changes.
  * ``expire_snapshots`` == Iceberg's: it retires TIME TRAVEL to old
    snapshots (``read_at`` raises KeyError), never current-table rows —
    in this append-increment emulation every committed snapshot's rows
    stay in ``read()`` forever. Expired ids stay in the manifest (so a
    late retry of an expired snapshot is still a commit no-op); the
    expiry itself is recorded in a ``_expired`` tombstone log.
  * ``remove_orphans`` == remove_orphan_files: deletes
    ``data/snapshot_id=*`` directories absent from the manifest — the
    debris of a writer that died between data write and manifest append.

Crash-safety of compact: stage -> verify -> swap. The rewritten files
land in ``_compact_stage/<id>``; the row count is verified against the
manifest BEFORE any destructive step; the old directory is renamed to
``_trash/<id>`` (same filesystem, atomic rename), the stage renamed into
place, then trash deleted. A crash mid-swap leaves either the old or the
new directory plus a trash copy — never zero copies.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .writer import HIVE_NULL, SNAPSHOT_COL, SnapshotWriter, append_log


def _snapshot_dir(w: SnapshotWriter, snapshot_id: str) -> str:
    return os.path.join(w.data_path, f"{SNAPSHOT_COL}={snapshot_id}")


def _parquet_files(path: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(path):
        out.extend(os.path.join(root, f) for f in files if f.endswith(".parquet"))
    return out


def _partition_cols(snap_dir: str) -> list[str]:
    """Inner (non-snapshot) partition columns of ONE snapshot, read from
    its directory structure (`col=value` path segments) — ground truth
    per snapshot, unlike the manifest schema, which is the UNION of every
    snapshot's partition columns and misleads on tables whose snapshots
    were committed with different partition_cols."""
    cols: list[str] = []
    d = snap_dir
    while True:
        subdirs = [e for e in os.listdir(d)
                   if "=" in e and os.path.isdir(os.path.join(d, e))]
        if not subdirs:
            return cols
        cols.append(subdirs[0].split("=", 1)[0])
        d = os.path.join(d, subdirs[0])


def _recover_trash(w: SnapshotWriter, snapshot_id: str) -> bool:
    """Crash recovery for compact's swap: if a previous compact died
    between the two renames, the snapshot directory is missing and the
    original lives in ``_trash/<id>`` — restore it before doing anything
    else. Returns True when a restore happened."""
    snap_dir = _snapshot_dir(w, snapshot_id)
    trash = os.path.join(w.root, "_trash", snapshot_id)
    if not os.path.exists(snap_dir) and os.path.exists(trash):
        os.rename(trash, snap_dir)
        return True
    return False


def sweep_trash(w: SnapshotWriter) -> list[str]:
    """Heal ALL crashed compact swaps, not just a re-compacted id: every
    ``_trash/<id>`` whose snapshot directory is missing is restored
    (crash landed between the two renames); every ``_trash/<id>`` whose
    snapshot directory exists is a completed swap whose final cleanup
    died — delete it. Runs at the start of every maintenance op, and
    restore-only from SnapshotWriter.read()/read_at() (see
    ``restore_missing_snapshot_dirs``), so a table never serves with a
    committed snapshot's rows silently absent. Returns restored ids."""
    trash_root = os.path.join(w.root, "_trash")
    restored: list[str] = []
    if not os.path.isdir(trash_root):
        return restored
    for sid in sorted(os.listdir(trash_root)):
        snap_dir = _snapshot_dir(w, sid)
        trash = os.path.join(trash_root, sid)
        if not os.path.exists(snap_dir):
            os.rename(trash, snap_dir)
            restored.append(sid)
        else:
            shutil.rmtree(trash, ignore_errors=True)
    return restored


def _log(w: SnapshotWriter, name: str, rows: list[dict]) -> None:
    # one file per call: the same snapshot can be compacted more than once
    append_log(os.path.join(w.root, name), uuid.uuid4().hex, pa.Table.from_pylist(rows))


def _read_log(w: SnapshotWriter, spark: SparkSession, name: str) -> DataFrame | None:
    try:
        return spark.read.parquet(os.path.join(w.root, name))
    except Exception:
        return None


def compact(
    w: SnapshotWriter,
    spark: SparkSession,
    snapshot_id: str,
    target_bytes_per_file: int = 128 * 1024 * 1024,
    sort_cols: tuple[str, ...] = (),
    zorder_cols: tuple[str, ...] = (),
    zorder_bits: int = 8,
) -> dict:
    """Bin-pack one committed snapshot's files to ~``target_bytes_per_file``.

    Pass the snapshot's original ``sort_cols`` when it was committed with
    a sorted layout (the rewrite otherwise keeps rows but not intra-file
    order, and a bucket-sorted as-of layout would lose its free Sort).

    ``zorder_cols`` additionally CLUSTERS the rewrite on the Morton key
    of those columns (plans/layout.py) — the OPTIMIZE ZORDER form of
    compaction: each output file covers a tight Z-range, so min/max file
    stats prune selective filters on ANY of the clustered columns.
    Unpartitioned snapshots range-partition globally on the key;
    hive-partitioned snapshots cluster WITHIN each partition (the bin
    key becomes the Z-range slice instead of a hash — same per-partition
    bin counts, so hot partitions still split and pruning by partition
    is untouched). The key column is dropped before write; explicit
    ``sort_cols`` then apply as secondary sort after the Z key.

    Returns a stats dict (files/bytes before and after). Raises KeyError
    for an unknown snapshot and RuntimeError if the rewritten row count
    does not match the manifest (in which case nothing is touched)."""
    if snapshot_id not in w.committed_snapshots(spark):
        raise KeyError(snapshot_id)
    sweep_trash(w)  # heal ANY crashed prior compact first, not just this id
    snap_dir = _snapshot_dir(w, snapshot_id)
    before_files = _parquet_files(snap_dir)
    before_bytes = sum(os.path.getsize(f) for f in before_files)
    if not before_files:
        return {
            "op": "compact", SNAPSHOT_COL: snapshot_id,
            "files_before": 0, "files_after": 0,
            "bytes_before": 0, "bytes_after": 0, "at_unix": float(time.time()),
        }

    parts = _partition_cols(snap_dir)
    stage = os.path.join(w.root, "_compact_stage", snapshot_id)
    shutil.rmtree(stage, ignore_errors=True)

    # Partition values must round-trip byte-identically (grp='00' must not
    # re-emerge as grp=0): read partition columns as STRING (inference
    # off) so the rewrite emits the original directory values verbatim.
    # Readers are unaffected — SnapshotWriter.read() applies the schema
    # log's recorded types over the unchanged directory values.
    infer_key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    infer_prev = spark.conf.get(infer_key)
    spark.conf.set(infer_key, "false")
    try:
        df = spark.read.parquet(snap_dir)  # inner partition dirs discovered
        n_files = max(1, round(before_bytes / target_bytes_per_file))
        eff_sort = sort_cols
        if zorder_cols:
            from .layout import zorder_key

            bad = set(zorder_cols) & set(parts)
            if bad:
                raise ValueError(
                    f"zorder_cols overlap partition columns: {sorted(bad)}"
                )
            df = zorder_key(df, list(zorder_cols), bits=zorder_bits)
            eff_sort = ("z_key", *sort_cols)
        if parts:
            # pack WITHIN partitions only (packing across would undo scan
            # pruning), sizing bins from EACH partition's actual on-disk
            # bytes: a hot partition splits into ceil(its_bytes/target)
            # hash bins while small partitions stay single-file — the
            # average-based sizing collapsed hot partitions to one file.
            part_bytes: dict[tuple, int] = {}
            for f in before_files:
                rel = os.path.relpath(os.path.dirname(f), snap_dir)
                vals = tuple(
                    seg.split("=", 1)[1] for seg in rel.split(os.sep) if "=" in seg
                )
                part_bytes[vals] = part_bytes.get(vals, 0) + os.path.getsize(f)
            bins_rows = [
                (*[None if v == HIVE_NULL else v for v in vals],
                 max(1, round(b / target_bytes_per_file)))
                for vals, b in sorted(part_bytes.items())
            ]
            total_bins = sum(r[-1] for r in bins_rows)
            bins_schema = ", ".join(f"`{c}` string" for c in parts) + ", __n_bins int"
            bins_df = spark.createDataFrame(bins_rows, schema=bins_schema)
            cond = None
            for c in parts:
                eq = df[c].eqNullSafe(bins_df[c])
                cond = eq if cond is None else cond & eq
            data_cols = [c for c in df.columns if c not in parts]
            joined = (
                df.alias("d")
                .join(F.broadcast(bins_df).alias("b"), on=cond, how="left")
                .select(
                    [F.col(f"d.{c}") for c in df.columns]
                    + [F.coalesce(F.col("b.__n_bins"), F.lit(1)).alias("__n_bins")]
                )
            )
            shuffle_keys = [F.col(c) for c in parts]
            if zorder_cols:
                # Z-range slice within the partition: bin i holds keys in
                # [i·2^tb/n, (i+1)·2^tb/n) — contiguous Z ranges per file,
                # same per-partition bin counts as the hash form.
                tb = zorder_bits * len(zorder_cols)
                shuffle_keys.append(
                    F.shiftright(
                        F.col("z_key") * F.col("__n_bins").cast("bigint"),
                        tb,
                    )
                )
            elif data_cols:
                shuffle_keys.append(
                    F.pmod(
                        F.xxhash64(*[F.col(c) for c in data_cols]),
                        F.col("__n_bins").cast("bigint"),
                    )
                )
            out = joined.repartition(max(total_bins, len(bins_rows)), *shuffle_keys)
            out = out.drop("__n_bins")
            if eff_sort:
                out = out.sortWithinPartitions(*eff_sort)
            out = out.drop("z_key")
            out.write.partitionBy(*parts).parquet(stage)
        else:
            if zorder_cols:
                out = df.repartitionByRange(n_files, F.col("z_key"))
            else:
                out = df.repartition(n_files)
            if eff_sort:
                out = out.sortWithinPartitions(*eff_sort)
            out = out.drop("z_key")
            out.write.parquet(stage)
    finally:
        spark.conf.set(infer_key, infer_prev)

    expected = int(
        w.manifest(spark)
        .filter(F.col(SNAPSHOT_COL) == snapshot_id)
        .agg(F.sum("row_count"))
        .collect()[0][0]
    )
    actual = spark.read.parquet(stage).count()
    if actual != expected:
        shutil.rmtree(stage, ignore_errors=True)
        raise RuntimeError(
            f"compact aborted: rewrote {actual} rows, manifest says {expected}"
        )

    trash = os.path.join(w.root, "_trash", snapshot_id)
    shutil.rmtree(trash, ignore_errors=True)
    os.makedirs(os.path.dirname(trash), exist_ok=True)
    os.rename(snap_dir, trash)
    os.rename(stage, snap_dir)
    shutil.rmtree(trash, ignore_errors=True)

    after_files = _parquet_files(snap_dir)
    stats = {
        "op": "compact",
        SNAPSHOT_COL: snapshot_id,
        "files_before": len(before_files),
        "files_after": len(after_files),
        "bytes_before": int(before_bytes),
        "bytes_after": int(sum(os.path.getsize(f) for f in after_files)),
        "at_unix": float(time.time()),
    }
    _log(w, "_maintenance", [stats])
    return stats


def expire_snapshots(
    w: SnapshotWriter, spark: SparkSession, keep_last: int
) -> list[str]:
    """Retire time travel to all but the newest ``keep_last`` snapshots.

    Expired ids: ``read_at`` raises KeyError, ``snapshots()`` via
    :func:`live_snapshots` excludes them; current-table ``read()`` rows
    are untouched (see module docstring). Returns the newly expired ids.

    ``keep_last`` must be >= 1: Iceberg's expire_snapshots always retains
    at least the current snapshot, and silently expiring ALL time travel
    (including the newest snapshot) is never what a caller wants."""
    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    sweep_trash(w)
    snaps = w.snapshots(spark)
    if snaps is None:
        return []
    ordered = sorted(
        ((r[1], r[0]) for r in snaps.select(SNAPSHOT_COL, "committed_at_unix").collect()),
    )
    already = expired_snapshots(w, spark)
    live = [s for _t, s in ordered if s not in already]
    to_expire = live[:-keep_last]
    if not to_expire:
        return []
    _log(
        w, "_expired",
        [{SNAPSHOT_COL: s, "expired_at_unix": float(time.time())} for s in to_expire],
    )
    return to_expire


def expired_snapshots(w: SnapshotWriter, spark: SparkSession) -> set[str]:
    log = _read_log(w, spark, "_expired")
    if log is None:
        return set()
    return {r[0] for r in log.select(SNAPSHOT_COL).distinct().collect()}


def read_at_checked(w: SnapshotWriter, spark: SparkSession, snapshot_id: str) -> DataFrame:
    """Time travel honoring expiry: KeyError for expired ids, else
    SnapshotWriter.read_at."""
    if snapshot_id in expired_snapshots(w, spark):
        raise KeyError(f"snapshot {snapshot_id} expired")
    return w.read_at(spark, snapshot_id)


def live_snapshots(w: SnapshotWriter, spark: SparkSession) -> DataFrame | None:
    """``snapshots()`` minus expired — what an Iceberg snapshots metadata
    table shows after expire_snapshots."""
    snaps = w.snapshots(spark)
    if snaps is None:
        return None
    dead = expired_snapshots(w, spark)
    if not dead:
        return snaps
    return snaps.filter(~F.col(SNAPSHOT_COL).isin(*[F.lit(s) for s in dead]))


def remove_orphans(
    w: SnapshotWriter, spark: SparkSession, older_than_seconds: float = 86400.0
) -> list[str]:
    """Delete data directories whose snapshot never reached the manifest
    (a writer crash between data write and manifest append). Safe by
    construction: readers already can't see uncommitted snapshots.

    ``older_than_seconds`` is the in-flight grace window (Iceberg's
    remove_orphan_files ``older_than``, default 3 days): a commit that has
    finished its data write but not yet appended its manifest row looks
    exactly like an orphan, so only directories untouched for the grace
    period are deleted. Pass 0 only when no writer can be running."""
    sweep_trash(w)  # a trashed-but-committed snapshot must never look orphaned
    if not os.path.isdir(w.data_path):
        return []
    committed = w.committed_snapshots(spark)
    now = time.time()
    removed = []
    for entry in os.listdir(w.data_path):
        if not entry.startswith(f"{SNAPSHOT_COL}="):
            continue
        sid = entry.split("=", 1)[1]
        path = os.path.join(w.data_path, entry)
        age = now - max(
            (os.path.getmtime(p) for p in _parquet_files(path)),
            default=os.path.getmtime(path),
        )
        if sid not in committed and age >= older_than_seconds:
            shutil.rmtree(path, ignore_errors=True)
            removed.append(sid)
    if removed:
        _log(
            w, "_maintenance",
            [{
                "op": "remove_orphans",
                SNAPSHOT_COL: s,
                "files_before": -1, "files_after": 0,
                "bytes_before": -1, "bytes_after": 0,
                "at_unix": float(time.time()),
            } for s in removed],
        )
    return removed
