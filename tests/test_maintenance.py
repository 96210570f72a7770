"""Lakehouse maintenance invariants (plans/maintenance.py): compaction
changes file layout and NOTHING else; expiry retires time travel and
NOTHING else; orphan removal deletes only never-committed debris.

Iceberg analogs: rewrite_data_files / expire_snapshots /
remove_orphan_files (the reference has no maintenance story at all — its
Lambda writer leaks duplicate files on retry, SURVEY.md §4.1)."""

from __future__ import annotations

import os

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from amazon_security_lake_transformation_library_spark.plans import maintenance as mx
from amazon_security_lake_transformation_library_spark.plans.writer import (
    SnapshotWriter,
    read_log,
)


def _writer_with(spark, tmp_path, n_files=16, partition_cols=()):
    w = SnapshotWriter(str(tmp_path / "tbl"))
    df = (
        spark.range(10_000)
        .withColumnRenamed("id", "v")
        .withColumn("grp", (F.col("v") % 3).cast("string"))
        .repartition(n_files)  # deliberately fragment: many small files
    )
    assert w.commit(df, "s1", partition_cols=partition_cols)
    return w


def test_compact_preserves_rows_and_shrinks_files(spark, tmp_path):
    w = _writer_with(spark, tmp_path, n_files=16)
    before = spark.read.parquet(w.data_path).orderBy("v").collect()

    stats = mx.compact(w, spark, "s1")

    assert stats["files_before"] == 16
    assert stats["files_after"] == 1  # 10k tiny rows ≪ 128MB target
    after_df = spark.read.parquet(w.data_path)
    assert after_df.orderBy("v").collect() == before
    # manifest lineage untouched: same row_count, still committed
    assert w.committed_snapshots(spark) == {"s1"}
    assert w.read_at(spark, "s1").count() == 10_000
    # maintenance log records the rewrite
    log = read_log(os.path.join(w.root, "_maintenance"), pa.schema([("op", pa.string())]))
    assert log["op"].to_pylist().count("compact") == 1


def test_compact_partitioned_packs_within_partitions(spark, tmp_path):
    w = _writer_with(spark, tmp_path, n_files=16, partition_cols=("grp",))
    stats = mx.compact(w, spark, "s1")
    # one file per inner partition (3 grp values), never packed across
    # partitions — packing across would undo partition pruning
    assert stats["files_after"] == 3
    got = spark.read.parquet(w.data_path)
    assert got.count() == 10_000
    assert got.select("grp").distinct().count() == 3
    # pruning still works after the rewrite
    assert got.filter(F.col("grp") == "0").count() == len(
        [v for v in range(10_000) if v % 3 == 0]
    )


def test_compact_unknown_snapshot_raises(spark, tmp_path):
    w = _writer_with(spark, tmp_path)
    with pytest.raises(KeyError):
        mx.compact(w, spark, "nope")


def test_expire_retires_time_travel_not_rows(spark, tmp_path):
    w = SnapshotWriter(str(tmp_path / "tbl"))
    for i in (1, 2, 3):
        assert w.commit(spark.range(i * 10).withColumnRenamed("id", "v"), f"s{i}")
    expired = mx.expire_snapshots(w, spark, keep_last=2)
    assert expired == ["s1"]

    # current table: every committed row still present (append-increment
    # emulation — expiry is about history, not data; module docstring)
    assert w.read(spark).count() == 10 + 20 + 30
    # time travel to the expired snapshot is gone...
    with pytest.raises(KeyError):
        mx.read_at_checked(w, spark, "s1")
    # ...but travel to survivors still works and still sees s1's rows
    # (s1 is part of s2's table state, exactly like Iceberg file reuse)
    assert mx.read_at_checked(w, spark, "s2").count() == 30
    # snapshot listing hides the expired id; manifest keeps it so a late
    # duplicate commit of s1 is still a no-op
    live = {r[0] for r in mx.live_snapshots(w, spark).select("snapshot_id").collect()}
    assert live == {"s2", "s3"}
    assert not w.commit(spark.range(5).withColumnRenamed("id", "v"), "s1")

    # idempotent: nothing more to expire at keep_last=2
    assert mx.expire_snapshots(w, spark, keep_last=2) == []


def test_remove_orphans_deletes_only_uncommitted(spark, tmp_path):
    w = _writer_with(spark, tmp_path)
    # fake a crashed writer: data dir present, no manifest row
    orphan = os.path.join(w.data_path, "snapshot_id=deadbeef")
    spark.range(5).write.parquet(orphan)
    assert spark.read.parquet(w.data_path).count() > 10_000  # debris visible to raw scan

    # a fresh directory is inside the in-flight grace window: NOT deleted
    # (it could be a commit that hasn't appended its manifest row yet)
    assert mx.remove_orphans(w, spark) == []
    assert os.path.exists(orphan)

    removed = mx.remove_orphans(w, spark, older_than_seconds=0)

    assert removed == ["deadbeef"]
    assert not os.path.exists(orphan)
    assert spark.read.parquet(w.data_path).count() == 10_000
    assert w.read(spark).count() == 10_000
    # committed snapshot untouched, second call is a no-op
    assert mx.remove_orphans(w, spark, older_than_seconds=0) == []


def test_schema_evolution_add_column(spark, tmp_path):
    """Iceberg-style add-column evolution: a later snapshot introduces a
    column; current reads null-fill it for old rows (no mergeSchema
    footer sweep — schema comes from the commit log), and time travel to
    the PRE-evolution snapshot does not know the column exists."""
    w = SnapshotWriter(str(tmp_path / "tbl"))
    assert w.commit(spark.range(5).withColumnRenamed("id", "v"), "s1")
    evolved = (
        spark.range(5, 8).withColumnRenamed("id", "v")
        .withColumn("quality", (F.col("v") * 10).cast("double"))
    )
    assert w.commit(evolved, "s2")

    cur = w.read(spark)
    assert "quality" in cur.columns
    got = {r["v"]: r["quality"] for r in cur.collect()}
    assert got[0] is None and got[6] == 60.0
    assert cur.count() == 8

    past = w.read_at(spark, "s1")
    assert "quality" not in past.columns  # the past never saw the column
    assert past.count() == 5
    assert "quality" in w.read_at(spark, "s2").columns


def test_compact_recovers_from_crashed_swap(spark, tmp_path):
    """A compact that died between the two swap renames leaves the
    snapshot dir missing and the original in _trash; the next compact
    restores it first (never zero copies, and never a fake success)."""
    w = _writer_with(spark, tmp_path, n_files=8)
    snap = os.path.join(w.data_path, "snapshot_id=s1")
    trash = os.path.join(w.root, "_trash", "s1")
    os.makedirs(os.path.dirname(trash), exist_ok=True)
    os.rename(snap, trash)  # the mid-swap crash state

    stats = mx.compact(w, spark, "s1")

    assert stats["files_before"] == 8  # restored, then really compacted
    assert stats["files_after"] == 1
    assert w.read(spark).count() == 10_000


def test_read_heals_crashed_swap_without_compact(spark, tmp_path):
    """The crash between compact's two renames must be healed by ANY
    subsequent access — not only by re-compacting that exact snapshot id.
    read()/read_at() restore the trashed copy; other maintenance ops
    sweep it too (a committed snapshot's rows must never silently vanish
    while the manifest still lists it)."""
    w = SnapshotWriter(str(tmp_path / "tbl"))
    assert w.commit(spark.range(100).withColumnRenamed("id", "v"), "s1")
    assert w.commit(spark.range(100, 150).withColumnRenamed("id", "v"), "s2")
    snap = os.path.join(w.data_path, "snapshot_id=s1")
    trash = os.path.join(w.root, "_trash", "s1")
    os.makedirs(os.path.dirname(trash), exist_ok=True)
    os.rename(snap, trash)  # mid-swap crash state for s1

    # plain read heals and serves the FULL table
    assert w.read(spark).count() == 150
    assert os.path.exists(snap) and not os.path.exists(trash)

    # same for read_at and for unrelated maintenance ops
    os.makedirs(os.path.dirname(trash), exist_ok=True)
    os.rename(snap, trash)
    assert w.read_at(spark, "s2").count() == 150
    os.rename(snap, trash)
    assert mx.remove_orphans(w, spark, older_than_seconds=0) == []
    assert os.path.exists(snap)
    # completed-swap debris (both copies exist) is reclaimed by the sweep
    os.makedirs(trash)
    assert mx.sweep_trash(w) == []
    assert not os.path.exists(trash)


def test_expire_rejects_keep_last_below_one(spark, tmp_path):
    """Iceberg's expire_snapshots always retains the current snapshot;
    keep_last <= 0 (which used to expire EVERYTHING) is a caller bug."""
    w = SnapshotWriter(str(tmp_path / "tbl"))
    assert w.commit(spark.range(10).withColumnRenamed("id", "v"), "s1")
    for bad in (0, -1):
        with pytest.raises(ValueError, match="keep_last"):
            mx.expire_snapshots(w, spark, keep_last=bad)
    # nothing was expired by the rejected calls
    assert mx.expired_snapshots(w, spark) == set()


def test_compact_splits_hot_partition_by_its_own_bytes(spark, tmp_path):
    """Bin sizing is per partition, not from the table-wide average: a
    hot partition several times the file-size target splits into hash
    bins while small partitions still pack to one file each."""
    w = SnapshotWriter(str(tmp_path / "tbl"))
    # grp 'hot' carries ~96% of rows; 'a'/'b' are small
    df = (
        spark.range(50_000)
        .withColumnRenamed("id", "v")
        .withColumn(
            "grp",
            F.when(
                F.col("v") % 50 == 0,
                ((F.col("v") / 50).cast("long") % 2).cast("string"),
            ).otherwise(F.lit("hot")),
        )
        .withColumn("payload", F.sha2(F.col("v").cast("string"), 256))
        .repartition(16)
    )
    assert w.commit(df, "s1", partition_cols=("grp",))
    snap = os.path.join(w.data_path, "snapshot_id=s1")
    hot_bytes = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _d, fs in os.walk(os.path.join(snap, "grp=hot"))
        for f in fs
        if f.endswith(".parquet")
    )
    target = max(1, hot_bytes // 3)  # hot partition ≈ 3 bins

    before = spark.read.parquet(w.data_path).orderBy("v").collect()
    mx.compact(w, spark, "s1", target_bytes_per_file=target)

    files_per_grp = {
        g: len(mx._parquet_files(os.path.join(snap, f"grp={g}")))
        for g in ("hot", "0", "1")
    }
    assert files_per_grp["hot"] >= 2  # hot split, not collapsed to one file
    assert files_per_grp["0"] == 1 and files_per_grp["1"] == 1
    assert spark.read.parquet(w.data_path).orderBy("v").collect() == before


def test_compact_preserves_partition_value_strings(spark, tmp_path):
    """Partition directory values round-trip byte-identically: grp='00'
    must not re-emerge as grp=0 (the rewrite reads partition columns as
    string — no type inference — and writes the original values back)."""
    w = SnapshotWriter(str(tmp_path / "tbl"))
    df = (
        spark.range(100)
        .withColumnRenamed("id", "v")
        .withColumn("grp", F.when(F.col("v") < 50, "00").otherwise("07"))
        .repartition(4)
    )
    assert w.commit(df, "s1", partition_cols=("grp",))
    snap = os.path.join(w.data_path, "snapshot_id=s1")
    assert sorted(e for e in os.listdir(snap) if e.startswith("grp=")) == [
        "grp=00",
        "grp=07",
    ]

    mx.compact(w, spark, "s1")

    assert sorted(e for e in os.listdir(snap) if e.startswith("grp=")) == [
        "grp=00",
        "grp=07",
    ]
    got = {r["grp"] for r in w.read(spark).select("grp").distinct().collect()}
    assert got == {"00", "07"}


def test_commit_rejects_mismatched_partition_spec(spark, tmp_path):
    """One partition spec per table (Iceberg's rule, and forced by the
    Hive layout — one data root cannot mix partition depths): a commit
    with a different spec is rejected BEFORE writing any data, and
    compaction derives its partition columns from the snapshot's own
    directory structure, so it is never confused by rejected attempts."""
    w = SnapshotWriter(str(tmp_path / "tbl"))
    parted = (
        spark.range(100).withColumnRenamed("id", "v")
        .withColumn("grp", (F.col("v") % 2).cast("string")).repartition(4)
    )
    assert w.commit(parted, "s1", partition_cols=("grp",))

    flat = spark.range(100, 200).withColumnRenamed("id", "v")
    with pytest.raises(ValueError, match="partition spec"):
        w.commit(flat, "s2")
    # the rejected commit wrote NOTHING: no orphan dir, table intact
    assert sorted(os.listdir(w.data_path)) == ["snapshot_id=s1"]

    s1 = mx.compact(w, spark, "s1")
    assert s1["files_after"] == 2          # one per grp partition
    assert w.read(spark).count() == 100


def test_compact_zorder_clusters_files(spark, tmp_path):
    """OPTIMIZE ZORDER form: rows and lineage unchanged (the compact
    contract), output files cover tight Z-ranges — per-file spans on
    BOTH clustered dims are ~1/k of the full range, vs full-range spans
    under arrival order."""
    w = SnapshotWriter(str(tmp_path / "tblz"))
    # 64x64 grid arriving in row-major order, fragmented into 16 files
    df = (
        spark.range(64 * 64)
        .select(
            (F.col("id") % 64).alias("x"),
            (F.col("id") / 64).cast("long").alias("y"),
            F.col("id").alias("v"),
        )
        .repartition(16)
    )
    assert w.commit(df, "s1")
    before = spark.read.parquet(w.data_path).orderBy("v").collect()

    stats = mx.compact(
        w, spark, "s1",
        target_bytes_per_file=os.path.getsize(
            next(iter(mx._parquet_files(w.snapshot_dir("s1"))))
        ),  # ~16 output files -> ~16x16 Z tiles
        zorder_cols=("x", "y"), zorder_bits=6,
    )
    assert stats["files_after"] >= 8
    after = spark.read.parquet(w.data_path)
    assert after.orderBy("v").collect() == before        # content identical
    assert "z_key" not in after.columns                  # key not persisted
    assert w.read_at(spark, "s1").count() == 64 * 64

    # per-FILE span check via input_file_name
    spans = (
        after.withColumn("f", F.input_file_name())
        .groupBy("f")
        .agg(
            (F.max("x") - F.min("x")).alias("sx"),
            (F.max("y") - F.min("y")).alias("sy"),
        )
        .collect()
    )
    # z-clustered files are (mostly) tiles: both dims well under the
    # full 63 span. repartitionByRange SAMPLES its boundaries, so a
    # minority of files may straddle a top-level quadrant cut — require
    # >= 3/4 of files tight on BOTH dims (arrival order gives sx == 63
    # on EVERY row-major slice, so this cleanly separates the layouts).
    tight = sum(1 for r in spans if r["sx"] <= 32 and r["sy"] <= 32)
    assert tight >= (3 * len(spans)) // 4, [
        (r["sx"], r["sy"]) for r in spans
    ]


def test_compact_zorder_partitioned_within_partitions(spark, tmp_path):
    w = SnapshotWriter(str(tmp_path / "tblzp"))
    df = (
        spark.range(8_000)
        .select(
            (F.col("id") % 2).cast("string").alias("grp"),
            (F.col("id") % 100).alias("x"),
            ((F.col("id") * 7) % 100).alias("y"),
            F.col("id").alias("v"),
        )
        .repartition(8)
    )
    assert w.commit(df, "s1", partition_cols=("grp",))
    before = spark.read.parquet(w.data_path).orderBy("v").collect()
    mx.compact(w, spark, "s1", zorder_cols=("x", "y"))
    after = spark.read.parquet(w.data_path)
    assert after.orderBy("v").collect() == before
    # hive partition dirs survive (pruning untouched)
    snap = w.snapshot_dir("s1")
    assert sorted(
        d for d in os.listdir(snap) if d.startswith("grp=")
    ) == ["grp=0", "grp=1"]


def test_compact_zorder_rejects_partition_column(spark, tmp_path):
    w = _writer_with(spark, tmp_path, partition_cols=("grp",))
    with pytest.raises(ValueError):
        mx.compact(w, spark, "s1", zorder_cols=("grp", "v"))
