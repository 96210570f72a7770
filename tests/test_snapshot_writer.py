"""SnapshotWriter commit protocol (plans/writer.py): zero-row commits,
partition-spec evolution, manifest parity with a Spark read-back, the
one-Spark-job commit, and crash safety of the driver-side log files."""

from __future__ import annotations

import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from amazon_security_lake_transformation_library_spark.plans import maintenance as mx
from amazon_security_lake_transformation_library_spark.plans.writer import (
    SNAPSHOT_COL,
    SnapshotWriter,
    snapshot_partition_cols,
)


def test_empty_snapshot_commit(spark, tmp_path):
    """r5: a ZERO-ROW snapshot must commit like any other (streaming
    sinks emit empty micro-batch slices routinely — e.g. a dedup batch
    with no candidates): no schema-inference crash on a fresh table, a
    manifest row lands so the replay is a no-op, and reads work."""
    w = SnapshotWriter(str(tmp_path / "flat"))
    e = spark.createDataFrame([], "a long, b string")
    assert w.commit(e, snapshot_id="s0") is True
    assert w.commit(e, snapshot_id="s0") is False        # replay no-op
    assert w.read(spark).count() == 0
    assert w.commit(
        spark.createDataFrame([(1, "x")], "a long, b string"),
        snapshot_id="s1",
    ) is True
    assert w.read(spark).count() == 1
    assert {r[0] for r in w.snapshots(spark).collect()} == {"s0", "s1"}

    wp = SnapshotWriter(str(tmp_path / "part"))
    ep = spark.createDataFrame([], "a long, eventday string")
    assert wp.commit(ep, snapshot_id="p0", partition_cols=["eventday"]) is True
    assert wp.commit(ep, snapshot_id="p0", partition_cols=["eventday"]) is False
    assert wp.commit(
        spark.createDataFrame([(1, "20240101")], "a long, eventday string"),
        snapshot_id="p1", partition_cols=["eventday"],
    ) is True
    assert wp.read(spark).count() == 1


# ------------------------------------------------ partition-spec evolution


def test_partition_spec_evolution_read_union(spark, tmp_path):
    """Iceberg partition evolution: a new spec applies to NEW snapshots
    only; read() serves old and new layouts together, read_at() time-
    travels into the pre-evolution layout."""
    w = SnapshotWriter(str(tmp_path / "tbl_evo"))
    s1 = spark.range(10).select(
        F.col("id").alias("v"), (F.col("id") % 2).cast("string").alias("grp")
    )
    assert w.commit(s1, "s1")                      # unpartitioned
    # evolving without the flag is still rejected
    with pytest.raises(ValueError):
        w.commit(s1, "s2", partition_cols=("grp",))
    assert w.commit(
        s1.withColumn("v", F.col("v") + 10), "s2",
        partition_cols=("grp",), allow_spec_evolution=True,
    )

    full = w.read(spark)
    assert full.count() == 20
    assert set(r["v"] for r in full.collect()) == set(range(20))
    # partition column survives as a data column from BOTH layouts
    assert full.filter(F.col("grp") == "1").count() == 10
    # time travel to s1 sees only the old layout
    assert w.read_at(spark, "s1").count() == 10

    # maintenance still works per snapshot on the evolved table
    stats = mx.compact(w, spark, "s2")
    assert stats["files_after"] >= 1
    assert w.read(spark).count() == 20


def test_partition_spec_evolution_deepens_spec(spark, tmp_path):
    """(day) -> (day, src): the common evolution; dirs of both depths
    coexist and filters on either column work across the union."""
    w = SnapshotWriter(str(tmp_path / "tbl_deep"))
    df = spark.range(40).select(
        F.col("id").alias("v"),
        (F.col("id") % 4).cast("string").alias("day"),
        (F.col("id") % 2).cast("string").alias("src"),
    )
    assert w.commit(df, "a", partition_cols=("day",))
    assert w.commit(
        df.withColumn("v", F.col("v") + 100), "b",
        partition_cols=("day", "src"), allow_spec_evolution=True,
    )
    t = w.read(spark)
    assert t.count() == 80
    assert t.filter("day = '2'").count() == 20
    assert t.filter("src = '1'").count() == 40
    # spec introspection per snapshot
    snap = os.path.join(w.data_path, "snapshot_id={}").format
    assert snapshot_partition_cols(snap("a")) == ("day",)
    assert snapshot_partition_cols(snap("b")) == ("day", "src")
    assert snapshot_partition_cols(snap("missing")) == ()


# ------------------------------------------------ manifest parity

# 2024-11-03 09:30 UTC is 01:30 PST, the second 01:30 of that night in Los
# Angeles: the partition directory holds the ambiguous wall time, and both
# Spark's read-back and the manifest must resolve it to the same instant.
_TS_MICROS = (1_704_119_400_500_000, 1_730_626_200_000_000, 1_719_835_200_000_000)


def _typed_frame(spark):
    ts = F.element_at(
        F.array(*[F.lit(m) for m in _TS_MICROS]), (F.col("id") % 3 + 1).cast("int"))
    return spark.range(48).select(
        F.col("id").alias("v"),
        F.concat(F.lit("k"), (F.col("id") % 3).cast("string")).alias("s"),
        (F.col("id") % 4).alias("l"),
        F.date_add(F.lit("2024-01-30").cast("date"), (F.col("id") % 3).cast("int")).alias("d"),
        F.timestamp_micros(ts).alias("ts"),
        F.lit(None).cast("string").alias("n"),
        F.when(F.col("id") % 3 == 0, F.lit("a/b:c%d=e"))
        .when(F.col("id") % 3 == 1, F.lit("plain"))
        .otherwise(F.lit("")).alias("esc"),
    ).repartition(4)


def _sorted(rows):
    return sorted((tuple(r) for r in rows), key=repr)


@pytest.mark.parametrize(
    "parts",
    [(), ("s",), ("l",), ("d",), ("ts",), ("n",), ("esc",), ("l", "esc")],
    ids=lambda p: "-".join(p) or "unpartitioned",
)
def test_manifest_matches_spark_readback(spark, tmp_path, parts):
    """The footer-derived manifest equals what the old commit computed:
    a Spark read-back of the snapshot directory grouped by snapshot id
    and partition columns. Covers string, long, date, timestamp (in a
    non-UTC session zone), NULL and escaped partition values, several
    files per partition, and an unpartitioned frame."""
    key = "spark.sql.session.timeZone"
    prev = spark.conf.get(key)
    spark.conf.set(key, "America/Los_Angeles")
    try:
        w = SnapshotWriter(str(tmp_path / "tbl"))
        df = _typed_frame(spark)
        assert w.commit(df, "s1", partition_cols=parts)
        snap_dir = os.path.join(w.data_path, f"{SNAPSHOT_COL}=s1")
        oracle = (
            spark.read.schema(df.withColumn(SNAPSHOT_COL, F.lit("s1")).schema)
            .option("basePath", w.data_path)
            .parquet(snap_dir)
        )
        group = [SNAPSHOT_COL, *parts]
        expected = oracle.groupBy(*group).agg(F.count(F.lit(1)).alias("row_count"))
        got = w.manifest(spark).select(*group, "row_count")
        assert got.dtypes == expected.dtypes
        assert _sorted(got.collect()) == _sorted(expected.collect())
        if parts:  # several files per partition: the footers are summed
            assert any(sum(f.startswith("part-") for f in files) > 1
                       for _d, _s, files in os.walk(snap_dir))
        cols = df.columns
        assert _sorted(w.read(spark).select(cols).collect()) == _sorted(
            oracle.select(cols).collect())
    finally:
        spark.conf.set(key, prev)


# ------------------------------------------------ one Spark job per commit


def _jobs_run(spark, fn):
    """(fn(), number of Spark jobs fn started), counted by job group."""
    sc = spark.sparkContext
    group = f"writer-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count the writer's jobs")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_commit_runs_only_the_data_write(spark, tmp_path):
    w = SnapshotWriter(str(tmp_path / "tbl"))
    df = spark.range(10)
    assert _jobs_run(spark, lambda: w.commit(df, "s1")) == (True, 1)
    assert _jobs_run(spark, lambda: w.commit(df, "s2")) == (True, 1)
    assert _jobs_run(spark, lambda: w.commit(df, "s1")) == (False, 0)
    assert w.read(spark).count() == 20


# ------------------------------------------------ crash safety and old tables


def _write_parquet(path, table):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def test_leftover_temp_log_files_are_invisible(spark, tmp_path):
    """A crash inside a log append leaves a dot-prefixed temp file; no
    reader may take its rows, and the retry commits over it."""
    w = SnapshotWriter(str(tmp_path / "tbl"))
    # a crash before the first manifest file landed: only the temp file
    _write_parquet(
        os.path.join(w.manifest_path, ".s0.parquet.tmp"),
        pa.table({SNAPSHOT_COL: ["s0"], "row_count": [5]}),
    )
    assert w.committed_snapshots(spark) == set()
    assert w.manifest(spark) is None

    assert w.commit(spark.range(3), "s1")
    for log, cols in ((w.manifest_path, {"row_count": [7]}),
                      (w.schema_path, {"schema_json": ["{}"]})):
        _write_parquet(os.path.join(log, ".s2.parquet.tmp"),
                       pa.table({SNAPSHOT_COL: ["s2"], **cols}))
    spark.range(7).withColumn(SNAPSHOT_COL, F.lit("s2")).write.partitionBy(
        SNAPSHOT_COL).mode("append").parquet(w.data_path)
    assert w.committed_snapshots(spark) == {"s1"}
    assert {r[0] for r in w.manifest(spark).collect()} == {"s1"}
    assert w.read(spark).count() == 3

    assert w.commit(spark.range(7), "s2")  # the retry overwrites the debris
    assert w.committed_snapshots(spark) == {"s1", "s2"}
    assert w.read(spark).count() == 10
    for log in (w.manifest_path, w.schema_path):
        assert not os.path.exists(os.path.join(log, ".s2.parquet.tmp"))


def _spark_commit(w, df, snapshot_id, partition_cols):
    """A commit as tables were written before the logs moved to the
    driver: the manifest and schema rows are appended by Spark."""
    spark = df.sparkSession
    out = df.withColumn(SNAPSHOT_COL, F.lit(snapshot_id))
    t0 = time.monotonic()
    out.write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(
        SNAPSHOT_COL, *partition_cols).parquet(w.data_path)
    latency = time.monotonic() - t0
    committed_at = time.time()
    stats = (
        spark.read.schema(out.schema).option("basePath", w.data_path)
        .parquet(os.path.join(w.data_path, f"{SNAPSHOT_COL}={snapshot_id}"))
        .groupBy(SNAPSHOT_COL, *partition_cols).agg(F.count(F.lit(1)).alias("row_count"))
        .withColumn("write_latency_sec", F.lit(latency))
        .withColumn("committed_at_unix", F.lit(committed_at))
    )
    spark.createDataFrame(
        [(snapshot_id, committed_at, out.schema.json())],
        schema=f"{SNAPSHOT_COL} string, committed_at_unix double, schema_json string",
    ).coalesce(1).write.mode("append").parquet(w.schema_path)
    spark.createDataFrame(stats.collect(), stats.schema).coalesce(1).write.mode(
        "append").parquet(w.manifest_path)
    with open(os.path.join(w.root, "_schema_latest.json"), "w") as f:
        f.write(out.schema.json())


def test_table_with_spark_written_logs_still_commits(spark, tmp_path):
    w = SnapshotWriter(str(tmp_path / "tbl"))
    df = spark.range(12).select(
        F.col("id").alias("v"), (F.col("id") % 3).cast("string").alias("day"))
    _spark_commit(w, df, "old", ["day"])
    assert w.committed_snapshots(spark) == {"old"}
    assert w.read(spark).count() == 12
    assert w.commit(df, "old", partition_cols=["day"]) is False  # replay no-op

    assert w.commit(df.withColumn("v", F.col("v") + 100), "new", partition_cols=["day"])
    assert w.committed_snapshots(spark) == {"old", "new"}
    assert w.read(spark).count() == 24
    assert w.read_at(spark, "old").count() == 12
    for log in (w.manifest_path, w.schema_path):  # one Spark file, one driver file
        files = [os.path.join(log, f) for f in os.listdir(log) if f.endswith(".parquet")]
        assert len(files) == 2
        assert len({tuple(spark.read.parquet(f).dtypes) for f in files}) == 1
    m = w.manifest(spark)
    assert {(r[0], r[1]) for r in m.groupBy(SNAPSHOT_COL).sum("row_count").collect()} == {
        ("old", 12), ("new", 12)}
    assert mx.compact(w, spark, "old")["files_after"] == 3
    assert w.read(spark).count() == 24
