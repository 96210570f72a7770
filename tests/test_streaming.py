"""Structured Streaming tests: micro-batched file source, watermarked
session aggregation, cross-batch stateful features, idempotent foreachBatch
sink. Inputs are split into multiple files so maxFilesPerTrigger=1 forces
REAL multi-micro-batch execution (state must carry across batches)."""

from __future__ import annotations

import json
import os
import re
import shutil

import pandas as pd
import pytest

from pyspark.sql import functions as F

from amazon_security_lake_transformation_library_spark.operators.features import build_turn_features
from amazon_security_lake_transformation_library_spark.streaming import pipeline as sp
from amazon_security_lake_transformation_library_spark.synth.transcripts import gen_transcripts


@pytest.fixture(scope="module")
def stream_input(tmp_path_factory, spark):
    """Transcripts split into 3 parquet files by time (arrival order)."""
    root = str(tmp_path_factory.mktemp("stream_in"))
    pdf = gen_transcripts(n_convs=12, mean_turns=12, seed=7)
    pdf = pdf.sort_values(["ts", "conv_id", "turn_idx"], kind="mergesort")
    n = len(pdf)
    cuts = [0, n // 3, 2 * n // 3, n]
    import pyarrow as pa
    import pyarrow.parquet as pq
    for i in range(3):
        part = pdf.iloc[cuts[i]:cuts[i + 1]]
        pq.write_table(
            pa.Table.from_pandas(part, preserve_index=False),
            os.path.join(root, f"part-{i}.parquet"),
        )
    return root, pdf


def _run_to_memory(df, name, tmpdir):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(tmpdir, name))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_stateful_features_match_batch(spark, stream_input, tmp_path):
    root, pdf = stream_input
    stream = sp.read_turn_stream(spark, root, max_files_per_trigger=1)
    feats = sp.stateful_turn_features(stream, watermark="100 days")
    _run_to_memory(feats, "feat_stream", str(tmp_path))
    got = (
        spark.sql("SELECT * FROM feat_stream")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )
    assert len(got) == len(pdf)

    batch = (
        build_turn_features(spark.createDataFrame(pdf))
        .select("conv_id", "turn_idx", "session_id", "user_turn_cum", "tool_ffill")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )
    for col in ("session_id", "user_turn_cum", "tool_ffill"):
        pd.testing.assert_series_equal(
            got[col].reset_index(drop=True),
            batch[col].reset_index(drop=True),
            check_names=False, check_dtype=False,
        )


def _offset_conf(ckpt: str, batch_id: int) -> dict:
    """The session conf a checkpoint's offset log recorded for a batch."""
    with open(os.path.join(ckpt, "offsets", str(batch_id))) as f:
        return json.loads(f.read().splitlines()[1])["conf"]


def _state_partitions(ckpt: str) -> int:
    return sum(n.isdigit() for n in os.listdir(os.path.join(ckpt, "state", "0")))


def test_stream_state_one_partition_per_core(spark, stream_input, tmp_path):
    """Streaming runs without AQE at ``spark.sql.shuffle.partitions``, which
    get_spark sets to one partition per core: one wave of stateful Python
    tasks per micro-batch. Batch plans keep the wider
    ``initialPartitionNum``."""
    root, pdf = stream_input
    cores = spark.sparkContext.defaultParallelism
    wide = int(spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum"))
    assert wide > cores  # the test session: local[4], shuffle_partitions=8

    stream = sp.read_turn_stream(spark, root)
    _run_to_memory(sp.stateful_turn_features(stream, watermark="100 days"),
                   "per_core", str(tmp_path))
    ckpt = str(tmp_path / "per_core")
    assert _offset_conf(ckpt, 0)["spark.sql.shuffle.partitions"] == str(cores)
    assert _state_partitions(ckpt) == cores

    plan = (spark.createDataFrame(pdf).groupBy("conv_id").count()
            ._jdf.queryExecution().executedPlan().toString())
    widths = re.findall(r"hashpartitioning\(conv_id#\d+L?, (\d+)\)", plan)
    assert widths == [str(wide)], plan


def test_stream_restart_keeps_recorded_partitions(spark, stream_input, tmp_path):
    """A live-tail checkpoint written with 8 state partitions resumes with 8
    under a session that starts a fresh query with one per core, and it
    commits the same stateful features as a fresh run over the same files."""
    from amazon_security_lake_transformation_library_spark.plans.writer import SnapshotWriter

    root, _ = stream_input
    files = sorted(os.listdir(root))
    inp = tmp_path / "restart_in"
    inp.mkdir()

    def release(names):
        for name in names:
            shutil.copy(os.path.join(root, name), inp)
            t = 1_700_000_000 + files.index(name)  # the source orders by mtime
            os.utime(inp / name, (t, t))

    def run(src, name):
        feats = sp.stateful_turn_features(sp.read_turn_stream(spark, src),
                                          watermark="100 days")
        q = sp.incremental_feature_job(
            feats, str(tmp_path / name / "table"), str(tmp_path / name / "ckpt")
        ).trigger(availableNow=True).start()
        q.awaitTermination(120)
        return str(tmp_path / name / "ckpt")

    release(files[:1])
    cores = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        run(str(inp), "resumed")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", cores)
    release(files[1:])
    ckpt = run(str(inp), "resumed")
    assert [_offset_conf(ckpt, b)["spark.sql.shuffle.partitions"]
            for b in range(len(files))] == ["8"] * len(files)
    assert _state_partitions(ckpt) == 8

    fresh_ckpt = run(root, "fresh")
    assert _state_partitions(fresh_ckpt) == int(cores) < 8

    def committed(name):
        cols = [f.name for f in sp.STATEFUL_OUT_SCHEMA.fields]
        return (SnapshotWriter(str(tmp_path / name / "table")).read(spark)
                .select(*cols).toPandas()
                .sort_values(["conv_id", "turn_idx"], kind="mergesort")
                .reset_index(drop=True))

    resumed, fresh = committed("resumed"), committed("fresh")
    assert len(fresh) > 0
    pd.testing.assert_frame_equal(resumed, fresh)


def test_stateful_features_drop_late_rows(spark, tmp_path):
    """A turn arriving in a LATER micro-batch with ts earlier than the
    stored state's last_ts is dropped (documented policy) instead of
    silently corrupting session/cumsum/ffill state."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "late_in")
    os.makedirs(root)
    base = pd.Timestamp("2024-01-01")

    def mk(rows, name):
        pdf = pd.DataFrame(
            rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
        )
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                       os.path.join(root, name))

    mk([("c", 0, "user", "a", None, base),
        ("c", 1, "assistant", "b", "tool_01", base + pd.Timedelta(seconds=100))],
       "part-0.parquet")
    mk([("c", 9, "user", "late", "tool_99", base - pd.Timedelta(seconds=50)),
        ("c", 2, "user", "c", None, base + pd.Timedelta(seconds=200))],
       "part-1.parquet")

    stream = sp.read_turn_stream(spark, root, max_files_per_trigger=1)
    feats = sp.stateful_turn_features(stream, watermark="100 days")
    _run_to_memory(feats, "late_stream", str(tmp_path))
    got = spark.sql("SELECT * FROM late_stream").toPandas()
    assert sorted(got["turn_idx"]) == [0, 1, 2]  # turn 9 (late) dropped
    row2 = got[got["turn_idx"] == 2].iloc[0]
    assert row2["user_turn_cum"] == 2            # late user turn not counted
    assert row2["tool_ffill"] == "tool_01"       # late tool not carried


def test_sessionized_stream_matches_batch_session_window(spark, stream_input, tmp_path):
    # append mode emits a session only once the watermark passes its end:
    # with a 1s watermark every session except those ending within 1s of
    # the stream's max event time must be emitted, each exactly matching
    # the batch session_window aggregation.
    root, pdf = stream_input
    stream = sp.read_turn_stream(spark, root, max_files_per_trigger=1)
    sess = sp.sessionized_stream(stream, gap_seconds=1800, watermark="1 second")
    _run_to_memory(sess, "sess_stream", str(tmp_path))
    got = spark.sql(
        "SELECT conv_id, session_start, session_end, n_turns, n_user_turns "
        "FROM sess_stream"
    ).toPandas().sort_values(["conv_id", "session_start"]).reset_index(drop=True)

    batch = (
        spark.createDataFrame(pdf)
        .groupBy(F.session_window("ts", "1800 seconds").alias("sw"), "conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum((F.col("role") == "user").cast("long")).alias("n_user_turns"),
        )
        .select("conv_id", F.col("sw.start").alias("session_start"),
                F.col("sw.end").alias("session_end"), "n_turns", "n_user_turns")
        .toPandas().sort_values(["conv_id", "session_start"]).reset_index(drop=True)
    )

    # every emitted session matches a batch session exactly
    merged = got.merge(
        batch, on=["conv_id", "session_start", "session_end",
                   "n_turns", "n_user_turns"], how="inner"
    )
    assert len(merged) == len(got)
    # and everything the watermark allowed to close was emitted
    horizon = pdf["ts"].max() - pd.Timedelta(seconds=1)
    closeable = batch[batch["session_end"] <= horizon]
    assert len(got) >= len(closeable) > 0


def test_dedup_stream_collapses_replayed_batches(spark, stream_input, tmp_path):
    """An at-least-once bus re-delivers a whole file: the watermarked
    streaming dedup emits each (conv_id, turn_idx) exactly once, matching
    batch dropDuplicates on the same keys."""
    import shutil

    root, pdf = stream_input
    replay_root = str(tmp_path / "replay_in")
    os.makedirs(replay_root)
    for name in sorted(os.listdir(root)):
        shutil.copy(os.path.join(root, name), os.path.join(replay_root, name))
    # replay part-1 as a later arrival (same rows, new file)
    shutil.copy(os.path.join(root, "part-1.parquet"),
                os.path.join(replay_root, "part-9-replayed.parquet"))

    stream = sp.read_turn_stream(spark, replay_root, max_files_per_trigger=1)
    deduped = sp.dedup_stream(stream, watermark="100 days")
    _run_to_memory(deduped, "dedup_stream", str(tmp_path))
    got = spark.sql("SELECT conv_id, turn_idx FROM dedup_stream").toPandas()

    assert len(got) == len(pdf)  # every duplicate collapsed
    assert not got.duplicated(["conv_id", "turn_idx"]).any()
    batch = pdf[["conv_id", "turn_idx"]].drop_duplicates()
    assert (
        set(map(tuple, got.itertuples(index=False)))
        == set(map(tuple, batch.itertuples(index=False)))
    )


def test_dedup_stream_batch_branch(spark, stream_input):
    """dedup_stream on a BATCH frame runs its documented batch equivalence
    (dropDuplicates on the keys) instead of raising the streaming-only
    dropDuplicatesWithinWatermark error — one operator, two modes."""
    root, pdf = stream_input
    turns = spark.read.parquet(root)
    dup = turns.unionAll(turns.limit(7))
    out = sp.dedup_stream(dup, watermark="100 days")
    assert not out.isStreaming
    got = out.toPandas()
    assert len(got) == len(pdf)
    assert not got.duplicated(["conv_id", "turn_idx"]).any()


def test_stream_interval_join_matches_batch(spark, stream_input, tmp_path):
    """Stream-stream interval join == the identical join on static frames:
    tool turns (build side) attach to every user turn (probe side) they
    follow within the horizon, per conversation."""
    root, pdf = stream_input

    def split(df):
        probe = df.filter(F.col("role") == "user").select(
            "conv_id", "turn_idx", "ts"
        )
        build = df.filter(F.col("tool").isNotNull()).select(
            "conv_id",
            F.col("turn_idx").alias("event_idx"),
            F.col("ts").alias("event_ts"),
            "tool",
        )
        return probe, build

    sprobe, sbuild = split(sp.read_turn_stream(spark, root, max_files_per_trigger=1))
    joined = sp.stream_interval_join(
        sprobe, sbuild, horizon_seconds=600, watermark="100 days"
    )
    _run_to_memory(joined, "ssjoin_stream", str(tmp_path))
    cols = ["conv_id", "turn_idx", "event_idx", "tool"]
    got = (
        spark.sql("SELECT * FROM ssjoin_stream").toPandas()[cols]
        .sort_values(cols, kind="mergesort").reset_index(drop=True)
    )

    bprobe, bbuild = split(spark.read.parquet(root))
    cond = (
        (bprobe["conv_id"] == bbuild["conv_id"])
        & (F.col("event_ts") >= F.col("ts"))
        & (F.col("event_ts") <= F.col("ts") + F.expr("INTERVAL 600 SECONDS"))
    )
    batch = (
        bprobe.join(bbuild, cond, "inner").drop(bbuild["conv_id"])
        .toPandas()[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
    )
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, batch, check_dtype=False)


def test_foreach_batch_idempotent_sink(spark, stream_input, tmp_path):
    root, pdf = stream_input
    out_root = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    stream = sp.read_turn_stream(spark, root, max_files_per_trigger=1)
    q = sp.incremental_feature_job(stream, out_root, ckpt).trigger(
        availableNow=True
    ).start()
    q.awaitTermination(120)

    from amazon_security_lake_transformation_library_spark.plans.writer import SnapshotWriter
    writer = SnapshotWriter(out_root)
    got = writer.read(spark)
    assert got.count() == len(pdf)
    # three micro-batches -> three committed snapshots with lineage
    snaps = writer.committed_snapshots(spark)
    assert len(snaps) == 3
    mf = writer.manifest(spark)
    assert mf.agg(F.sum("row_count")).collect()[0][0] == len(pdf)

    # replaying a batch (same snapshot id) is a no-op, not a duplicate
    some_batch = spark.read.parquet(root).limit(50).withColumn(
        "eventday", F.date_format(F.col("ts").cast("timestamp"), "yyyyMMdd")
    )
    assert writer.commit(some_batch, snapshot_id=sorted(snaps)[0],
                         partition_cols=["eventday"]) is False
    assert writer.read(spark).count() == len(pdf)


def test_asof_enrich_stream_matches_batch(spark, stream_input, tmp_path):
    """Streaming point-in-time enrichment == the batch as-of join on the
    same rows: every arriving turn picks the latest static feature row at
    or before its timestamp, across micro-batch boundaries (the file
    splits land mid-conversation, so correctness requires the static-side
    interval window, not per-batch state)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from amazon_security_lake_transformation_library_spark.operators.asof import asof_join
    from amazon_security_lake_transformation_library_spark.synth.transcripts import (
        gen_conv_features,
    )

    root, pdf = stream_input
    fdir = str(tmp_path / "features")
    os.makedirs(fdir)
    pq.write_table(
        pa.Table.from_pandas(gen_conv_features(pdf), preserve_index=False),
        os.path.join(fdir, "features.parquet"),
    )
    features = spark.read.parquet(fdir)

    stream = sp.read_turn_stream(spark, root, max_files_per_trigger=1)
    enriched = sp.asof_enrich_stream(stream, features, build_cols=["feature_val"])
    _run_to_memory(enriched, "asof_stream", str(tmp_path))

    cols = ["conv_id", "turn_idx", "asof_ts", "feature_val"]
    got = (
        spark.sql("SELECT * FROM asof_stream").toPandas()[cols]
        .sort_values(["conv_id", "turn_idx"], kind="mergesort").reset_index(drop=True)
    )
    batch = (
        asof_join(spark.read.parquet(root), features, build_cols=["feature_val"])
        .toPandas()[cols]
        .sort_values(["conv_id", "turn_idx"], kind="mergesort").reset_index(drop=True)
    )
    assert len(got) == len(pdf)
    # every turn matches: the fixture's first feature row per conversation
    # lands AT turn 0's timestamp and non-strict as-of is <= (the probe-vs-
    # build tie semantics the fixture pins, synth/transcripts.py)
    assert got["feature_val"].notna().all()
    pd.testing.assert_frame_equal(got, batch, check_dtype=False)


def test_flagship_stream_matches_batch(spark, stream_input, tmp_path):
    """The composed live-tail flagship (stateful_turn_features ->
    stream-static asof_enrich_stream) equals the batch fused flagship on
    the shared columns, across micro-batch boundaries (files split
    mid-conversation, so both the per-entity state carry AND the as-of
    must be correct)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from amazon_security_lake_transformation_library_spark.operators.fused import (
        asof_turn_features,
    )
    from amazon_security_lake_transformation_library_spark.synth.transcripts import (
        gen_conv_features,
    )

    root, pdf = stream_input
    fdir = str(tmp_path / "features")
    os.makedirs(fdir)
    pq.write_table(
        pa.Table.from_pandas(gen_conv_features(pdf), preserve_index=False),
        os.path.join(fdir, "features.parquet"),
    )
    features = spark.read.parquet(fdir)

    stream = sp.read_turn_stream(spark, root, max_files_per_trigger=1)
    feats = sp.stateful_turn_features(stream, watermark="100 days")
    out = sp.asof_enrich_stream(feats, features, build_cols=["feature_val"])
    _run_to_memory(out, "flagship_stream", str(tmp_path))

    cols = ["conv_id", "turn_idx", "session_id", "user_turn_cum",
            "tool_ffill", "feature_val"]
    got = (
        spark.sql("SELECT * FROM flagship_stream").toPandas()[cols]
        .sort_values(["conv_id", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )
    batch = (
        asof_turn_features(spark.read.parquet(root), features)
        .toPandas()[cols]
        .sort_values(["conv_id", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )
    assert len(got) == len(pdf)
    pd.testing.assert_frame_equal(got, batch, check_dtype=False)


def _skinny_log_pdf(pdf, sources=("f0", "f1", "f2")):
    """Deterministic EAV feature log (shared synth.gen_feature_log)."""
    from amazon_security_lake_transformation_library_spark.synth.transcripts import (
        gen_feature_log,
    )

    return gen_feature_log(pdf, features=tuple(sources))


@pytest.mark.parametrize("strict", [False, True])
def test_skinny_enrich_stream_matches_batch(spark, stream_input, tmp_path, strict):
    """Streaming K-feature assembly from the EAV log == the batch
    single-pass asof_join_skinny on the same rows, across micro-batch
    boundaries and for both tie semantics. The stream side is ONE
    stateless interval join; the widening happens on the static side."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from amazon_security_lake_transformation_library_spark.operators.asof import (
        asof_join_skinny, skinny_to_intervals)

    root, pdf = stream_input
    sources = ["f0", "f1", "f2"]
    ldir = str(tmp_path / f"log_{strict}")
    os.makedirs(ldir)
    pq.write_table(
        pa.Table.from_pandas(_skinny_log_pdf(pdf, tuple(sources)),
                             preserve_index=False),
        os.path.join(ldir, "log.parquet"),
    )
    log = spark.read.parquet(ldir)

    stream = sp.read_turn_stream(spark, root, max_files_per_trigger=1)
    probe_cols = ["conv_id", "turn_idx", "ts"]
    enriched = sp.asof_enrich_stream_skinny(
        stream.select(*probe_cols), log, sources, strict=strict
    )
    name = f"skinny_stream_{int(strict)}"
    _run_to_memory(enriched, name, str(tmp_path))

    out_cols = probe_cols + [
        c for s in sources for c in (f"{s}_asof_ts", f"{s}_value")
    ]
    got = (
        spark.sql(f"SELECT * FROM {name}").toPandas()[out_cols]
        .sort_values(["conv_id", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )
    batch = (
        asof_join_skinny(
            spark.read.parquet(root).select(*probe_cols), log, sources,
            strict=strict,
        )
        .toPandas()[out_cols]
        .sort_values(["conv_id", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )
    assert len(got) == len(pdf)
    pd.testing.assert_frame_equal(got, batch, check_dtype=False)
    if not strict:
        # the fixture updates AT turn timestamps, so non-strict rows whose
        # turn_idx % 3 == 0 must see their own update: non-null everywhere
        # past each conv's first update
        assert got["f0_value"].notna().any()

    # the PER-REFRESH calling mode (pre-widened persisted intervals=) must
    # produce the same rows as the convenience log= mode
    iv = skinny_to_intervals(log, sources).persist()
    try:
        stream2 = sp.read_turn_stream(spark, root, max_files_per_trigger=1)
        enriched2 = sp.asof_enrich_stream_skinny(
            stream2.select(*probe_cols), intervals=iv, strict=strict
        )
        name2 = f"skinny_stream_iv_{int(strict)}"
        _run_to_memory(enriched2, name2, str(tmp_path))
        got2 = (
            spark.sql(f"SELECT * FROM {name2}").toPandas()[out_cols]
            .sort_values(["conv_id", "turn_idx"], kind="mergesort")
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got2, batch, check_dtype=False)
    finally:
        iv.unpersist()
    # neither mode without intervals nor without log+sources is valid
    with pytest.raises(ValueError):
        sp.asof_enrich_stream_skinny(stream.select(*probe_cols))


def test_incremental_dedup_job_stream_and_replay(spark, tmp_path):
    """r5: streaming ingest dedup vs a growing on-disk band index.
    Seed index from a 'corpus'; stream two ingest files; assert (a) file-1
    clones of corpus docs are flagged, (b) file-2 clones of file-1 CLEAN
    docs are flagged (the index grew), (c) clean/candidates tables and
    index deltas are exactly-once under a full replay (fresh checkpoint,
    same batch ids)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from amazon_security_lake_transformation_library_spark.operators import dedup as dd
    from amazon_security_lake_transformation_library_spark.plans.writer import SnapshotWriter

    def text(i):  # unique 6-token text per logical doc
        return " ".join(f"w{i}{c}" for c in "abcdef")

    corpus = pd.DataFrame({
        "doc_id": pd.array(range(100, 110), dtype="int64"),
        "text": [text(i) for i in range(10)],
    })
    # file 1: docs 200-207 fresh, 208-209 clone corpus docs 0 and 3
    f1 = pd.DataFrame({
        "doc_id": pd.array(range(200, 210), dtype="int64"),
        "text": [text(i) for i in range(20, 28)] + [text(0), text(3)],
    })
    # file 2: 300-306 fresh, 307 clones f1-clean doc 200 (caught only if
    # the index grew), 308 clones corpus doc 0, 309 clones f1 DUP 208's
    # text (== corpus 0's text -> still flagged, via the corpus entry)
    f2 = pd.DataFrame({
        "doc_id": pd.array(range(300, 310), dtype="int64"),
        "text": [text(i) for i in range(40, 47)]
        + [text(20), text(0), text(0)],
    })

    root = str(tmp_path / "ingest")
    os.makedirs(root)
    for i, part in enumerate((f1, f2)):
        path = os.path.join(root, f"part-{i}.parquet")
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False), path)
        # the source orders by mtime: two writes in one millisecond tie,
        # and a tie falls back to directory order, file 2 first here
        os.utime(path, (1_700_000_000 + i,) * 2)

    index_root = str(tmp_path / "index")
    os.makedirs(index_root)
    dd.minhash_band_buckets(
        spark.createDataFrame(corpus)
    ).write.parquet(os.path.join(index_root, "seed"))

    out_root = str(tmp_path / "dedup_out")

    def run(ckpt, iroot=index_root, oroot=out_root):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1).parquet(root)
        )
        q = sp.incremental_dedup_job(
            stream, iroot, oroot, str(tmp_path / ckpt)
        ).trigger(availableNow=True).start()
        assert q.awaitTermination(300), "streaming query did not finish"

    run("ckpt1")

    clean = SnapshotWriter(os.path.join(out_root, "clean"))
    cand = SnapshotWriter(os.path.join(out_root, "candidates"))
    got_clean = set(
        r[0] for r in clean.read(spark).select("doc_id").collect()
    )
    assert got_clean == ({*range(200, 208)} | {*range(300, 307)})
    pairs = {
        (r["doc_new"], r["doc_old"])
        for r in cand.read(spark).collect()
    }
    assert (208, 100) in pairs and (209, 103) in pairs   # corpus clones
    assert (307, 200) in pairs                           # grown-index hit
    assert (308, 100) in pairs and (309, 100) in pairs
    # flagged docs never enter the index: 307's only match is clean 200
    assert not any(new == 307 and old != 200 for new, old in pairs)
    deltas = sorted(d for d in os.listdir(index_root) if d != "seed")
    assert deltas == ["batch-000000000000", "batch-000000000001"]

    # full replay with a fresh checkpoint: same batch ids -> writer
    # no-ops, deltas not re-appended, outputs byte-identical
    n_clean, n_cand = clean.read(spark).count(), cand.read(spark).count()
    run("ckpt2")
    assert clean.read(spark).count() == n_clean
    assert cand.read(spark).count() == n_cand
    assert sorted(d for d in os.listdir(index_root) if d != "seed") == deltas

    # no seed, first batch has zero candidates: the empty-matches commit
    # must succeed (zero-row snapshot, manifest row, replay no-op) and
    # batch 1 must still catch dups of batch 0's clean docs
    iroot2, oroot2 = str(tmp_path / "index2"), str(tmp_path / "out2")
    os.makedirs(iroot2)
    run("ckpt3", iroot2, oroot2)
    clean2 = SnapshotWriter(os.path.join(oroot2, "clean"))
    cand2 = SnapshotWriter(os.path.join(oroot2, "candidates"))
    assert clean2.read(spark).count() == 17  # 10 (all of f1) + 7
    assert {r["doc_new"] for r in cand2.read(spark).collect()} == {307, 308, 309}
    assert len(clean2.committed_snapshots(spark)) == 2
    assert len(cand2.committed_snapshots(spark)) == 2  # incl. the empty one
