"""Structured Streaming surface: live-tail ingestion of transcript turns
with watermarked session aggregation and stateful per-turn features.

The reference's streaming path is a Kinesis->Lambda micro-batch loop with
no watermark, no state, no late-data handling (SURVEY.md §1.1,
transformation_function/app.py:325-370). Here the same unbounded-stream
semantics are expressed natively:

* :func:`read_turn_stream` — file-source stream (maxFilesPerTrigger
  bounds micro-batch size; swap for the Kinesis/Kafka connector on a real
  bus — the downstream plan is identical).
* :func:`sessionized_stream` — watermark + ``session_window`` grouped agg:
  late turns within the watermark merge into their session; later ones are
  dropped deterministically instead of corrupting history.
* :func:`stateful_turn_features` — ``applyInPandasWithState`` per-conv
  running state (session counter, user-turn count, tool forward-fill):
  the streaming analog of the batch feature block for features that only
  need O(1) state per entity.
* :func:`dedup_stream` — ``dropDuplicatesWithinWatermark`` exact dedup
  with bounded key state (at-least-once bus replays collapse to one row).
* :func:`stream_interval_join` — stream-stream interval join with
  two-sided event-time bounds (tool results attach to the invoking turn;
  join state expires with the watermark).
* :func:`incremental_feature_job` — ``foreachBatch`` bridge: each
  micro-batch is appended through the idempotent SnapshotWriter (batch id
  = snapshot id), so replays after failure do not duplicate output. Full
  window recompute over history stays a batch job (plans/writer resume) —
  the state the streaming path carries is deliberately O(1)/entity.
* :func:`incremental_dedup_job` — ingest-time near-dup gate: each
  micro-batch joins the persisted MinHash band index, candidates and
  clean docs commit idempotently, the clean docs' bands extend the index
  as an overwrite-by-batch-id delta (exactly-once index growth).

Batch/stream unification: ``sessionized_stream``'s aggregation body is the
same expression used by the batch ``session_window`` query in
``__spark_entry__`` — one definition, two execution modes. The live-tail
flagship is the composition ``stateful_turn_features`` ->
``asof_enrich_stream`` (stateless, so it follows the stateful operator in
append mode); tests/test_streaming.py::test_flagship_stream_matches_batch
pins it column for column against the batch ``fused.asof_turn_features``.
Agent-loop detection has no streaming form: it is the batch
``operators/turnsim.consecutive_turn_similarity``.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions.timeops import eventday

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def read_turn_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType = TRANSCRIPT_SCHEMA,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def sessionized_stream(
    turns: DataFrame,
    gap_seconds: int = 1800,
    watermark: str = "1 hour",
    ts_col: str = "ts",
    entity: str = "conv_id",
) -> DataFrame:
    """Per-(entity, session) aggregate with late-data bound ``watermark``.
    Output mode must be 'append'/'update' downstream; sessions close once
    the watermark passes their end."""
    return (
        turns.withWatermark(ts_col, watermark)
        .groupBy(
            F.session_window(F.col(ts_col), f"{gap_seconds} seconds").alias("sw"),
            F.col(entity),
        )
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum((F.col("role") == "user").cast("long")).alias("n_user_turns"),
        )
        .select(
            entity,
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_turns",
            "n_user_turns",
        )
    )


STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_ts_us", T.LongType()),
        T.StructField("session_id", T.LongType()),
        T.StructField("user_cum", T.LongType()),
        T.StructField("last_tool", T.StringType()),
    ]
)

STATEFUL_OUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("session_id", T.LongType()),
        T.StructField("user_turn_cum", T.LongType()),
        T.StructField("tool_ffill", T.StringType()),
    ]
)


# the batch feature block's default session gap (1,800 s), in microseconds
SESSION_GAP_US = 1_800_000_000


def _turn_features_with_state(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-conversation O(1) state: (last_ts_us, session_id, user_cum,
    last_tool). Turns inside a micro-batch are sorted by (ts, turn_idx) —
    the same tie-break as the batch block; state carries across batches.

    Ordering contract ACROSS micro-batches: the watermark does not filter
    ``applyInPandasWithState`` input, so a turn arriving in a later batch
    with ``ts`` earlier than the stored ``last_ts_us`` would silently
    corrupt session_id/user_turn_cum/tool_ffill. Such late rows are DROPPED
    here (deterministically — same policy as the watermark on the
    session-window aggregate); run the batch window block to recompute
    history if late data matters.

    Vectorized: numpy cumsum of gap flags / user indicators with carry-in
    from state — no per-row Python even in the live-tail path.
    """
    import numpy as np

    if state.exists:
        last_ts_us, session_id, user_cum, last_tool = state.get
    else:
        last_ts_us, session_id, user_cum, last_tool = None, -1, 0, None

    out = []
    for pdf in pdfs:
        pdf = pdf.sort_values(["ts", "turn_idx"], kind="mergesort")
        tus = (pdf["ts"].astype("int64").to_numpy() // 1000)  # ns -> us
        if last_ts_us is not None:
            keep = tus >= last_ts_us
            if not keep.all():
                pdf, tus = pdf[keep], tus[keep]  # drop late arrivals
        if len(pdf) == 0:
            continue
        prev = np.empty_like(tus)
        prev[1:] = tus[:-1]
        prev[0] = tus[0]  # placeholder — flags[0] is set by the branch below
        flags = (tus - prev > SESSION_GAP_US).astype("int64")
        # first row: new session iff no prior state, else gap vs carried
        # last_ts_us — explicit branch, not sentinel arithmetic (an int64-min
        # sentinel makes tus[0]-prev[0] wrap and only looked right because
        # flags[0] was then overwritten)
        flags[0] = 1 if last_ts_us is None else int(
            tus[0] - last_ts_us > SESSION_GAP_US
        )
        sess = session_id + np.cumsum(flags)
        ucum = user_cum + np.cumsum((pdf["role"] == "user").to_numpy(dtype="int64"))
        tool_f = pdf["tool"].ffill()
        if last_tool is not None:
            tool_f = tool_f.fillna(last_tool)

        session_id = int(sess[-1])
        user_cum = int(ucum[-1])
        last_ts_us = int(tus[-1])
        nn = pdf["tool"].dropna()
        if len(nn):
            last_tool = nn.iloc[-1]
        out.append(
            pd.DataFrame(
                {
                    "conv_id": key[0],
                    "turn_idx": pdf["turn_idx"].to_numpy(),
                    "role": pdf["role"].to_numpy(),
                    "ts": pdf["ts"].to_numpy(),
                    "session_id": sess,
                    "user_turn_cum": ucum,
                    "tool_ffill": tool_f.to_numpy(),
                }
            )
        )

    state.update((last_ts_us, session_id, user_cum, last_tool))
    yield from out


def stateful_turn_features(
    turns: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Streaming per-turn features via ``applyInPandasWithState``.

    Each conversation's micro-batch rows go through one vectorized numpy
    pass with O(1) carried state (:func:`_turn_features_with_state`); the
    batch path remains the window block. This operator exists for
    live-tail latency, not bulk throughput: a warm micro-batch is
    dominated by per-task fixed cost, so its state has one partition per
    core (``spark.sql.shuffle.partitions``, see ``session.get_spark``),
    one wave of Python tasks per batch.

    The session gap is fixed at the batch block's default of 1,800 s
    (``SESSION_GAP_US``); it is not a parameter.
    """
    return (
        turns.withWatermark("ts", watermark)
        .groupBy("conv_id")
        .applyInPandasWithState(
            _turn_features_with_state,
            outputStructType=STATEFUL_OUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def dedup_stream(
    turns: DataFrame,
    keys: tuple[str, ...] = ("conv_id", "turn_idx"),
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup for at-least-once buses (a replayed Kinesis
    shard re-delivers whole batches — the reference appends them twice,
    transformation_function/app.py:404-411). ``dropDuplicatesWithinWatermark``
    keeps one row per key and expires key state once the watermark passes,
    so state is bounded by (keys arriving within the watermark window), not
    by stream history — the property that lets it run forever at bus scale.

    Batch/stream unification (same contract as ``sessionized_stream``):
    ``dropDuplicatesWithinWatermark`` is streaming-only in Spark, so on a
    batch frame this runs its documented batch equivalence
    ``dropDuplicates(keys)`` — one operator definition, two execution
    modes, equivalence pinned by test AND by the driver's differential
    gate (``dedup_stream_batch``)."""
    if not turns.isStreaming:
        return turns.dropDuplicates(list(keys))
    return turns.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def stream_interval_join(
    probe: DataFrame,
    build: DataFrame,
    on: str = "conv_id",
    probe_ts: str = "ts",
    build_ts: str = "event_ts",
    horizon_seconds: int = 300,
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream INTERVAL join: attach each build-side event to every
    probe row it follows within ``horizon_seconds`` (e.g. tool results
    landing after the turn that invoked them). Both sides carry watermarks
    and the join condition bounds event time on BOTH ends — exactly what
    Structured Streaming requires to expire join state instead of buffering
    the streams forever. ``build_ts`` must differ from ``probe_ts`` (the
    joined row carries both). Batch equivalence: the identical ``join``
    expression on static frames (pinned by test)."""
    if probe_ts == build_ts:
        raise ValueError("rename the build-side timestamp: probe_ts == build_ts")
    # plan aliases disambiguate the key columns even when probe and build
    # derive from the SAME source (the batch gate does exactly that) —
    # p[on] == b[on] would compare one attribute to itself and trip
    # pyspark's "trivially true equals predicate" WARN
    p = probe.withWatermark(probe_ts, watermark).alias("__sij_p")
    b = build.withWatermark(build_ts, watermark).alias("__sij_b")
    cond = (
        (F.col(f"__sij_p.{on}") == F.col(f"__sij_b.{on}"))
        & (F.col(build_ts) >= F.col(probe_ts))
        & (
            F.col(build_ts)
            <= F.col(probe_ts) + F.expr(f"INTERVAL {int(horizon_seconds)} SECONDS")
        )
    )
    return p.join(b, cond, "inner").drop(F.col(f"__sij_b.{on}"))


def asof_enrich_stream(
    turns: DataFrame,
    features: DataFrame,
    on: str = "conv_id",
    ts: str = "ts",
    build_cols: list[str] | None = None,
    strict: bool = False,
) -> DataFrame:
    """Streaming point-in-time enrichment: as-of join a LIVE turn stream
    against a STATIC feature table (the online inference-time analog of
    the batch flagship — each arriving turn picks the latest feature row
    with ``feature_ts <= ts``, or strictly ``<`` for leakage-free
    serving).

    This is the interval-form as-of (operators/asof.asof_join_interval)
    applied unchanged to a streaming probe — legal because that operator's
    ONLY window runs on the static build side; the stream side is a plain
    non-equi stream-static left join, which Structured Streaming executes
    per micro-batch with no watermark and no join state. One operator
    definition, two execution modes (the same batch/stream unification
    contract as ``sessionized_stream``; equivalence to the batch as-of is
    pinned by test).

    The static side is re-planned per micro-batch, so pointing it at a
    SnapshotWriter/bucketed table makes feature updates visible to the
    next batch without restarting the stream. For exactly-once output,
    chain into ``incremental_feature_job``'s foreachBatch sink."""
    from ..operators.asof import asof_join_interval

    return asof_join_interval(
        turns, features, on=on, ts=ts, build_cols=build_cols, strict=strict
    )


def asof_enrich_stream_skinny(
    turns: DataFrame,
    log: DataFrame | None = None,
    sources: list[str] | None = None,
    source_col: str = "feature",
    value_col: str = "value",
    on: str = "conv_id",
    ts: str = "ts",
    strict: bool = False,
    asof_ts_suffix: str = "_asof_ts",
    intervals: DataFrame | None = None,
) -> DataFrame:
    """Streaming K-feature point-in-time assembly from ONE skinny EAV
    feature log — the live-tail analog of the batch single-pass
    ``asof_join_skinny`` (which is not streamable as-is: its union+window
    runs over the probe side).

    Rewrite: the log is widened into piecewise-constant K-vector
    validity intervals (``operators.asof.skinny_to_intervals``, shared
    with the batch interval form); each arriving turn then takes a
    single STATELESS stream-static interval join
    (``operators.asof.asof_join_over_intervals``) — no watermark, no join
    state, exactly one matching interval per turn, regardless of K.

    Two calling modes. PER-REFRESH (preferred at scale): widen once with
    ``skinny_to_intervals``, ``.persist()`` or materialize the result,
    and pass it as ``intervals=`` — the window-heavy widening is then
    paid per feature-table refresh (refresh = unpersist, rebuild from
    the new log, persist again). CONVENIENCE: pass the raw ``log`` +
    ``sources`` and the widening is folded into the static plan — Spark
    re-executes an un-cached static plan on EVERY micro-batch, so this
    mode pays the widening per batch (fine for small logs, wrong at
    scale). The
    per-feature ``{s}{asof_ts_suffix}`` / ``{s}_{value_col}`` columns
    carried by the interval row are each feature's own latest update, so
    the output schema matches the batch form column-for-column (pinned
    by tests/test_streaming.py::test_skinny_enrich_stream_matches_batch).

    Tie semantics ride the interval inequality, not the widening (which
    is always inclusive): non-strict matches the interval starting AT
    the turn's ts (an update at T is visible to turns at T); ``strict``
    shifts to the PREVIOUS interval — state as of strictly-before-T —
    mirroring ``asof_join_interval``'s bounds. Turns earlier than every
    change point keep NULLs (left join), like every batch as-of form.

    Hot entities: the batch interval form pays O(p_e x b_e) band
    comparisons per entity and routes hot entities away
    (``asof_join_skinny_routed``, BASELINE.md §7.15). In live-tail mode
    that blowup is naturally bounded — p_e per MICRO-BATCH is at most
    the batch size, so the per-batch band cost is O(batch x b_e) and no
    router is needed; what a hot conversation does inflate is the
    static interval table (b_e rows), which is per-refresh widening
    cost, not stream state.
    """
    from ..operators.asof import asof_join_over_intervals, skinny_to_intervals

    if intervals is None:
        if log is None or sources is None:
            raise ValueError(
                "pass either a pre-widened intervals= table or log= + sources="
            )
        intervals = skinny_to_intervals(
            log, sources, source_col=source_col, value_col=value_col,
            on=on, ts=ts, asof_ts_suffix=asof_ts_suffix,
        )
    return asof_join_over_intervals(
        turns, intervals, on=on, ts=ts, strict=strict
    )


def incremental_dedup_job(
    docs: DataFrame,
    index_root: str,
    writer_root: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
    band_size: int = 2,
) -> Any:
    """Streaming ingest dedup against a GROWING on-disk MinHash band
    index — :func:`operators.dedup.dedup_incremental` in ``foreachBatch``
    form. Each micro-batch is a closed ingest unit:

    1. its band buckets join against the CURRENT index (a parquet
       directory of per-batch deltas under ``index_root``; seed it with
       the corpus's :func:`~..operators.dedup.minhash_band_buckets`
       output in any subdirectory NOT named ``batch-*`` — that prefix
       is the job's reserved delta namespace, and a seed inside it
       would be shadowed by the same-id batch and then overwritten);
    2. batch docs with >=1 candidate match commit to the ``candidates``
       table (``(doc_new, doc_old, n_shared_bands)`` — feed the same
       n-gram-Jaccard verify stage as the batch path); the clean
       remainder commits to the ``clean`` table — both through the
       idempotent SnapshotWriter with batch id == snapshot id, so a
       replayed micro-batch is a no-op on BOTH tables;
    3. the clean docs' band rows land at ``index_root/batch-<id>``
       with overwrite mode — a replay overwrites the identical delta
       (the bands are a pure function of the clean set) instead of
       appending duplicate index rows, so index growth is exactly-once
       too. A delta counts as written only once its ``_SUCCESS`` marker
       exists (a crash mid-write leaves a markerless dir that the retry
       rewrites and readers skip — bare dir-existence would lose the
       batch's index rows forever). A replayed batch also EXCLUDES its
       own delta from the read in step 1; without that, its earlier
       append would mark every one of its docs as a duplicate of
       itself.

    Intra-batch duplicates are out of scope by contract (the operator is
    batch-vs-corpus); run ``minhash_candidate_pairs`` over the batch in
    the same sink when ingest units can self-duplicate.

    At scale: per micro-batch cost = ONE shingle pass over the batch
    (its band table is persisted and shared by the match join, the
    clean-set anti-join, and the delta write) + one hash join against
    the 3-column index (uniform md5 keys, no skew) — the index is never
    re-derived from corpus text, and state lives entirely in storage
    (no streaming state store), so the query restarts from the
    checkpoint with nothing to rebuild."""
    import os

    from ..operators.dedup import dedup_incremental, minhash_band_buckets
    from ..plans.writer import SnapshotWriter

    clean_w = SnapshotWriter(os.path.join(writer_root, "clean"))
    cand_w = SnapshotWriter(os.path.join(writer_root, "candidates"))
    os.makedirs(index_root, exist_ok=True)

    def _complete(name: str) -> bool:
        return os.path.exists(os.path.join(index_root, name, "_SUCCESS"))

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        snap = f"batch-{batch_id:012d}"
        parts = []
        for d in sorted(os.listdir(index_root)):
            if not os.path.isdir(os.path.join(index_root, d)):
                continue
            if d.startswith("batch-"):
                # job-owned delta: skip our own id (replay) and any
                # crash-torn dir without its _SUCCESS marker
                if d == snap or not _complete(d):
                    continue
            parts.append(os.path.join(index_root, d))
        # the batch's bands are computed ONCE and persisted: the match
        # join, the anti-join's dup set, and the index delta all read
        # this frame — without it each consumer re-runs the shingle+md5
        # pipeline (the dominant per-batch cost)
        nb = minhash_band_buckets(
            batch_df, text_col, id_col, n_hashes, band_size
        ).persist()
        matches = None
        try:
            # empty index (first ever batch, no seed): zero-row index of
            # the right schema — everything lands clean
            idx = s.read.parquet(*parts) if parts else nb.limit(0)
            matches = dedup_incremental(
                idx, text_col=text_col, id_col=id_col,
                n_hashes=n_hashes, band_size=band_size, new_bands=nb,
            ).persist()
            dup_ids = matches.select(
                F.col("doc_new").alias(id_col)
            ).distinct()
            clean = batch_df.join(dup_ids, id_col, "left_anti")
            cand_w.commit(matches, snapshot_id=snap)
            committed = clean_w.commit(clean, snapshot_id=snap)
            if committed or not _complete(snap):
                nb.join(dup_ids, id_col, "left_anti").write.mode(
                    "overwrite"
                ).parquet(os.path.join(index_root, snap))
        finally:
            if matches is not None:
                matches.unpersist()
            nb.unpersist()

    return (
        docs.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )


def incremental_feature_job(
    turns: DataFrame,
    writer_root: str,
    checkpoint_dir: str,
) -> Any:
    """foreachBatch bridge into the idempotent snapshot writer: batch id ==
    snapshot id, so a replayed micro-batch is a no-op commit (exactly-once
    output on top of at-least-once delivery — fixes the reference's
    duplicate-on-retry behavior, SURVEY.md §4.1)."""
    from ..plans.writer import SnapshotWriter

    writer = SnapshotWriter(writer_root)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        writer.commit(batch_df.withColumn("eventday", eventday("ts")),
                      snapshot_id=f"batch-{batch_id:012d}",
                      partition_cols=["eventday"])

    return (
        turns.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
