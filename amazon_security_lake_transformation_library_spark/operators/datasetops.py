"""Dataset-assembly operators for LLM training pipelines: deterministic
leakage-safe splits, data-mixture sampling, concat-and-chunk sequence
packing, sliding-window document chunking, and train/eval decontamination.

These extend the training-data surface next to textstats/dedup/similarity.
Reference analog: none — the reference library has no record-to-record
operators at all (SURVEY.md §2.B "joins: — none", "aggregations: — none");
this module is part of the north-rule/LLM-pipeline extension surface.

Every operator here is designed for the 100 TB shape first:

* ``split_assign`` / ``sample_stratified`` are PURE PROJECTIONS — a hash
  of the entity key against fixed hex thresholds. Zero shuffle, zero
  state, embarrassingly parallel, and the assignment of an entity is
  identical on any cluster size or partitioning (the property that makes
  a split reproducible across reruns and backfills).
* ``pack_greedy`` is the standard concat-and-chunk pretraining packer,
  run PER GROUP (shard): one hash-exchange on the group key + one
  in-partition sort, i.e. exactly the window shape Catalyst already
  optimizes; no global order, no driver state.
* ``chunk_tokens`` is explode-only (no shuffle): rows widen by the
  chunk factor inside the scan stage.
* ``decontaminate`` is the two-stage candidate shape every dedup op in
  this repo uses: bounded fingerprint generation (explode), hash-agg
  distinct on the small (train) side, then a SEMI join — never a
  cross product, and the train fingerprint set can be broadcast when it
  fits (AQE decides; at benchmark-suite scale it always broadcasts).

Splits are hash-threshold based: ``md5(salt || entity)`` is uniform on
[0, 16^4) over its first four hex nibbles, so a fraction ``f`` maps to
the lexicographic threshold ``format(floor(f * 65536), '04x')``. The
comparison stays in STRING space (lowercase hex in every engine), which
keeps the oracle a one-line ANSI-SQL CASE expression — no hex→int cast
portability trap.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "hash_bucket4",
    "split_assign",
    "sample_stratified",
    "pack_greedy",
    "chunk_tokens",
    "ngram_fingerprints",
    "decontaminate",
    "bloom_bitmap",
    "decontaminate_bloom",
    "semantic_decontaminate",
    "epoch_shuffle",
    "bootstrap_sample",
]


def hash_bucket4(entity: Column, salt: str) -> Column:
    """First 4 hex nibbles of md5(salt || entity) — a uniform, engine-
    portable bucket in string space ('0000'..'ffff'). ``entity`` must
    already be a string column (cast upstream so the byte representation
    is explicit and matches the oracle)."""
    return F.substring(F.md5(F.concat(F.lit(salt), entity)), 1, 4)


def _thresholds(fractions: Mapping[str, float]) -> list[tuple[str, str]]:
    """[(label, upper_hex_threshold_exclusive)] in declaration order. The
    final label is the CASE ``otherwise`` branch, so its threshold is
    never compared (returned as 'ffff' for readability only)."""
    total = sum(fractions.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"fractions must sum to 1, got {total}")
    out, cum = [], 0.0
    for label, frac in fractions.items():
        cum += frac
        out.append((label, format(min(int(cum * 65536), 65535), "04x")))
    return out


def split_assign(
    df: DataFrame,
    entity_col: str,
    fractions: Mapping[str, float] | None = None,
    salt: str = "split-v1",
    out_col: str = "split",
) -> DataFrame:
    """Deterministic, leakage-safe dataset split at ENTITY granularity.

    Every row whose ``entity_col`` hashes into the same bucket receives
    the same split label — so all turns of a conversation / all events of
    a user land in one split, the property that prevents cross-split
    leakage through shared context. Changing ``salt`` re-rolls the split;
    nothing else (row order, partitioning, cluster size) can.

    Scale shape: pure narrow projection (md5 + CASE) — no shuffle, no
    aggregation; at 100 TB this pipelines inside the scan stage.
    """
    fractions = fractions or {"train": 0.8, "val": 0.1, "test": 0.1}
    bucket = hash_bucket4(F.col(entity_col).cast("string"), salt)
    expr: Column | None = None
    pairs = _thresholds(fractions)
    for label, upper in pairs[:-1]:
        cond = bucket < F.lit(upper)
        expr = F.when(cond, F.lit(label)) if expr is None else expr.when(cond, F.lit(label))
    last_label = pairs[-1][0]
    expr = F.lit(last_label) if expr is None else expr.otherwise(F.lit(last_label))
    return df.withColumn(out_col, expr)


def split_temporal_embargo(
    df: DataFrame,
    cutoff: str,
    embargo_seconds: float = 0.0,
    ts: str = "ts",
    out_col: str = "split",
) -> DataFrame:
    """Leakage-safe TEMPORAL split: ``train`` strictly before
    ``cutoff - embargo``, ``test`` at/after ``cutoff``, and the rows in
    between labeled ``embargo`` (to be dropped by the caller).

    Why the gap: features built with a look-back horizon (rolling
    windows, as-of joins with tolerance) let a train row just before the
    cutoff share source events with a test row just after it; purging an
    embargo strip at least as long as the feature horizon removes that
    overlap (the purged/embargoed split of López de Prado, *Advances in
    Financial Machine Learning* §7 — the time-series analogue of
    :func:`split_assign`'s entity isolation). Use both together:
    entity-hash for BETWEEN-entity leakage, temporal embargo for
    WITHIN-entity look-ahead.

    ``cutoff`` is a timestamp literal string ('2024-01-28 00:00:00'),
    compared in the column's own type (works for TIMESTAMP and
    TIMESTAMP_NTZ). Scale shape: pure narrow projection — two
    comparisons, no shuffle; label assignment is invariant to row order,
    partitioning, and cluster size.
    """
    c = F.lit(cutoff).cast(df.schema[ts].dataType)
    lo = c - F.expr(f"INTERVAL {float(embargo_seconds)} SECONDS")
    expr = (
        F.when(F.col(ts) < lo, F.lit("train"))
        .when(F.col(ts) >= c, F.lit("test"))
        .otherwise(F.lit("embargo"))
    )
    return df.withColumn(out_col, expr)


def sample_stratified(
    df: DataFrame,
    stratum_col: str,
    rates: Mapping[str, float],
    default_rate: float = 1.0,
    entity_col: str | None = None,
    salt: str = "sample-v1",
) -> DataFrame:
    """Deterministic hash-threshold sampling with a per-stratum rate —
    the data-mixture rebalancing op (e.g. downsample the dominant
    language while keeping the tail intact). ``entity_col`` defaults to
    the stratum row itself; pass an id column to sample at entity
    granularity. Keep-decision = bucket < format(rate * 65536, '04x'),
    so the sample is reproducible and monotone in the rate (raising a
    rate only ADDS rows — incremental-friendly).

    Scale shape: pure projection + filter, no shuffle.
    """
    def hexthr(rate: float) -> str:
        # 'g' sorts after every hex digit, so rate >= 1.0 keeps ALL
        # buckets (a 'ffff' threshold would drop the bucket equal to it)
        return "g" if rate >= 1.0 else format(int(rate * 65536), "04x")

    entity = F.col(entity_col or stratum_col).cast("string")
    bucket = hash_bucket4(entity, salt)
    thr: Column = F.lit(hexthr(default_rate))
    for stratum, rate in sorted(rates.items()):
        thr = F.when(
            F.col(stratum_col) == F.lit(stratum), F.lit(hexthr(rate))
        ).otherwise(thr)
    return df.filter(bucket < thr)


def pack_greedy(
    df: DataFrame,
    group_col: str,
    order_col: str,
    size_col: str,
    budget: int,
    seq_col: str = "seq_id",
    offset_col: str = "offset_tokens",
) -> DataFrame:
    """Concat-and-chunk sequence packing (the standard LLM-pretraining
    packer): within each group, documents are laid end-to-end in
    ``order_col`` order; a document's training sequence is
    ``floor(offset_before / budget)`` where ``offset_before`` is the
    running token count of everything packed ahead of it. Documents may
    straddle a boundary — exactly what a token-stream packer does before
    slicing fixed windows.

    Scale shape: ONE hash exchange on ``group_col`` + one in-partition
    sort (a running-frame window, streamed by Spark's WindowExec with no
    O(n²) frame). Packing per group/shard, never globally — the global
    variant would serialize the corpus through one task.
    """
    w = (
        Window.partitionBy(group_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum(size_col).over(w), F.lit(0)).cast("long")
    return df.withColumn(offset_col, before).withColumn(
        seq_col, F.floor(F.col(offset_col) / budget).cast("long")
    )


def chunk_tokens(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 64,
    stride: int = 48,
    keep_cols: Sequence[str] = (),
) -> DataFrame:
    """Sliding-window document chunking: split ``text_col`` on single
    spaces into tokens and emit one row per (size, stride) window —
    the context-window preparation step for long-document training /
    embedding. The final window is the ragged tail (``chunk_len`` ≤
    size); a document shorter than ``size`` yields exactly one chunk.

    Scale shape: explode-only — token arrays and windows are computed
    inside the scan stage projection; no shuffle, no Python.
    """
    if stride <= 0 or size <= 0:
        raise ValueError("size and stride must be positive")
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    # number of stride steps whose window start < n, covering the tail:
    # n <= size -> 1 chunk; else 1 + ceil((n - size) / stride)
    n_chunks = F.when(n <= size, F.lit(1)).otherwise(
        F.lit(1) + F.ceil((n - F.lit(size)) / F.lit(stride)).cast("int")
    )
    starts = F.sequence(F.lit(0), (n_chunks - 1) * stride, F.lit(stride))
    base = df.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        toks.alias("_toks"),
        n.alias("n_tokens"),
        F.posexplode(starts).alias("chunk_idx", "chunk_start"),
    )
    chunk_len = F.least(F.lit(size), F.col("n_tokens") - F.col("chunk_start"))
    return base.select(
        id_col,
        *keep_cols,
        "chunk_idx",
        "chunk_start",
        chunk_len.cast("int").alias("chunk_len"),
        F.array_join(
            F.slice(F.col("_toks"), F.col("chunk_start") + 1, chunk_len), " "
        ).alias("chunk_text"),
    )


def ngram_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 8
) -> DataFrame:
    """(id, fp) — md5 fingerprint of every word n-gram of the document.
    A document shorter than ``n`` tokens emits no fingerprints (too short
    to claim contamination on). Explode-only projection; the fingerprint
    space bounds every downstream join."""
    toks = F.split(F.col(text_col), " ")
    n_grams = F.greatest(F.lit(0), F.size(toks) - F.lit(n - 1))
    return (
        df.select(F.col(id_col), toks.alias("_toks"), n_grams.alias("_n"))
        .filter(F.col("_n") > 0)
        .select(
            id_col,
            F.explode(F.sequence(F.lit(1), F.col("_n"))).alias("_i"),
            F.col("_toks"),
        )
        .select(
            id_col,
            F.md5(F.array_join(F.slice(F.col("_toks"), F.col("_i"), n), " ")).alias("fp"),
        )
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Train/eval contamination report: for every eval document sharing at
    least one word ``n``-gram with ANY train document, return its id and
    the number of DISTINCT shared fingerprints (the evidence strength).
    The caller anti-joins eval against this frame to decontaminate.

    Scale shape: two explode projections + one distinct hash-agg on the
    train side + one equi-join on ``fp`` + one count agg. The train
    fingerprint set is the only thing shuffled twice, and it is the
    DISTINCT set (bounded by train corpus grams); no all-pairs doc join
    ever forms — doc ids only meet through shared fingerprints.
    """
    tf = ngram_fingerprints(train, text_col, id_col, n).select("fp").distinct()
    ef = ngram_fingerprints(eval_df, text_col, id_col, n)
    return (
        ef.join(tf, "fp")
        .groupBy(id_col)
        .agg(F.count_distinct("fp").alias("n_shared"))
    )


def bloom_bitmap(
    fps: DataFrame, fp_col: str = "fp", m_bits: int = 1 << 22, k: int = 2
) -> DataFrame:
    """A Bloom filter over a fingerprint column, materialized as a
    DISTRIBUTED bitmap table ``(word_idx:long, bits:long)`` of at most
    ``m_bits / 64`` rows (64 bits packed per row via ``bit_or``) —
    never a driver-side byte array, so the build is one explode + one
    hash agg regardless of |fps|, and the result broadcasts (a 2^22-bit
    filter is 512 KiB as 65,536 rows).

    Hash family: ``xxhash64(j, fp)`` for ``j in 0..k-1`` — Spark's
    JVM-side 64-bit hash, seeded by position, reduced mod ``m_bits``
    (pmod keeps it non-negative).
    """
    m = F.lit(int(m_bits))
    pos = [
        F.pmod(F.xxhash64(F.lit(j), F.col(fp_col)), m).cast("long")
        for j in range(k)
    ]
    return (
        fps.select(F.explode(F.array(*pos)).alias("_pos"))
        .select(
            (F.col("_pos") / F.lit(64)).cast("long").alias("word_idx"),
            # SQL-form shiftleft: the DSL function requires a literal int
            # shift, the SQL function takes any expression
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(_pos % 64 AS INT))"
            ).alias("_b"),
        )
        .groupBy("word_idx")
        .agg(F.expr("bit_or(_b)").alias("bits"))
    )


def _bloom_pass(df: DataFrame, bloom: DataFrame, fp_col: str, m_bits: int, j: int) -> DataFrame:
    """Keep rows whose j-th bloom position is set. One broadcast equi-join
    on word_idx + a bitwise test; rows hashing to an absent word drop via
    the inner join itself."""
    pos = F.pmod(F.xxhash64(F.lit(j), F.col(fp_col)), F.lit(int(m_bits))).cast("long")
    x = (
        df.withColumn("_pos", pos)
        .withColumn("_w", (F.col("_pos") / F.lit(64)).cast("long"))
        .withColumn(
            "_m",
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_pos % 64 AS INT))"),
        )
    )
    return (
        x.join(F.broadcast(bloom), x["_w"] == bloom["word_idx"])
        .filter((F.col("bits").bitwiseAND(F.col("_m"))) != 0)
        .drop("_pos", "_w", "_m", "word_idx", "bits")
    )


def decontaminate_bloom(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    m_bits: int = 1 << 22,
    k: int = 2,
) -> DataFrame:
    """:func:`decontaminate` with a Bloom prefilter on the eval side —
    IDENTICAL output (the filter admits false positives, never false
    negatives, and an exact fingerprint join runs after it), but the
    shuffle that joins eval grams against train grams carries only the
    bloom-surviving sliver of the eval stream.

    Why this matters at 100 TB: ``decontaminate``'s cost is dominated by
    shuffling the EVAL fingerprint stream (|eval docs| × grams rows) to
    meet the distinct train-gram set. A Bloom bitmap of the train grams
    is a fixed 512 KiB broadcast (``m_bits``-invariant in the corpus
    size once sized for the target false-positive rate), so the
    prefilter runs map-side inside the eval scan stage and the
    subsequent exact join shuffles ~(true matches + fp_rate × stream)
    instead of the full stream. This is the same plan shape Spark's own
    runtime bloom pushdown (``spark.sql.optimizer.runtime.bloomFilter
    .enabled``) injects for selective equi-joins; building it explicitly
    makes the filter's size, hash family, and placement part of the
    pipeline contract instead of an optimizer heuristic.

    The exact verify join runs after the prefilter, so correctness never
    depends on the bitmap at all — pinned by the shared oracle with
    :func:`decontaminate`.

    Regime (measured, BASELINE.md §8.1; its harness,
    tools/bench_bloom_crossover.py, is in git at commit 2e3aaa3): on a
    SINGLE NODE this variant strictly loses — the shuffle it
    eliminates is a memcpy (the sf0.1 exact join moves its 117k-row gram
    stream in 0.28 s while gram GENERATION, paid by both variants, costs
    1.3 s), so the prefilter's fixed costs (bitmap agg + k broadcast
    probes) never pay back at any locally reachable scale (1.9-2.2x plain
    through a 16x eval blow-up). Its winning regime is a real cluster
    where the eval gram stream crosses the NETWORK to meet the train
    set: there the prefilter drops ~95% of those bytes map-side (fixture
    selectivity: 117k grams -> 5.8k survivors) for a fixed 512 KiB
    broadcast. Callers on one node use :func:`decontaminate`. A
    dense-literal probe (element_at on a 65k-long array literal) was also
    measured and REJECTED — 3x the two-join form, the giant literal falls
    out of whole-stage codegen.
    """
    from ..caching import persist_tracked

    tf = persist_tracked(
        ngram_fingerprints(train, text_col, id_col, n).select("fp").distinct()
    )
    # persisted: the bitmap subtree feeds k broadcast joins — without the
    # pin each join's broadcast exchange would rebuild it from the scan
    bloom = persist_tracked(bloom_bitmap(tf, "fp", m_bits, k))
    ef = ngram_fingerprints(eval_df, text_col, id_col, n)
    for j in range(k):
        ef = _bloom_pass(ef, bloom, "fp", m_bits, j)
    return (
        ef.join(tf, "fp")
        .groupBy(id_col)
        .agg(F.count_distinct("fp").alias("n_shared"))
    )


def positive_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Contrastive POSITIVE pair generation: adjacent sliding-window
    chunks of the same document (:func:`chunk_tokens`) are semantically
    related by construction — the standard self-supervised positive for
    embedding-model training (neighboring spans share topic; with
    ``stride < size`` they also share overlapping tokens). Combine with
    ``curation.negative_samples`` over the chunk table for the full
    (anchor, positive, negatives) triple.

    One row per consecutive chunk pair: ``(id_col, chunk_idx,
    anchor_text, positive_text)`` — documents yielding a single chunk
    emit nothing (no neighbor to pair with).

    Shape: chunking is explode-only (in-scan projection); the pairing
    is one ``lead()`` window over ``(id, chunk_idx)`` — chunk order is
    already data-local to the document, so the window's Exchange keys
    on the id and disappears over an id-bucketed layout like every
    other per-entity window here.
    """
    chunks = chunk_tokens(
        df, text_col=text_col, id_col=id_col, size=size, stride=stride
    )
    w = Window.partitionBy(id_col).orderBy("chunk_idx")
    return (
        chunks.select(
            id_col,
            "chunk_idx",
            F.col("chunk_text").alias("anchor_text"),
            F.lead("chunk_text").over(w).alias("positive_text"),
        )
        .filter(F.col("positive_text").isNotNull())
    )


def length_bucket_batches(
    df: DataFrame,
    id_col: str = "doc_id",
    len_col: str = "n_chars",
    n_buckets: int = 8,
    batch_rows: int = 64,
    salt: str = "batch-v1",
) -> DataFrame:
    """Length-bucketed training-batch assignment: documents are bucketed
    by exact length quantile (so a batch mixes only similar lengths —
    the padding-efficiency trick every sequence-training loader uses),
    then assigned a deterministic batch id targeting ``batch_rows`` rows
    per batch. Returns ``(id, bucket, batch_id)``; batch ids are globally
    unique and dense across buckets.

    Scale shape — zero corpus shuffle: quantile boundaries come from
    curation.curriculum_buckets' ONE scalar aggregate; per-bucket counts
    are one n_buckets-row aggregate whose cumulative batch offsets are a
    window over that tiny table (broadcast back); the batch WITHIN a
    bucket is ``floor(hash_frac(salt:id) * ceil(cnt/batch_rows))`` — an
    in-row projection. Batch sizes are therefore multinomial around
    ``batch_rows`` (±sqrt jitter), the standard trade for not paying a
    global per-bucket row_number sort; a loader that needs exact-size
    batches drains each approx-batch sequentially. NULL/NaN lengths
    surface as NULL bucket AND batch (curriculum_buckets' contract).

    Deterministic under any partitioning/engine: md5 ring + rounded
    boundaries, no rand().
    """
    from .curation import curriculum_buckets
    from .sketch import hash_frac

    b = curriculum_buckets(
        df, score=F.col(len_col), n_buckets=n_buckets, id_col=id_col
    )
    counts = b.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))
    w = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # n_buckets-row table: the single-partition window is sketch-sized
    offsets = counts.where(F.col("bucket").isNotNull()).select(
        "bucket",
        F.ceil(F.col("cnt") / F.lit(batch_rows)).alias("n_batches"),
    ).select(
        "bucket",
        "n_batches",
        F.coalesce(F.sum("n_batches").over(w), F.lit(0)).alias("offset"),
    )
    frac = hash_frac(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string")))
    return (
        b.join(F.broadcast(offsets), "bucket", "left")
        .select(
            F.col(id_col),
            "bucket",
            F.when(
                F.col("bucket").isNotNull(),
                F.col("offset")
                + F.floor(frac * F.col("n_batches").cast("double")),
            ).cast("long").alias("batch_id"),
        )
    )


def split_by_cluster(
    docs: DataFrame,
    cluster_map: DataFrame,
    fractions: Mapping[str, float] | None = None,
    salt: str = "split-v1",
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    out_col: str = "split",
) -> DataFrame:
    """Near-duplicate-atomic dataset split: hash at the DEDUP-CLUSTER
    granularity so no two near-duplicates ever straddle train/test.

    :func:`split_assign` prevents leakage through a SHARED KEY (user,
    conversation); this prevents the subtler leakage dedup exposes —
    after MinHash/LSH + cluster resolution (dedup.py, graph.py), two
    near-identical documents with different ids are still two rows, and
    an id-hashed split puts ~2·p·(1-p) of every dup pair across the
    boundary, quietly leaking test content into train. Hashing the
    cluster id instead makes the split atomic over near-dup groups.

    ``cluster_map`` is (id_col, cluster_col) — e.g. graph.py's
    connected-component labels or any fingerprint-canonical table. Docs
    absent from the map are singleton clusters (their own id). Returns
    ``docs`` + (cluster_col, out_col).

    Scale shape: one equi-join on the id (broadcast when the cluster map
    is small — it is pair-graph-derived, orders below the corpus) + the
    same zero-shuffle md5-threshold projection as split_assign.
    """
    cm = cluster_map.select(
        F.col(id_col), F.col(cluster_col).alias("_cl")
    )
    j = docs.join(cm, id_col, "left").withColumn(
        "_split_key",
        F.coalesce(F.col("_cl").cast("string"), F.col(id_col).cast("string")),
    )
    out = split_assign(j, "_split_key", fractions, salt, out_col)
    return out.withColumn(
        cluster_col,
        F.coalesce(F.col("_cl"), F.col(id_col)),
    ).drop("_cl", "_split_key")


def semantic_decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Drop train rows whose embedding has cosine >= ``threshold`` to ANY
    eval embedding — the *semantic* companion to the n-gram
    :func:`decontaminate` (catches paraphrased benchmark leakage that
    exact 8-gram fingerprints miss; cf. the GPT-3/PaLM decontamination
    appendices which pair both).

    Scale shape: eval sets are small relative to the corpus (thousands of
    benchmark rows vs billions of docs), so the eval side is BROADCAST
    and the train corpus streams through one JVM-fold cosine per eval row
    (n·m dot products, embarrassingly parallel, zero shuffle). Matched
    ids reduce to a tiny distinct set; the final pass is one left_anti
    join against it. The cosine is rounded to 4 decimals BEFORE the
    threshold compare so the decision is partitioning- and
    engine-independent (same contract as dedup_embedding_cosine).
    """
    from .similarity import _as_double, cosine

    ev = F.broadcast(
        eval_df.select(_as_double(F.col(vec_col)).alias("_ev"))
    )
    hits = (
        train.select(id_col, _as_double(F.col(vec_col)).alias("_tv"))
        .crossJoin(ev)
        .where(F.round(cosine(F.col("_tv"), F.col("_ev")), 4)
               >= F.lit(threshold))
        .select(id_col)
        .distinct()
    )
    return train.join(hits, id_col, "left_anti")


def epoch_shuffle(
    df: DataFrame,
    seed: str = "epoch0",
    n_shards: int = 64,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic global training-order shuffle + sharding: every row
    gets a pseudorandom ``sort_key`` (md5 of seed||id — reproducible on
    any engine, any partitioning) and a balanced ``shard`` drawn from an
    INDEPENDENT nibble range of the same digest (so shard and order don't
    correlate). No global row_number — a single-partition window is the
    anti-pattern at corpus scale; consumers write with
    ``repartition(shard).sortWithinPartitions(sort_key)``, which is a
    plain hash exchange + local sort, and epoch N+1 is the same plan with
    a new seed, never a stored permutation.
    """
    h = F.md5(F.concat(F.lit(seed), F.lit(":"), F.col(id_col).cast("string")))
    return df.select(
        "*",
        F.substring(h, 1, 16).alias("sort_key"),
        (F.conv(F.substring(h, 17, 8), 16, 10).cast("long")
         % F.lit(n_shards)).alias("shard"),
    )


def bootstrap_sample(
    df: DataFrame,
    n_draws: int,
    seed: str = "boot-v1",
    id_col: str = "doc_id",
    n_ids: int | None = None,
) -> DataFrame:
    """Deterministic bootstrap (sampling WITH replacement): draw j maps
    to id ``md5(seed || j) % n_ids`` — a pure function of (seed, j), so
    the resample is reproducible on any engine and any partitioning
    (unlike rand()-based sampling). Returns one row per draw:
    ``draw_id`` + the sampled row's columns; duplicate draws appear as
    separate rows (the whole point of bootstrap).

    Shape: one ``spark.range(n_draws)`` projection joined to the corpus
    on the id — a plain equi-join that AQE broadcasts when the draw
    table is small, hash-partitions otherwise. Requires dense ids
    ``0..n_ids-1`` (the house testdata contract); pass ``n_ids``
    explicitly to skip the one scalar count."""
    spark = df.sparkSession
    n = n_ids if n_ids is not None else df.count()
    if n <= 0:  # empty corpus: nothing to resample (avoid ANSI mod-by-0)
        return spark.createDataFrame(
            [], "draw_id long, " + ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}"
                for f in df.schema.fields))
    h = F.md5(F.concat(F.lit(seed), F.lit(":"), F.col("draw_id").cast("string")))
    draws = spark.range(n_draws).select(
        F.col("id").alias("draw_id")
    ).select(
        "draw_id",
        (F.conv(F.substring(h, 1, 15), 16, 10).cast("long")
         % F.lit(n)).alias(id_col),
    )
    return draws.join(df, id_col, "inner").select("draw_id", *df.columns)
