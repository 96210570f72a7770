"""Similarity search over embedding columns (``array<float>``):
brute-force cosine top-k as the exact baseline, and an IVF-style
cell-probed variant as the scale path.

Scale design
------------
* **Brute force** (:func:`cosine_topk`): the query set is tiny and
  broadcast; the corpus streams through one projection computing the dot
  product with ``F.zip_with`` + ``F.aggregate`` (JVM-side fold — no Python,
  no shuffle until the final per-query top-k, which is a
  ``row_number`` window over *n_queries* partitions of pre-filtered rows).
  At 100 TB the scan is embarrassingly parallel; only k·n_queries rows
  cross the final exchange because we pre-filter with a per-partition
  top-k (``sortWithinPartitions`` + local limit semantics via window on
  partition id is overkill at this k — AQE handles it).
* **IVF** (:func:`ivf_assign` / :func:`ivf_topk`): centroids (few, small)
  are broadcast; every vector is assigned to its nearest centroid in one
  pass; queries probe only ``n_probe`` cells, cutting scanned rows by the
  cell fanout exactly like a FAISS IVF index. Centroids here come from
  :func:`centroids_by_label` (mean per coarse key) — swap in k-means
  centroids without changing the search plan.

Determinism: dot products fold left-to-right over the array, all math in
double, scores rounded to 4 decimals BEFORE ranking with vec_id as the
tie-break — so results are bit-stable across engines (DuckDB oracle).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..caching import persist_tracked
from .embedx import _dim_of


def _as_double(col: Column) -> Column:
    return col.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Left-to-right fold of the elementwise product — deterministic
    summation order (matches the SQL oracle's list_sum order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """NULL (not an ANSI DIVIDE_BY_ZERO error) when either vector is all
    zeros — real corpora contain zero embeddings (empty docs, masked
    rows), and a NULL similarity is correctly dropped by every downstream
    threshold filter / top-k ordering instead of killing the job."""
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


def cosine_topk(
    df: DataFrame,
    query_ids: Sequence[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query id (self-excluded).
    Returns (query_id, rank, neighbor_id, cos_sim). The query side is
    broadcast — the corpus is scanned once, shuffle only on query_id."""
    corpus = df.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("v")
    )
    queries = F.broadcast(
        df.filter(F.col(id_col).isin(list(query_ids))).select(
            F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("q")
        )
    )
    scored = queries.join(corpus, F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("q"), F.col("v")), 4).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.select("*", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos_sim")
    )


def cosine_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a < id_b, cos_sim >=
    threshold). This is the exact baseline — an all-pairs scan with one
    side broadcast; at corpus scale, block candidates first (IVF cells via
    :func:`ivf_assign`, or LSH buckets) and run this verify step only
    within blocks, exactly like MinHash-LSH -> Jaccard in dedup.py."""
    a = df.select(F.col(id_col).alias("id_a"), _as_double(F.col(vec_col)).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), _as_double(F.col(vec_col)).alias("vb"))
    return (
        F.broadcast(a)
        .join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (F.round(cosine(F.col("va"), F.col("vb")), 4) + F.lit(0.0)).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def cosine_near_dup_pairs_blocked(
    df: DataFrame,
    threshold: float = 0.35,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Scale path for embedding near-dup: block by IVF cell, verify within
    blocks — replaces the all-pairs scan of :func:`cosine_near_dup_pairs`
    with O(cell_size^2 * n_cells) work, the same two-stage shape as
    MinHash-LSH -> Jaccard.

    Multi-probe blocking: every vector lands in its ``n_probe`` nearest
    cells, so near-dups straddling a cell boundary still share a block
    (recall vs the exact scan is property-tested in
    tests/test_training_ops.py; the candidate generation is deterministic,
    so the DuckDB oracle reproduces it exactly).
    """
    cents = centroids if centroids is not None else centroids_by_label(
        df, label_col, vec_col
    )
    c = F.broadcast(cents.select(F.col(label_col).alias("cell"), "centroid"))
    scored = (
        df.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
        .crossJoin(c)
        .select(
            id_col, "cell",
            F.round(cosine(F.col("v"), F.col("centroid")), 4).alias("cc"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("cc").desc(), F.col("cell"))
    # persist: consumed twice by the bucket self-join below; without it the
    # whole assignment lineage (incl. a k-means centroid chain when the
    # caller passes one) re-executes per side. 2 longs x n_probe rows/vec —
    # columnar-cached this is tiny next to the vectors themselves.
    assigned = persist_tracked(
        scored.select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= n_probe)
        .select(id_col, "cell")
    )
    a = assigned.select(F.col("cell"), F.col(id_col).alias("id_a"))
    b = assigned.select(F.col("cell"), F.col(id_col).alias("id_b"))
    cand = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = df.select(F.col(id_col).alias("id_a"), _as_double(F.col(vec_col)).alias("va"))
    vb = df.select(F.col(id_col).alias("id_b"), _as_double(F.col(vec_col)).alias("vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a", "id_b",
            (F.round(cosine(F.col("va"), F.col("vb")), 4) + F.lit(0.0)).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def semdedup(
    df: DataFrame,
    threshold: float = 0.95,
    centroids: DataFrame | None = None,
    k: int = 8,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup
    inside k-means clusters. Cluster the embedding space, then call two
    same-cluster items semantic duplicates when their cosine >= threshold;
    from each duplicate relation keep the member LEAST similar to its
    cluster centroid (the paper's keep-the-outlier rule — prototypical
    redundant points go, boundary points stay), ties keep the lower id.

    The keep rule is applied pairwise-greedily rather than over transitive
    duplicate closures: a row is pruned iff SOME same-cluster row with
    cosine >= threshold beats it under (cos_to_centroid ASC, id ASC)
    priority. Each cluster's minimum-priority member therefore always
    survives, every pruned row names a surviving-or-lower-priority witness,
    and the result is deterministic with no iterative connected-components
    pass (for transitive closures compose with graph.connected_components
    as dedup_minhash_lsh does).

    Scale: centroids are broadcast and assignment is one corpus scan
    (ivf_assign, no shuffle); the duplicate search self-joins on the
    cluster key, so work is quadratic within a cell only — the k ~ sqrt(N)
    rule from cosine_near_dup_pairs_blocked keeps cells ~sqrt(N). All
    cosines are rounded to 4 decimals (cross-engine determinism, same
    contract as the blocked near-dup path).

    Returns every input row: (id, cell, cos_to_centroid, keep).
    """
    cents = centroids if centroids is not None else kmeans_centroids(
        df, k=k, iters=iters, id_col=id_col, vec_col=vec_col
    )
    # persist: consumed three times (both self-join sides + the final
    # mark-back); 3 narrow columns per row, tiny next to the vectors.
    asn = persist_tracked(ivf_assign(df, cents, id_col, vec_col))
    vecs = df.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
    sided = asn.join(vecs, id_col)
    a = sided.select(
        "cell", F.col(id_col).alias("id_a"),
        F.col("cos_to_centroid").alias("cc_a"), F.col("v").alias("va"),
    )
    b = sided.select(
        "cell", F.col(id_col).alias("id_b"),
        F.col("cos_to_centroid").alias("cc_b"), F.col("v").alias("vb"),
    )
    beats = (F.col("cc_b") < F.col("cc_a")) | (
        (F.col("cc_b") == F.col("cc_a")) & (F.col("id_b") < F.col("id_a"))
    )
    pruned = (
        a.join(b, "cell")
        .filter((F.col("id_a") != F.col("id_b")) & beats)
        .filter(F.round(cosine(F.col("va"), F.col("vb")), 4) >= threshold)
        .select(F.col("id_a").alias(id_col))
        .distinct()
    )
    return (
        asn.join(
            pruned.withColumn("__pruned", F.lit(True)), id_col, "left"
        )
        .select(
            id_col, "cell", "cos_to_centroid",
            F.col("__pruned").isNull().alias("keep"),
        )
    )


def kmeans_centroids(
    df: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_decimals: int | None = 6,
) -> DataFrame:
    """Lloyd's k-means in pure DataFrame ops — centroids for the IVF coarse
    quantizer when no natural coarse key exists. Deterministic init (cell =
    ``vec_id % k``), then ``iters`` rounds of assign (broadcast centroids,
    one scan) -> recompute means (posexplode -> avg, map-side partials).
    Each round is one job over the corpus; the search plan downstream is
    unchanged (swap for :func:`centroids_by_label` freely).

    Returns (label, centroid) with ``label`` = cell id, matching
    :func:`ivf_assign`'s centroid input contract.

    ``round_decimals`` rounds every centroid component after each mean so
    the iteration is bit-reproducible across engines (summation order in a
    distributed avg is nondeterministic at the last ulp; rounding pins the
    values the NEXT round's assignments see — required for the DuckDB
    oracle, harmless for recall).
    """
    def _round(c: DataFrame) -> DataFrame:
        if round_decimals is None:
            return c
        return c.withColumn(
            "centroid",
            F.transform(F.col("centroid"), lambda x: F.round(x, round_decimals)),
        )

    labeled = df.select(
        F.col(id_col), (F.col(id_col) % k).cast("long").alias("label"), F.col(vec_col)
    )
    base = df.select(F.col(id_col), F.col(vec_col))  # shed any input label col
    # Truncate lineage per round once the recursion is deep enough to
    # matter: without it the plan nests one full assign+mean subtree per
    # iteration and driver-side analysis grows superlinearly in `iters`.
    # Per-round truncation uses eager localCheckpoint — measured ~1.3x
    # faster end-to-end than a per-round k-row collect()/createDataFrame
    # round-trip (the r3 strategy; the driver round-trip plus LocalRelation
    # re-analysis cost ~0.5 s/round at sf0.1). To honor the no-leaked-RDD
    # session contract (caching.release_all cannot free checkpoint blocks),
    # the RETURNED table is one final k-row LocalRelation and every
    # intermediate checkpoint RDD is unpersisted before returning — callers
    # never hold a frame whose blocks a later cleanup could invalidate.
    # At iters <= 1 the plan is shallow and eager materialization costs
    # more than it saves, so stay fully lazy there.
    checkpoints: list[DataFrame] = []

    def _cp(c: DataFrame) -> DataFrame:
        if iters < 2:
            return c
        out = c.localCheckpoint(eager=True)
        checkpoints.append(out)
        return out

    cents = _cp(_round(centroids_by_label(labeled, "label", vec_col)))
    for _ in range(iters):
        assigned = ivf_assign(base, cents, id_col, vec_col, "label")
        relabeled = base.join(
            assigned.select(id_col, F.col("cell").alias("label")), id_col
        )
        cents = _cp(_round(centroids_by_label(relabeled, "label", vec_col)))
    if checkpoints:
        final = df.sparkSession.createDataFrame(cents.collect(), cents.schema)
        for h in checkpoints:
            _release_local_checkpoint(h)
        return final
    return cents


def _release_local_checkpoint(df: DataFrame) -> None:
    """Unpersist the RDD blocks behind an EAGER ``localCheckpoint`` frame.

    ``DataFrame.unpersist`` only clears SQL-cache entries, so checkpoint
    blocks would otherwise outlive the operator and accumulate across a
    long session. The eager-checkpointed frame's analyzed plan is a
    ``LogicalRDD`` whose backing RDD we can unpersist directly. The frame
    MUST NOT be used afterwards (checkpoint blocks are not recomputable) —
    callers only pass operator-internal handles here. Best-effort: the
    JVM accessor path is internal, so failures degrade to the pre-cleanup
    behavior (blocks live until session end) rather than erroring."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def centroids_by_label(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Elementwise mean embedding per coarse key — the IVF coarse
    quantizer. Relational formulation (posexplode -> avg -> re-assemble)
    so partial aggregation happens map-side and the oracle is plain SQL.
    Returns (label, centroid array<double>)."""
    exploded = df.select(
        F.col(label_col), F.posexplode(_as_double(F.col(vec_col))).alias("d", "x")
    )
    per_dim = exploded.groupBy(label_col, "d").agg(F.avg("x").alias("c"))
    return (
        per_dim.groupBy(label_col)
        .agg(F.array_sort(F.collect_list(F.struct("d", "c"))).alias("dc"))
        .select(
            F.col(label_col),
            F.transform(F.col("dc"), lambda s: s["c"]).alias("centroid"),
        )
    )


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Assign each vector to its nearest centroid by cosine (rounded, id
    tie-break). Centroids are broadcast; one scan, no corpus shuffle.
    Returns (vec_id, cell, cos_to_centroid)."""
    c = F.broadcast(
        centroids.select(F.col(label_col).alias("cell"), F.col("centroid"))
    )
    scored = df.select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("v")
    ).crossJoin(c).select(
        id_col,
        "cell",
        F.round(cosine(F.col("v"), F.col("centroid")), 4).alias("cos_to_centroid"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("cos_to_centroid").desc(), F.col("cell")
    )
    return (
        scored.select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def ivf_topk(
    df: DataFrame,
    query_ids: Sequence[int],
    k: int = 5,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF search: restrict each query's scan to the ``n_probe`` cells
    nearest the query vector, then exact cosine top-k within those cells.
    Approximate (recall < 1 when the true neighbor lives in an unprobed
    cell) — the standard IVF trade; the cell restriction is what scales.
    ``centroids``: pass :func:`kmeans_centroids` output to search against
    learned cells; defaults to the label-mean coarse quantizer."""
    cents = centroids if centroids is not None else centroids_by_label(
        df, label_col, vec_col
    )
    assigned = ivf_assign(df, cents, id_col, vec_col, label_col)
    corpus = df.join(assigned.select(id_col, "cell"), id_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("cell"),
        _as_double(F.col(vec_col)).alias("v"),
    )

    queries = df.filter(F.col(id_col).isin(list(query_ids))).select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("q")
    )
    qcells = queries.crossJoin(
        F.broadcast(cents.select(F.col(label_col).alias("cell"), "centroid"))
    ).select(
        "query_id",
        "q",
        "cell",
        F.round(cosine(F.col("q"), F.col("centroid")), 4).alias("cc"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("cc").desc(), F.col("cell"))
    probe = (
        qcells.select("*", F.row_number().over(wq).alias("rn"))
        .filter(F.col("rn") <= n_probe)
        .select("query_id", "q", "cell")
    )

    scored = F.broadcast(probe).join(corpus, "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    ).select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("q"), F.col("v")), 4).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.select("*", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos_sim")
    )


def srp_planes(n_planes: int, dim: int, seed: str = "srp-v1"):
    """Deterministic Rademacher (±1) hyperplanes for signed-random-
    projection LSH, derived from md5 so any engine (and the DuckDB
    differential oracle) can rebuild the identical model. Returns a
    numpy ``(n_planes, dim)`` float array."""
    import hashlib

    import numpy as np

    P = np.empty((n_planes, dim), dtype=np.float64)
    for j in range(n_planes):
        for i in range(dim):
            h = hashlib.md5(f"{seed}:{j}:{i}".encode()).hexdigest()
            P[j, i] = 1.0 if int(h[0], 16) < 8 else -1.0
    return P


def _srp_bucket(vec: Column, planes) -> Column:
    """LSH bucket id: bit j = sign(v·plane_j), packed little-endian.
    One JVM zip_with/aggregate fold per plane against a broadcast
    literal array — the cosine_topk plan shape, zero Python."""
    bucket = F.lit(0)
    for j in range(planes.shape[0]):
        comp = F.array(*[F.lit(float(x)) for x in planes[j]])
        d = F.aggregate(F.zip_with(vec, comp, lambda x, c: x * c),
                        F.lit(0.0), lambda acc, x: acc + x)
        bucket = bucket + F.when(d >= 0, F.lit(1 << j)).otherwise(F.lit(0))
    return bucket


def srp_topk(
    df: DataFrame,
    query_ids: Sequence[int],
    k: int = 5,
    n_band_bits: int = 8,
    multiprobe: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "srp-v1",
) -> DataFrame:
    """LSH-bucketed approximate cosine top-k — the hyperplane-hashing
    companion to :func:`ivf_topk` (no training pass at all, unlike IVF's
    centroids): corpus vectors hash to a ``n_band_bits``-bit signed-
    random-projection bucket; each query probes its own bucket plus (with
    ``multiprobe``) every 1-bit flip — the standard multi-probe trade
    that recovers most of the recall lost to hard bucket boundaries at
    (1 + bits) probes instead of 2^bits.

    Scale shape: the bucket is a pure projection (p JVM folds); the
    candidate join is a plain equi-join on the bucket id (each corpus
    vector lands in exactly ONE bucket, so multi-probe cannot duplicate
    candidates); the exact-cosine verify runs on candidates only; the
    final top-k is the same query-partitioned window as cosine_topk.
    Expected candidate fraction per probe ≈ 2^-bits of the corpus.
    """
    try:
        dim = _dim_of(df, vec_col)
    except ValueError:  # no non-NULL vector
        return df.sparkSession.createDataFrame(
            [], "query_id long, rank long, neighbor_id long, cos_sim double")
    # a NULL or ragged vector has no well-defined bucket or cosine
    df = df.where(F.size(vec_col) == F.lit(dim))
    planes = srp_planes(n_band_bits, dim, seed)

    corpus = df.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("v"),
    ).withColumn("bucket", _srp_bucket(F.col("v"), planes))
    queries = df.filter(F.col(id_col).isin(list(query_ids))).select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("q"),
    ).withColumn("qbucket", _srp_bucket(F.col("q"), planes))
    if multiprobe:
        probe = F.explode(F.array(
            F.col("qbucket"),
            *[F.col("qbucket").bitwiseXOR(F.lit(1 << j))
              for j in range(n_band_bits)],
        )).alias("bucket")
    else:
        probe = F.col("qbucket").alias("bucket")
    probes = F.broadcast(queries.select("query_id", "q", probe))

    scored = probes.join(corpus, "bucket").where(
        F.col("query_id") != F.col("neighbor_id")
    ).select(
        "query_id", "neighbor_id",
        F.round(cosine(F.col("q"), F.col("v")), 4).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.select("*", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos_sim")
    )
