"""KMV (k-minimum-values) distinct-count sketch — the distributive
cardinality estimator a 100 TB pipeline uses where an exact
``count(DISTINCT x)`` would shuffle every distinct value.

Why not just count distinct? Exact distinct shuffles the full distinct
key set (at corpus scale: billions of rows through one exchange). The
KMV estimator (Bar-Yossef et al., "Counting distinct elements in a data
stream", RANDOM'02) keeps only the k smallest *unique* hash values per
group: if the k-th smallest normalized hash is ``h_k``, the distinct
count is ≈ (k-1)/h_k. The sketch is distributive — per-partition k-min
sets merge by taking the k smallest of the union — so the shuffle
carries at most ``n_partitions * n_groups * k`` distinct values (plus
their repeats) regardless of data volume.

Shape here (Spark-first, no custom UDAF and no Python worker):

1. a JVM projection computes a [0,1) fraction from the md5 of the value
   (first 8 hex nibbles, exact binary fractions — reproducible in ANSI
   SQL, so the DuckDB differential gate can recompute it bit-for-bit);
2. ``dense_rank()`` over ``(g ORDER BY frac ASC NULLS LAST)`` filtered to
   ``rn <= k``: Catalyst plans a ``WindowGroupLimit … Partial`` BELOW the
   Exchange, so each map partition ships only the rows holding its k
   smallest distinct fractions per group (≤ k values plus their repeats,
   not ≤ k rows — repeats of a kept value pass the partial limit);
   ``spark.sql.optimizer.windowGroupLimitThreshold`` (default 1000) must
   be ≥ k, else the limit is not planned and every row is shuffled;
3. after the Exchange the final window re-ranks the merged candidates
   and ``dropDuplicates`` keeps one row per distinct fraction, so ``rn``
   is the 1-based rank of the k smallest distinct fractions.

A NULL value hashes to a NULL fraction, which sorts last and so counts
as one candidate only while the group holds fewer than k distinct
values — the same order and count the DuckDB oracle's ``NULLS LAST``
gives.

Groups with fewer than k distinct hashes hold their ENTIRE hash set, so
the "estimate" is exact there (n_seen < k ⇒ estimate = n_seen) — the
standard KMV small-cardinality behavior, handled identically in the SQL
oracle.

Determinism: md5 is seedless, the fraction is a sum of exact powers of
16, and ties cannot occur between distinct hashes — the result is a pure
function of the value set, independent of partitioning (property-tested
under repartition in tests/test_sketch_merge.py).

The reference has no aggregation surface at all; this is part of the
LLM-pipeline extension (corpus stats: distinct users/URLs/shingles per
slice without a full distinct shuffle).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "hash_frac", "kmv_synopsis", "kmv_distinct", "kmv_estimate",
    "mg_candidates", "heavy_hitters", "heavy_hitters_abs",
    "cms_build", "cms_estimate", "kmv_set_overlap",
]

_HEX = "0123456789abcdef"


def hash_frac(value: Column) -> Column:
    """Uniform [0,1) fraction from md5(value): sum of the first 8 hex
    nibbles weighted 16^-1 .. 16^-8. Every term is an exact binary
    fraction, so Spark and DuckDB produce bit-identical doubles. The
    8-nibble truncation leaves 2^-32 granularity — collision probability
    is negligible for the k-th-order statistic at any realistic k."""
    h = F.md5(value.cast("string"))
    out = F.lit(0.0)
    for i in range(1, 9):
        out = out + (
            (F.instr(F.lit(_HEX), F.substring(h, i, 1)) - F.lit(1)).cast(
                "double"
            )
            * F.lit(16.0 ** -i)
        )
    return out


def kmv_synopsis(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """Per-group merged KMV synopsis: the k smallest DISTINCT hash
    fractions of ``value_col`` per group, as ``(g: string, frac: double,
    rn: int)`` with ``rn`` the 1-based rank within the group.

    This is the *mergeable state* of the KMV sketch (the k-min set), not
    the estimate — exposed so composite operators (e.g. rolling distinct
    over time buckets) can union synopses across groups and re-rank: the
    k smallest of a union of per-set k-min sets IS the k-min set of the
    union, so downstream merges stay exact sketch semantics."""
    hashed = df.select(
        F.col(group_col).cast("string").alias("g"),
        hash_frac(F.col(value_col)).alias("frac"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("g").orderBy(F.col("frac").asc_nulls_last())
    return (
        hashed.withColumn("rn", F.dense_rank().over(w))
        .where(F.col("rn") <= k)
        .dropDuplicates(["g", "frac"])
    )


def kmv_estimate(ranked: DataFrame, k: int, group_out: str = "g") -> DataFrame:
    """Finish a :func:`kmv_synopsis`-shaped frame ``(g, frac, rn)`` into
    ``(group_out, n_candidates, estimate)``: (k-1)/h_k when the group
    saturates k candidates, else exact n_candidates. Estimate rounded to
    4 decimals (differential-gate float contract)."""
    return (
        ranked.groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.max(F.when(F.col("rn") == k, F.col("frac"))).alias("__hk"),
        )
        .select(
            F.col("g").alias(group_out),
            F.col("n_candidates").cast("long").alias("n_candidates"),
            (
                F.round(
                    F.when(
                        F.col("__hk").isNotNull(),
                        (F.lit(k) - F.lit(1)) / F.col("__hk"),
                    ).otherwise(F.col("n_candidates").cast("double")),
                    4,
                )
                + F.lit(0.0)
            ).alias("estimate"),
        )
    )


def kmv_distinct(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """Per-group KMV distinct-count estimate: (group, n_candidates,
    estimate). ``estimate`` is rounded to 4 decimals; exact (= the number
    of distinct hashes seen) when a group has < k distinct values.

    ``n_candidates`` is the size of the merged k-min set (= k when the
    group saturates) — exposed so callers can see which groups are in
    the exact regime."""
    return kmv_estimate(kmv_synopsis(df, group_col, value_col, k), k, group_col)


# --------------------------------------------------------- heavy hitters

def _partition_mg(k: int):
    """Per-partition Misra-Gries summary (merge form, Agarwal et al.,
    "Mergeable Summaries", PODS'12): fold each Arrow batch's exact
    ``value_counts`` into a counter table capped at ``k`` entries by
    subtracting the (k+1)-th largest counter and dropping the
    non-positive remainder. Each such step removes >= (k+1) * delta of
    stored mass, so the cumulative deficit of any key is <= n_i/(k+1) —
    every key with partition count > n_i/(k+1) survives to the output,
    regardless of batch boundaries. State: <= k counters between
    batches; one <= k-row batch out per partition."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        s: pd.Series | None = None
        for b in batches:
            vc = b["k"].dropna().value_counts()
            if vc.empty:
                continue
            s = vc if s is None else s.add(vc, fill_value=0)
            if len(s) > k:
                kth = s.nlargest(k + 1).iloc[-1]
                s = s[s > kth] - kth
        if s is None:
            yield pd.DataFrame({"k": pd.Series([], dtype=object),
                                "cnt": pd.Series([], dtype="float64")})
        else:
            yield pd.DataFrame({"k": pd.Series(list(s.index), dtype=object),
                                "cnt": s.to_numpy(dtype="float64")})

    return fn


def mg_candidates(df: DataFrame, key_col: str, k: int) -> DataFrame:
    """Candidate heavy-hitter keys: per-partition Misra-Gries(k)
    summaries MERGED into one global MG(k) summary — at most ``k`` keys
    out, a SUPERSET of every key whose global count exceeds N/(k+1).

    The merge is the one-shot rule from Agarwal/Cormode et al.
    ("Mergeable Summaries", PODS'12 Thm 1): sum each key's residual
    counters across partitions, subtract the (k+1)-th largest summed
    value, keep the strictly-positive remainder. Each partition's
    residual underestimates its local count by <= n_i/(k+1) and the
    final subtraction adds <= N/(k+1) total, so a key with global count
    > N/(k+1) stays positive. (The earlier union-without-merge form was
    correct but emitted k*P keys — 63k candidates on a 32-partition
    scan; every downstream broadcast/collect then scaled with PARTITION
    COUNT, which at cluster scale is exactly the term that must not
    grow. Measured in BASELINE.md: the merged form took the sharded
    heavy-hitter cell from 0.44 to >=0.8 N-vs-4N efficiency.)

    Shuffle math at 10^12 rows: map side emits <= k rows per partition
    (the counter residuals), the sum is an ordinary partial-agg
    exchange over <= k*P tiny rows, and the rank-(k+1) window plans as
    WindowGroupLimit — per shuffle partition top-(k+1) BEFORE the
    single-partition final step, which therefore sees
    <= (k+1) * shuffle_partitions rows, never k*P."""
    cands = df.select(
        F.col(key_col).cast("string").alias("k")
    ).mapInPandas(_partition_mg(k), schema="k string, cnt double")
    summed = cands.groupBy("k").agg(F.sum("cnt").alias("c"))
    from pyspark.sql import Window

    w = Window.orderBy(F.col("c").desc(), F.col("k"))
    ranked = summed.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= k + 1
    )
    # s_{k+1}: the (k+1)-th largest summed residual (0 when fewer than
    # k+1 keys survive the partition sketches)
    skp1 = ranked.agg(
        F.coalesce(
            F.max(F.when(F.col("rn") == k + 1, F.col("c"))), F.lit(0.0)
        ).alias("s")
    )
    return (
        ranked.crossJoin(F.broadcast(skp1))
        .filter((F.col("c") - F.col("s")) > 0)
        .select(F.col("k").alias(key_col))
    )


def heavy_hitters(
    df: DataFrame, key_col: str, min_frac: float
) -> DataFrame:
    """EXACT heavy hitters — ``(key, n_rows)`` for every key occurring in
    at least ``ceil(min_frac * N)`` of the N input rows — in two
    bounded-memory passes, never shuffling one row per distinct key:

    1. sketch pass: per-partition Misra-Gries with k = ceil(1/min_frac)
       counters (:func:`mg_candidates`) — the candidate superset;
    2. count pass: one scan that broadcast-flags candidate rows and
       hash-aggregates exact counts per candidate while folding ALL
       non-candidate rows into a single null group, so the same
       aggregate yields N (the tiny result table is summed with one
       unbounded window) and the exact threshold filter needs no extra
       job.

    Contrast with the naive ``groupBy(key).count().filter(...)``: that
    plan's exchange carries one partially-combined row per distinct key
    (at 10^12 turns / 10^9 conversations: a billion-row shuffle to find
    a handful of hot keys); this plan's sketch exchange carries
    <= k rows per partition and the merged candidate set broadcast to
    the count pass is <= k keys. The output is a pure function of
    the input multiset — the sketch only proposes candidates, the exact
    count disposes — property-tested under repartition/batching in
    tests/test_sketch_merge.py. Null keys count toward N but are never
    hitters (SQL semantics: GROUP BY key HAVING count >= ceil(...)
    over the full table).

    Scope note vs the skew router: this wins when the threshold is a
    FRACTION of the corpus (k = 1/min_frac counters; the broadcast
    candidate set is <= k keys after the global merge). The skew routers'
    rule compares WORK (``n_e^2`` for the band joins), which a row-count
    sketch does not bound, so salted.hot_entities stays an exact groupBy;
    :func:`heavy_hitters_abs` refuses thresholds needing too many counters
    rather than silently ballooning (``max_k``).
    """
    if not (0.0 < min_frac <= 1.0):
        raise ValueError(f"min_frac must be in (0, 1], got {min_frac}")
    k = int(-(-1.0 // min_frac)) + 1  # ceil(1/min_frac) + 1 safety
    # threshold from the SAME aggregate's total: ceil(min_frac * N)
    thresh = lambda n_total: F.greatest(  # noqa: E731
        F.lit(1).cast("long"), F.ceil(F.lit(float(min_frac)) * n_total)
    )
    return _exact_count_pass(df, key_col, k, thresh)


def heavy_hitters_abs(
    df: DataFrame, key_col: str, min_count: int, max_k: int = 100_000
) -> DataFrame:
    """Absolute-threshold form: keys with ``count >= min_count``. Sizes
    the sketch from an exact row count (metadata-only on a parquet
    scan), then reuses the exact two-pass plan with the literal
    threshold (no fraction round-trip, so a key with exactly
    ``min_count`` rows can never fall to a ulp); min_count > N/(k+1)
    holds for k = ceil(N/min_count), so the candidate superset property
    carries over.

    Raises when the implied k = ceil(N/min_count) exceeds ``max_k``:
    that regime (a threshold far below N/max_k) needs more sketch state
    per partition than the exact map-side-combined groupBy pre-pass
    would shuffle — use salted.hot_entities there instead of letting
    per-partition counter tables and the candidate broadcast balloon."""
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    n = df.count()
    k = 1 if n == 0 else int(-(-n // min_count))  # ceil(N/min_count)
    if k > max_k:
        raise ValueError(
            f"min_count={min_count} over N={n} rows implies k={k} MG "
            f"counters (> max_k={max_k}); at this threshold the exact "
            "groupBy pre-pass (salted.hot_entities) is the better plan"
        )
    return _exact_count_pass(
        df, key_col, k, lambda _n: F.lit(int(min_count)).cast("long")
    )


def _exact_count_pass(df: DataFrame, key_col: str, k: int, thresh):
    """Shared pass 2: broadcast-flag MG candidates, one exact hash
    aggregate with all non-candidate rows folded into a null group (so
    the aggregate also yields N), filter by ``thresh(n_total_col)``."""
    cands = mg_candidates(df, key_col, k).withColumn("__hh", F.lit(True))
    flagged = df.select(F.col(key_col).cast("string").alias(key_col)).join(
        F.broadcast(cands), on=key_col, how="left"
    )
    counts = flagged.groupBy(
        F.when(F.col("__hh"), F.col(key_col)).alias(key_col)
    ).agg(F.count(F.lit(1)).alias("n_rows"))
    from pyspark.sql import Window

    # N = sum over the counts table via one unbounded window. The table is
    # <= k + 1 rows (merged candidates + the null fold), so the
    # single-partition WindowExec the
    # runtime warns about is a sketch-sized pass, NOT a corpus pass — and
    # unlike a crossJoin against counts.agg(...), the window reuses the
    # one computed aggregate instead of re-scanning the corpus for a
    # second plan branch.
    n_total = F.sum("n_rows").over(Window.partitionBy())
    return (
        counts.withColumn("__t", thresh(n_total))
        .where(F.col(key_col).isNotNull() & (F.col("n_rows") >= F.col("__t")))
        .select(key_col, "n_rows")
    )


# ------------------------------------------------------ count-min sketch

def _cms_bucket(value: Column, row: int, width: int) -> Column:
    """Bucket of ``value`` in CMS hash row ``row``: md5 of the
    row-salted value, mapped through the same exact-binary-fraction
    construction as :func:`hash_frac` so DuckDB reproduces it
    bit-for-bit, then scaled to [0, width)."""
    return F.floor(
        hash_frac(F.concat(F.lit(f"{row}:"), value.cast("string")))
        * F.lit(float(width))
    ).cast("int")


def cms_build(
    df: DataFrame,
    value_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan, J.Algorithms'05) of the
    frequency distribution of ``value_col``: returns the counter table
    ``(row: int, bucket: int, cnt: long)`` with at most depth*width rows.

    Scale shape: the only shuffle carries ≤ depth*width rows per map
    partition (map-side partial aggregation collapses each partition to
    its local counter table first), independent of input volume — the
    classic mergeable-summary trade. Two sketches of disjoint data merge
    by unioning and re-summing (property-tested), so the counter table
    is incrementally maintainable under appends.

    ``depth`` rows give error ≤ e/width · N with probability
    1 - e^-depth (overestimate-only); point estimates are the min over
    rows (:func:`cms_estimate`).
    """
    pairs = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("row"),
                        _cms_bucket(F.col(value_col), j, width).alias("bucket"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("p")
    )
    return pairs.groupBy("p.row", "p.bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def cms_estimate(
    counters: DataFrame,
    values: DataFrame,
    value_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point-frequency estimates from a :func:`cms_build` counter table:
    one row per input value, ``(value_col, est: long)`` with
    ``est = min over hash rows of the value's counter`` (0 when a row's
    bucket was never touched). One probe-pair explode (depth rows per
    value), ONE left join against the broadcast ≤ depth*width counter
    table, one min-aggregate — the corpus is never re-scanned and no
    wide shuffle occurs."""
    pairs = values.select(
        F.col(value_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("row"),
                        _cms_bucket(F.col(value_col), j, width).alias(
                            "bucket"
                        ),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("p"),
    ).select(value_col, "p.row", "p.bucket")
    return (
        pairs.join(F.broadcast(counters), ["row", "bucket"], "left")
        .groupBy(value_col)
        .agg(
            F.min(F.coalesce(F.col("cnt"), F.lit(0).cast("long"))).alias(
                "est"
            )
        )
    )


# --------------------------------------------------- set-overlap estimate

def kmv_set_overlap(
    a: DataFrame,
    b: DataFrame,
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """KMV-sketched overlap between two value sets: one row
    ``(est_a, est_b, est_union, est_intersection, jaccard_est)``.

    Uses the closure of KMV under union (the k smallest distinct hashes
    of A ∪ B are exactly the k smallest of union(kmin(A), kmin(B))) to
    estimate |A|, |B|, |A∪B| from ONE pass over each side, then
    inclusion-exclusion for the intersection and Jaccard. This is how a
    pipeline measures train/eval split contamination or cross-source
    duplication mass WITHOUT the pair join the exact answer needs —
    each side is reduced map-side to a k-hash synopsis; only 2k doubles
    meet at the end (the re-rank window below runs on that ≤2k-row
    sketch, never the corpus). Sides with < k distinct values are in the
    exact regime (see kmv_distinct); so is their union while it holds
    < k distinct hashes.

    Estimates can be individually biased (KMV error ~1/sqrt(k)), so the
    intersection is clamped at 0. Deterministic: a pure function of the
    two value sets (md5 hashing, ties impossible between distinct
    hashes) — the DuckDB oracle replays it bit-for-bit.
    """
    from pyspark.sql import Window

    tagged = a.select(
        F.lit("a").alias("side"), F.col(value_col).alias("val")
    ).unionByName(
        b.select(F.lit("b").alias("side"), F.col(value_col).alias("val"))
    )
    syn = kmv_synopsis(tagged, "side", "val", k)
    w = Window.orderBy(F.col("frac").asc_nulls_last())
    union_syn = (
        syn.select("frac")
        .distinct()
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select(F.lit("u").alias("g"), "frac", "rn")
    )
    est = kmv_estimate(syn.unionByName(union_syn), k)
    one = est.groupBy().agg(
        F.max(F.when(F.col("g") == "a", F.col("estimate"))).alias("est_a"),
        F.max(F.when(F.col("g") == "b", F.col("estimate"))).alias("est_b"),
        F.max(F.when(F.col("g") == "u", F.col("estimate"))).alias("est_union"),
    )
    inter = F.greatest(
        F.lit(0.0), F.col("est_a") + F.col("est_b") - F.col("est_union")
    )
    return one.select(
        "est_a",
        "est_b",
        "est_union",
        (F.round(inter, 4) + F.lit(0.0)).alias("est_intersection"),
        (F.round(inter / F.col("est_union"), 4) + F.lit(0.0)).alias(
            "jaccard_est"
        ),
    )
