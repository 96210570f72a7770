"""Deduplication operators for training-data curation: exact, MinHash+LSH,
n-gram Jaccard, and SimHash near-dup detection.

Scale design
------------
* **Exact**: one hash aggregate on ``md5(normalized text)`` — map-side
  partial counts, one shuffle keyed by a uniformly-distributed 128-bit hash
  (no skew by construction).
* **MinHash+LSH**: signatures are computed row-local (projection only,
  zero shuffle); candidate generation shuffles on the *band bucket* key, so
  the cost is ``O(n_bands · n_docs)`` exchanged bytes and pairs are only
  materialized within a bucket — never the quadratic all-pairs. This is the
  standard shingle→minhash→band→bucket-join pipeline; at 100 TB you raise
  ``n_hashes``/``bands`` and the plan shape does not change. Each pair
  comes once, from :func:`banded_pairs`: no pair-dedupe shuffle.
* **n-gram Jaccard** verifies candidate pairs exactly — a self-join that is
  broadcast-able when the candidate set is small (it is, after LSH).
* **SimHash**: per-row fold over token hashes into a 32-bit signature
  (``F.aggregate`` — pure Column expression, no Python); near-dups = equal
  signature, or Hamming <= k over the same band core (bit-slice bands).

Hash choice: ``md5(seed || token)`` rather than xxhash64 so every stage is
bit-reproducible in the ANSI-SQL DuckDB oracle (lexicographic MIN over hex
strings is engine-independent). Swap in ``xxhash64`` for raw speed on a
real cluster — plan shape identical.

The reference library has no dedup surface at all (SURVEY.md §2.B: no
joins, no aggregations over values); these operators are the
training-pipeline extension the rebuild adds.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..caching import persist_tracked
from .textstats import fingerprint, tokens


def ensure_parallelism(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Round-robin repartition when the input arrives under-partitioned
    (e.g. one small parquet file -> one task serializing a CPU-bound
    projection). No-op when the scan already has enough file splits — at
    real scale the file source provides them and this never shuffles.
    Uses ``inputFiles()`` (pure metadata, no RDD materialization) as a fast
    pre-check; when files are few, falls back to the planned scan's actual
    partition count — a handful of LARGE splittable parquet files still
    yields many scan splits via maxPartitionBytes and must not trigger a
    corpus-wide shuffle. Non-file inputs (in-memory test frames)
    repartition."""
    sc = df.sparkSession.sparkContext
    target = min_parts or sc.defaultParallelism
    if len(df.inputFiles()) >= target:
        return df
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


# ------------------------------------------------------ banded LSH pairs

def banded_pairs(
    sig: DataFrame, id_col: str, bands: list[Column], payload: Sequence[str] = ()
) -> DataFrame:
    """The pair core under MinHash and SimHash LSH: each (doc_a, doc_b),
    doc_a < doc_b, whose keys agree in at least one of the fixed
    ``bands`` (Columns over ``sig``, one row per id), ONCE, with
    ``n_shared`` agreeing bands and each ``payload`` column as
    ``{name}_a`` / ``{name}_b``.

    One persisted block table is self-joined on (band_id, key). A pair
    sharing several bands meets once per band; instead of a shuffle to
    drop the copies, a row is kept only at the FIRST band where the two
    key arrays agree, position i against position i. NULL keys never
    agree. The block table explodes an INLINE array: exploding an array
    column lets Catalyst infer a ``size(col) > 0`` filter below
    :func:`ensure_parallelism`'s round-robin, which runs the signature
    pipeline twice (BASELINE.md §12)."""
    n = len(bands)
    keyed = sig.select(F.col(id_col), *payload, F.array(*bands).alias("__keys"))
    blocks = persist_tracked(
        keyed.select(
            "*",
            F.posexplode(F.array(*[F.col("__keys")[i] for i in range(n)]))
            .alias("band_id", "key"),
        ),
        StorageLevel.MEMORY_AND_DISK,
    )

    def side(s: str) -> DataFrame:
        return blocks.select(
            "band_id", "key",
            F.col(id_col).alias(f"doc_{s}"),
            F.col("__keys").alias(f"__keys_{s}"),
            *[F.col(p).alias(f"{p}_{s}") for p in payload],
        )

    agree = [F.col("__keys_a")[i] == F.col("__keys_b")[i] for i in range(n)]
    first = F.coalesce(*[F.when(a, F.lit(i)) for i, a in enumerate(agree)])
    n_shared = sum(F.when(a, 1).otherwise(0) for a in agree)
    return (
        side("a").join(side("b"), ["band_id", "key"])
        .filter((F.col("doc_a") < F.col("doc_b")) & (first == F.col("band_id")))
        .select(
            "doc_a", "doc_b", n_shared.cast("long").alias("n_shared"),
            *[f"{p}_{s}" for s in "ab" for p in payload],
        )
    )


# ---------------------------------------------------------------- exact

def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one survivor per normalized-text fingerprint (min id wins).
    Returns (fingerprint, keep_id, n_dups). Single hash-agg, no window."""
    return (
        df.select(fingerprint(F.col(text_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


# ------------------------------------------------------------- minhash

def _intersperse(cols: list[Column]) -> list[Column]:
    out: list[Column] = []
    for i, c in enumerate(cols):
        if i:
            out.append(F.lit("|"))
        out.append(c)
    return out

def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
    prefix: str = "mh",
    shingle_n: int = 3,
) -> DataFrame:
    """Shingle MinHash, slice-optimized: ONE md5 per shingle per seed, with
    four independent 8-hex-char slices of each digest serving as four hash
    functions (disjoint bit-ranges of a uniform 128-bit hash are themselves
    independent uniform hashes). n_hashes=8 therefore costs 2 md5/shingle
    instead of 8 — measured ~3x on the LSH stage. Component i =
    lexicographic min of slice(md5(seed || shingle)) over the word
    ``shingle_n``-gram set; duplicate shingles cannot change a min, so no
    distinct pass is needed. Two stacked projections, zero shuffle. Docs
    with < ``shingle_n`` tokens get NULL components (and therefore never
    bucket — matching SQL ``||`` null semantics).

    Returns df(id_col, {prefix}0..{prefix}{n_hashes-1}).
    """
    # NB: transform lambdas must be UNARY — a second parameter (even with a
    # default) makes pyspark pass the element INDEX into it.
    def seed_hash(s: int):
        return lambda x: F.md5(F.concat(F.lit(f"s{s}:"), x))

    def slice_at(off: int):
        return lambda h: F.substring(h, off * 8 + 1, 8)

    n_seeds = (n_hashes + 3) // 4
    grams = ngram_set(F.col(text_col), shingle_n)
    hashed = df.select(
        F.col(id_col),
        *[
            F.transform(grams, seed_hash(s)).alias(f"__h{s}")
            for s in range(n_seeds)
        ],
    )
    comps = []
    for i in range(n_hashes):
        seed, off = divmod(i, 4)
        comps.append(
            F.array_min(
                F.transform(F.col(f"__h{seed}"), slice_at(off))
            ).alias(f"{prefix}{i}")
        )
    return hashed.select(F.col(id_col), *comps)


def _minhash_bands(n_hashes: int, band_size: int) -> list[Column]:
    """One bucket Column per band: the md5 of the band's signature slice.
    F.concat (not concat_ws): NULL signature components must poison the
    bucket so token-starved docs never collide on a sentinel hash."""
    return [
        F.md5(F.concat(*_intersperse(
            [F.col(f"mh{b * band_size + j}") for j in range(band_size)]
        )))
        for b in range(n_hashes // band_size)
    ]


def minhash_band_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """(band_id, bucket, doc_id) — one row per doc per band, bucketed as
    :func:`minhash_candidate_pairs` does. Downstream joins/groupBys
    shuffle on (band_id, bucket): uniform keys, bounded fanout."""
    sig = minhash_signature(
        ensure_parallelism(df), text_col, id_col, n_hashes
    )
    return sig.select(
        F.posexplode(F.array(*_minhash_bands(n_hashes, band_size)))
        .alias("band_id", "bucket"),
        F.col(id_col),
    )


def minhash_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """LSH candidate pairs: docs sharing >=1 band bucket.
    Returns (doc_a, doc_b, n_shared_bands), doc_a < doc_b, one row per
    pair — :func:`banded_pairs` over the band buckets. The self-join is
    per-(band,bucket) — quadratic only inside a bucket, which LSH keeps
    small; AQE's skew-join splitter handles pathological buckets."""
    sig = minhash_signature(
        ensure_parallelism(df), text_col, id_col, n_hashes
    )
    return banded_pairs(
        sig, id_col, _minhash_bands(n_hashes, band_size)
    ).withColumnRenamed("n_shared", "n_shared_bands")


def dedup_incremental(
    index: DataFrame,
    new_docs: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
    band_size: int = 2,
    new_bands: DataFrame | None = None,
) -> DataFrame:
    """Incremental LSH dedup: match an ingest batch against a PERSISTED
    band index of the existing corpus — the production shape where the
    corpus is deduped once and each day's batch is checked against it
    without ever re-shingling corpus text.

    ``index`` is the ``(band_id, bucket, id_col)`` table
    :func:`minhash_band_buckets` produces (same ``n_hashes``/``band_size``
    — bucket hashes are only comparable within one parameterization);
    store it partitioned or bucketed by ``(band_id, bucket)`` so this
    join co-locates with zero index-side shuffle. Returns
    ``(doc_new, doc_old, n_shared_bands)`` — every candidate near-dup
    pairing of a new doc with an indexed doc; feed it the same verify
    stage (:func:`ngram_jaccard_pairs` on the candidate set) as the
    batch path, then append the clean batch's own buckets to the index.

    At 100 TB: the index is |corpus| x n_bands rows of 3 narrow columns
    — small next to the text it summarizes, and the ONLY thing this
    touches from the corpus; the batch side shingles just the new docs.
    Join keys (band_id, bucket) are uniform md5s, so no skew; a tiny
    batch's bucket table broadcasts under AQE automatically. Intra-batch
    duplicates are a separate :func:`minhash_candidate_pairs` over the
    batch alone (|batch|-sized, cheap).

    ``new_bands``: pass the batch's own :func:`minhash_band_buckets`
    output (instead of ``new_docs``) when the caller reuses it — e.g.
    the streaming ingest job computes the bands ONCE and feeds the same
    frame to this join AND to the index-delta append, halving the
    shingle passes per micro-batch."""
    if new_bands is None:
        if new_docs is None:
            raise ValueError("pass new_docs or new_bands")
        new_bands = minhash_band_buckets(
            new_docs, text_col, id_col, n_hashes, band_size
        )
    nb = new_bands.select("band_id", "bucket", F.col(id_col).alias("doc_new"))
    idx = index.select(
        "band_id", "bucket", F.col(id_col).alias("doc_old")
    )
    return (
        nb.join(idx, ["band_id", "bucket"])
        .groupBy("doc_new", "doc_old")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_bands"))
    )


# -------------------------------------------------------- ngram jaccard

def ngram_set(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles; < n tokens -> empty array.

    Built as a zip_with reduction over n shifted slices of the token
    array — each slice is evaluated once per ROW. The earlier
    ``transform(sequence(...), i -> element_at(toks, i+j))`` form
    re-evaluated the tokenizer split inside the lambda once per gram
    per offset (Spark does not hoist non-lambda-dependent subtrees out
    of higher-order-function lambdas), i.e. O(n * words) tokenizations
    per document."""
    toks = tokens(text)
    m = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
    gram = F.slice(toks, 1, m)
    for j in range(1, n):
        gram = F.zip_with(
            gram,
            F.slice(toks, 1 + j, m),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return F.array_distinct(gram)


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.0,
) -> DataFrame:
    """Exact Jaccard over word n-gram sets for candidate (doc_a, doc_b)
    pairs — the verify stage after LSH. Two broadcast-able joins pull the
    shingle sets onto the pair rows; similarity is computed row-local.

    Shingle sets are computed ONLY for docs that appear in a candidate
    pair (semi-join restriction) and persisted for the two join sides —
    at corpus scale the candidate set is a small fraction of the corpus,
    so this avoids shingling everything twice."""
    cand_ids = (
        pairs.select(F.col("doc_a").alias(id_col))
        .union(pairs.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    shingles = (
        df.join(cand_ids, id_col, "semi")
        .select(F.col(id_col), ngram_set(F.col(text_col), n).alias("sh"))
    )
    shingles = persist_tracked(shingles)
    a = shingles.select(F.col(id_col).alias("doc_a"), F.col("sh").alias("sh_a"))
    b = shingles.select(F.col(id_col).alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(jac, 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ------------------------------------------------------------- simhash

def simhash(text: Column, bits: int = 32) -> Column:
    """SimHash signature: per-token 32-bit hash (first 8 hex chars of md5),
    signed bit-vote fold via ``F.aggregate`` over a ``bits``-wide
    accumulator, sign -> bit. Pure Column expressions — the whole thing is
    one codegen'd projection, no Python, no shuffle."""
    toks = tokens(text)
    th = F.transform(toks, lambda x: F.conv(F.substring(F.md5(x), 1, 8), 16, 10).cast("long"))
    zeros = F.array_repeat(F.lit(0).cast("long"), bits)
    # bit positions as a RUNTIME sequence, not Python-side unrolling: the
    # expression tree stays O(1) in `bits` (an earlier 32-wide unrolled
    # version spent 3-6 s per query just building/analyzing the plan)
    pos = F.sequence(F.lit(0), F.lit(bits - 1))
    votes = F.aggregate(
        th,
        zeros,
        lambda acc, h: F.zip_with(
            acc,
            # vote_j = 2*bit_j - 1 — branch-free
            F.transform(pos, lambda j: (F.getbit(h, j) * 2 - 1).cast("long")),
            lambda a, v: a + v,
        ),
    )
    # pack: sum_j (votes[j] > 0) * 2^j  (2^j exact in double for j < 53)
    powers = F.transform(pos, lambda j: F.pow(F.lit(2.0), j).cast("long"))
    return F.aggregate(
        F.zip_with(
            votes, powers,
            lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def simhash_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Group docs by exact SimHash collision (near-dup at Hamming 0).
    Returns (simhash, keep_id, n_dups). For Hamming<=k see
    :func:`simhash_hamming_pairs` (band trick)."""
    return (
        ensure_parallelism(df)
        .select(simhash(F.col(text_col)).alias("simhash"), F.col(id_col))
        .groupBy("simhash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def simhash_hamming_pairs(
    df: DataFrame,
    k: int = 3,
    n_bands: int = 4,
    bits: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs at Hamming distance <= k via the standard SimHash
    band trick: split each ``bits``-wide signature into ``n_bands``
    equal-width bands; pigeonhole guarantees any pair within Hamming
    ``n_bands - 1`` shares at least one identical band, so candidate
    generation is :func:`banded_pairs`' band-bucket equi-join (shuffle
    keyed by (band, slice) — O(n_bands * n_docs) exchanged rows, never
    all-pairs), and the popcount verify runs once per candidate pair.
    EXACT for ``k < n_bands``
    (the default 3 < 4) — the DuckDB oracle is the brute-force Hamming
    scan and must agree pair-for-pair.

    Returns (doc_a, doc_b, hamming), doc_a < doc_b.
    """
    assert k < n_bands, "band trick is only exact for k < n_bands"
    width = bits // n_bands
    mask = (1 << width) - 1
    sig = ensure_parallelism(df).select(
        F.col(id_col), simhash(F.col(text_col), bits).alias("sh")
    )
    bands = [
        F.shiftright(F.col("sh"), b * width).bitwiseAND(F.lit(mask))
        for b in range(n_bands)
    ]
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        banded_pairs(sig, id_col, bands, payload=("sh",))
        .select("doc_a", "doc_b", ham.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= k)
    )


# -------------------------------------------------------- containment

def ngram_containment_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.0,
) -> DataFrame:
    """Directional n-gram *containment* for candidate (doc_a, doc_b) pairs:

        c_a_in_b = |A ∩ B| / |A|      c_b_in_a = |A ∩ B| / |B|
        containment = max(c_a_in_b, c_b_in_a)

    Containment is the asymmetric companion to Jaccard (Broder's original
    resemblance/containment pair): a short document fully quoted inside a
    long one has Jaccard ≈ |A|/|B| (tiny) but containment ≈ 1.0 — the
    signature of boilerplate wrappers, quote-inflated pages, and
    prompt-template expansions that symmetric near-dup passes miss.

    Same physical shape as :func:`ngram_jaccard_pairs` — shingles are
    built ONLY for docs in a candidate pair (semi-join restriction), then
    two joins pull the sets onto pair rows and the ratios are row-local.
    At corpus scale the candidate set is LSH-restricted, never all-pairs.
    Empty shingle sets (doc shorter than n tokens) score 0.0, not NULL,
    so downstream ``>= threshold`` filters behave.
    """
    cand_ids = (
        pairs.select(F.col("doc_a").alias(id_col))
        .union(pairs.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    shingles = (
        df.join(cand_ids, id_col, "semi")
        .select(F.col(id_col), ngram_set(F.col(text_col), n).alias("sh"))
    )
    shingles = persist_tracked(shingles)
    a = shingles.select(F.col(id_col).alias("doc_a"), F.col("sh").alias("sh_a"))
    b = shingles.select(F.col(id_col).alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    c_ab = F.when(F.size("sh_a") > 0, inter / F.size("sh_a")).otherwise(F.lit(0.0))
    c_ba = F.when(F.size("sh_b") > 0, inter / F.size("sh_b")).otherwise(F.lit(0.0))
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(c_ab, 4).alias("c_a_in_b"),
            F.round(c_ba, 4).alias("c_b_in_a"),
            F.round(F.greatest(c_ab, c_ba), 4).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def jaccard_join_exact(
    df: DataFrame,
    threshold: float = 0.6,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT threshold Jaccard self-join via prefix filtering (the
    PPJoin/AllPairs family) — every pair with shingle-set Jaccard
    ``>= threshold``, no false negatives, never the quadratic all-pairs.

    Complements the probabilistic MinHash+LSH path: LSH trades recall
    for speed (a pair can miss every band); this operator is exact, at
    the cost of a candidate set that grows as ``threshold`` drops.

    Prefix-filter theorem: order every document's shingles by ONE global
    canonical order (ascending corpus frequency, then lexicographic —
    rarest first, which is what keeps candidate buckets small); two sets
    with Jaccard >= t MUST share a shingle inside their first
    ``|x| - ceil(t·|x|) + 1`` shingles under that shared order. So only
    prefix shingles are exploded, candidates come from an equi-join on
    the shingle, and the exact Jaccard is computed only on candidates.

    Plan shape / 100 TB: (1) one corpus aggregate for shingle
    frequencies (map-side partial); (2) explode+join to re-sort each
    doc's shingles by (freq, shingle) — shuffles the shingle table once
    on the shingle key, then once on the id; (3) prefix explode →
    equi-join on shingle (bucket sizes bounded because prefixes hold the
    RAREST shingles; a corpus-stopword shingle only enters a prefix of a
    doc whose whole set is stopwords); (4) exact verify on the
    candidate-restricted pair set. The ceil() guards subtract 1e-9
    before rounding up so float noise can only ENLARGE the prefix /
    candidate set (conservative), never shrink it — exactness is
    preserved by the verify stage either way.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b, rounded to 4.
    """
    sh = df.select(
        F.col(id_col), ngram_set(F.col(text_col), shingle_n).alias("sh")
    ).filter(F.size("sh") > 0)
    sh = persist_tracked(sh)

    freq = sh.select(F.explode("sh").alias("g")).groupBy("g").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    ordered = (
        sh.select(F.col(id_col), F.explode("sh").alias("g"))
        .join(freq, "g")
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("cnt", "g"))).alias("_sg"))
        .select(
            F.col(id_col),
            F.transform("_sg", lambda s: s["g"]).alias("toks"),
        )
    )
    sz = F.size("toks")
    plen = (
        sz - F.ceil(sz * F.lit(threshold) - F.lit(1e-9)) + 1
    ).cast("int")
    prefix = ordered.select(
        F.col(id_col),
        sz.alias("_sz"),
        F.explode(F.slice("toks", F.lit(1), plen)).alias("g"),
    )
    pa = prefix.select(
        F.col(id_col).alias("doc_a"), F.col("_sz").alias("_sza"), "g"
    )
    pb = prefix.select(
        F.col(id_col).alias("doc_b"), F.col("_sz").alias("_szb"), "g"
    )
    cand = (
        pa.join(pb, "g")
        .filter(F.col("doc_a") < F.col("doc_b"))
        # length filter: jac <= min/max, so survivors need
        # min >= ceil(t·max) (eps-conservative).
        .filter(
            F.least("_sza", "_szb")
            >= F.ceil(
                F.greatest("_sza", "_szb") * F.lit(threshold) - F.lit(1e-9)
            )
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    a = sh.select(F.col(id_col).alias("doc_a"), F.col("sh").alias("_sha"))
    b = sh.select(F.col(id_col).alias("doc_b"), F.col("sh").alias("_shb"))
    inter = F.size(F.array_intersect("_sha", "_shb")).cast("double")
    union = (
        F.size("_sha").cast("double") + F.size("_shb").cast("double") - inter
    )
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("_jac", inter / union)
        .filter(F.col("_jac") >= threshold)
        .select(
            "doc_a", "doc_b", (F.round("_jac", 4) + 0.0).alias("jaccard")
        )
    )
