"""Property tests for the round-5 operators: incremental dedup must be
exactly the cross-(index, batch) slice of full-corpus LSH candidate
pairs under ANY corpus (random texts with forced duplicate clusters,
token-starved docs, singleton buckets), and curriculum bucketing must
stay total, ordered, and NaN/NULL-safe under any score distribution."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from amazon_security_lake_transformation_library_spark.operators import curation as C
from amazon_security_lake_transformation_library_spark.operators import dedup as dd

WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]


@st.composite
def corpora(draw):
    """(doc_id, text) frames with duplicate clusters and degenerate docs:
    some texts repeat verbatim (must always pair), some are <3 tokens
    (NULL signatures, must never pair), the rest are random draws over a
    tiny vocabulary (adversarial bucket density for LSH)."""
    n = draw(st.integers(2, 24))
    texts = []
    for i in range(n):
        kind = draw(st.integers(0, 3))
        if kind == 0 and texts:  # verbatim clone of an earlier doc
            texts.append(draw(st.sampled_from(texts)))
        elif kind == 1:  # token-starved: NULL minhash components
            texts.append(" ".join(draw(st.lists(
                st.sampled_from(WORDS), min_size=0, max_size=2))))
        else:
            texts.append(" ".join(draw(st.lists(
                st.sampled_from(WORDS), min_size=3, max_size=8))))
    return pd.DataFrame({
        "doc_id": np.arange(len(texts), dtype="int64"),
        "text": texts,
    })


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(pdf=corpora())
def test_dedup_incremental_is_cross_slice_of_full_lsh(spark, pdf):
    docs = spark.createDataFrame(pdf)
    idx = dd.minhash_band_buckets(docs.filter(F.col("doc_id") % 2 == 0))
    inc = dd.dedup_incremental(
        idx, docs.filter(F.col("doc_id") % 2 == 1)
    ).toPandas()
    full = dd.minhash_candidate_pairs(docs).toPandas()
    cross = {
        (int(a) if a % 2 else int(b), int(b) if a % 2 else int(a)): int(c)
        for a, b, c in zip(full["doc_a"], full["doc_b"], full["n_shared_bands"])
        if (a % 2) != (b % 2)
    }
    got = {
        (int(r["doc_new"]), int(r["doc_old"])): int(r["n_shared_bands"])
        for _, r in inc.iterrows()
    }
    assert got == cross
    # verbatim cross-parity clones of well-formed docs MUST be found
    by_text: dict[str, list[int]] = {}
    for i, t in zip(pdf["doc_id"], pdf["text"]):
        if len(t.split()) >= 3:
            by_text.setdefault(t, []).append(int(i))
    for ids in by_text.values():
        for new in ids:
            for old in ids:
                if new % 2 == 1 and old % 2 == 0:
                    assert got.get((new, old)) == 4  # all bands collide


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    # scores quantized to 0.01 steps: the operator rounds boundaries to 4
    # decimals by contract, so sub-1e-4 score gaps can LEGITIMATELY merge
    # a boundary into the max score — quantizing keeps the top-bucket
    # reachability assertion exact instead of contract-dependent
    scores=st.lists(
        st.one_of(
            st.none(),
            st.just(float("nan")),
            st.integers(-10_000, 10_000).map(lambda i: i / 100.0),
        ),
        min_size=2, max_size=40,
    ),
    n_buckets=st.integers(2, 5),
)
def test_curriculum_total_ordered_nan_safe(spark, scores, n_buckets):
    pdf = pd.DataFrame({
        "doc_id": np.arange(len(scores), dtype="int64"),
        "s": pd.array(scores, dtype="float64"),
    })
    out = (
        C.curriculum_buckets(
            spark.createDataFrame(pdf), score=F.col("s"), n_buckets=n_buckets
        )
        .toPandas().set_index("doc_id").sort_index()
    )
    real = [
        (i, v) for i, v in enumerate(scores)
        if v is not None and not math.isnan(v)
    ]
    # NULL/NaN scores surface as NULL buckets; real scores always bucket
    real_ids = {i for i, _ in real}
    for i in range(len(scores)):
        b = out.loc[i, "bucket"]
        if i in real_ids:
            assert 0 <= b < n_buckets
        else:
            assert pd.isna(b)
    # monotone: a higher score never lands in a lower bucket
    by_score = sorted(real, key=lambda t: t[1])
    buckets = [int(out.loc[i, "bucket"]) for i, _ in by_score]
    assert buckets == sorted(buckets)
    # with >= n_buckets ALL-DISTINCT real scores the TOP bucket is
    # reachable even when NaN rows outnumber the real ones (the r5
    # boundary fix). Distinctness matters: ties AT the max legitimately
    # pull the top percentile boundary onto the max score, and the
    # boundary-goes-DOWN contract then leaves the top bucket empty
    # (e.g. scores [0, 10, 10], n=2: p50 = 10, bucket(10) = 0) — that
    # is correct operator behavior, not a reachability bug.
    vals = [v for _, v in real]
    if len(set(vals)) == len(vals) and len(vals) >= n_buckets:
        assert max(buckets) == n_buckets - 1


@st.composite
def band_tables(draw):
    """(n_bands, rows) with few distinct keys, so pairs share anything
    from one band to all of them; NULL keys, one row and the empty table
    included. Ids are distinct but not in row order."""
    n_bands = draw(st.integers(1, 4))
    n = draw(st.integers(0, 10))
    ids = draw(st.permutations(range(100, 100 + n)))
    key = st.one_of(st.none(), st.integers(0, 2))
    rows = [(i, *draw(st.lists(key, min_size=n_bands, max_size=n_bands)))
            for i in ids]
    return n_bands, rows


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(table=band_tables())
def test_banded_pairs_matches_bruteforce(spark, table):
    """Every id pair with at least one agreeing non-NULL band appears
    exactly once, with the number of agreeing bands and both payloads."""
    from amazon_security_lake_transformation_library_spark import caching

    n_bands, rows = table
    keys = [f"k{b}" for b in range(n_bands)]
    sig = spark.createDataFrame(
        rows, "id long, " + ", ".join(f"{k} long" for k in keys)
    ).withColumn("p", F.col("id") * 10)
    got = sorted(
        tuple(r) for r in dd.banded_pairs(
            sig, "id", [F.col(k) for k in keys], payload=("p",)
        ).collect()
    )
    caching.release_all()
    want = []
    for a, *ka in rows:
        for b, *kb in rows:
            shared = sum(x is not None and x == y for x, y in zip(ka, kb))
            if a < b and shared:
                want.append((a, b, shared, a * 10, b * 10))
    assert got == sorted(want)
