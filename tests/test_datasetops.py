"""Dataset-assembly operators: deterministic splits, stratified sampling,
sequence packing, sliding-window chunking, decontamination.

Every Spark result is checked against an independent pure-pandas/python
re-derivation (the same oracle style as tests/test_features.py), plus the
operator-specific invariants that matter at scale: entity consistency,
rate monotonicity, chunk coverage, and the no-straddle-miss property of
the packer."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from amazon_security_lake_transformation_library_spark.operators import datasetops as D


def _bucket(salt: str, entity: str) -> str:
    return hashlib.md5((salt + entity).encode()).hexdigest()[:4]


# ------------------------------------------------------------ split_assign

def test_split_assign_matches_python_and_is_entity_consistent(spark):
    rows = [(i, i % 37) for i in range(2000)]
    df = spark.createDataFrame(rows, "row_id long, user_id long")
    got = {
        r["row_id"]: r["split"]
        for r in D.split_assign(df, "user_id").collect()
    }
    # python re-derivation with the same thresholds
    t_train, t_val = format(int(0.8 * 65536), "04x"), format(int(0.9 * 65536), "04x")
    for row_id, user_id in rows:
        b = _bucket("split-v1", str(user_id))
        exp = "train" if b < t_train else ("val" if b < t_val else "test")
        assert got[row_id] == exp
    # entity consistency: one split per user across all its rows
    per_user = {}
    for row_id, user_id in rows:
        per_user.setdefault(user_id, set()).add(got[row_id])
    assert all(len(s) == 1 for s in per_user.values())


def test_split_assign_fractions_and_salt_reroll(spark):
    df = spark.range(20000).withColumnRenamed("id", "k")
    counts = {
        r["split"]: r["n"]
        for r in D.split_assign(df, "k")
        .groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    n = sum(counts.values())
    assert abs(counts["train"] / n - 0.8) < 0.02
    assert abs(counts["val"] / n - 0.1) < 0.01
    assert abs(counts["test"] / n - 0.1) < 0.01
    # a different salt re-rolls assignments but keeps fractions
    a = D.split_assign(df, "k", salt="s-A").withColumnRenamed("split", "sa")
    b = D.split_assign(df, "k", salt="s-B").withColumnRenamed("split", "sb")
    moved = a.join(b, "k").filter(F.col("sa") != F.col("sb")).count()
    assert moved > 1000  # ~32% expected to move


def test_split_assign_bad_fractions_raise(spark):
    df = spark.range(10)
    with pytest.raises(ValueError):
        D.split_assign(df, "id", {"train": 0.5, "test": 0.1})


# -------------------------------------------------------- sample_stratified

def test_sample_stratified_rates_and_monotonicity(spark):
    pdf = pd.DataFrame({
        "doc_id": range(12000),
        "lang": np.repeat(["en", "de", "zh"], 4000),
    })
    df = spark.createDataFrame(pdf)
    keep = D.sample_stratified(df, "lang", {"en": 0.25}, entity_col="doc_id")
    got = keep.groupBy("lang").agg(F.count("*").alias("n")).collect()
    by = {r["lang"]: r["n"] for r in got}
    assert abs(by["en"] / 4000 - 0.25) < 0.03
    assert by["de"] == 4000 and by["zh"] == 4000  # default rate 1.0
    # monotone: raising the rate only ADDS rows
    small = set(r["doc_id"] for r in keep.filter("lang='en'").collect())
    bigger = set(
        r["doc_id"]
        for r in D.sample_stratified(
            df, "lang", {"en": 0.5}, entity_col="doc_id"
        ).filter("lang='en'").collect()
    )
    assert small <= bigger


# ------------------------------------------------------------- pack_greedy

def test_pack_greedy_matches_python_packer(spark):
    rng = np.random.default_rng(7)
    pdf = pd.DataFrame({
        "doc_id": range(600),
        "shard": rng.integers(0, 5, 600),
        "n_tokens": rng.integers(1, 900, 600),
    })
    df = spark.createDataFrame(pdf)
    out = D.pack_greedy(df, "shard", "doc_id", "n_tokens", budget=2048).collect()
    got = {r["doc_id"]: (r["offset_tokens"], r["seq_id"]) for r in out}
    for shard, grp in pdf.sort_values("doc_id").groupby("shard"):
        off = 0
        for _, row in grp.iterrows():
            assert got[row["doc_id"]] == (off, off // 2048)
            off += row["n_tokens"]


def test_pack_greedy_every_budget_window_is_covered(spark):
    """Concat-and-chunk property: per shard, the doc offsets tile the
    stream with no holes — sum of sizes equals the final offset + last
    size, and seq ids are a non-decreasing sequence starting at 0."""
    pdf = pd.DataFrame({
        "doc_id": range(200),
        "shard": [0] * 200,
        "n_tokens": ([100] * 199) + [1],
    })
    out = (
        D.pack_greedy(spark.createDataFrame(pdf), "shard", "doc_id", "n_tokens", 512)
        .orderBy("doc_id").collect()
    )
    offs = [r["offset_tokens"] for r in out]
    assert offs[0] == 0
    assert all(b - a == 100 for a, b in zip(offs, offs[1:]))
    seqs = [r["seq_id"] for r in out]
    assert seqs == sorted(seqs) and seqs[0] == 0
    assert max(seqs) == (199 * 100) // 512


# ------------------------------------------------------------ chunk_tokens

def test_chunk_tokens_coverage_and_reconstruction(spark):
    texts = [
        ("a " * 200).strip(),          # long: multiple windows
        ("b " * 64).strip(),           # exactly one window
        ("c " * 65).strip(),           # one full window + 17-token tail? (65-64 ceil/48 -> 2)
        "single",                      # shorter than size
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = D.chunk_tokens(df, size=64, stride=48).orderBy("doc_id", "chunk_idx").collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, t in enumerate(texts):
        toks = t.split(" ")
        n = len(toks)
        exp_chunks = 1 if n <= 64 else 1 + int(np.ceil((n - 64) / 48))
        chunks = by_doc[i]
        assert len(chunks) == exp_chunks
        # every chunk's text is the exact token slice
        for c in chunks:
            s = c["chunk_start"]
            assert c["chunk_text"] == " ".join(toks[s : s + 64])
            assert c["chunk_len"] == min(64, n - s)
        # coverage: last chunk reaches the final token
        last = chunks[-1]
        assert last["chunk_start"] + last["chunk_len"] == n
        # stride: consecutive starts differ by exactly the stride
        starts = [c["chunk_start"] for c in chunks]
        assert all(b - a == 48 for a, b in zip(starts, starts[1:]))


def test_chunk_tokens_null_text_and_short_doc(spark):
    df = spark.createDataFrame(
        [("d1", "one two three"), ("d2", None)], "doc_id string, text string")
    rows = D.chunk_tokens(df, size=4, stride=2).collect()
    # NULL text emits nothing; a short doc emits exactly one ragged chunk
    assert [(r.doc_id, r.chunk_idx, r.chunk_start, r.chunk_len, r.chunk_text)
            for r in rows] == [("d1", 0, 0, 3, "one two three")]


def test_chunk_tokens_window_boundaries(spark):
    """Docs of exactly size, size+1 and size plus a stride multiple."""
    words = [f"w{i}" for i in range(8)]
    df = spark.createDataFrame(
        [("e1", " ".join(words[:4])), ("e2", " ".join(words[:5])),
         ("e3", " ".join(words))], "doc_id string, text string")
    rows = D.chunk_tokens(df, size=4, stride=2).orderBy("doc_id", "chunk_idx")
    assert [tuple(r) for r in rows.collect()] == [
        ("e1", 0, 0, 4, "w0 w1 w2 w3"),
        ("e2", 0, 0, 4, "w0 w1 w2 w3"),
        ("e2", 1, 2, 3, "w2 w3 w4"),
        ("e3", 0, 0, 4, "w0 w1 w2 w3"),
        ("e3", 1, 2, 4, "w2 w3 w4 w5"),
        ("e3", 2, 4, 4, "w4 w5 w6 w7"),
    ]


def test_chunk_tokens_rejects_bad_params(spark):
    df = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        D.chunk_tokens(df, size=0)
    with pytest.raises(ValueError):
        D.chunk_tokens(df, stride=-1)


# ---------------------------------------------------------- decontaminate

def test_decontaminate_finds_planted_overlap_only(spark):
    rng = np.random.default_rng(11)
    vocab = np.array([f"w{i}" for i in range(400)])

    def mk(n_docs, start_id):
        return [
            (start_id + i, " ".join(rng.choice(vocab, size=40)))
            for i in range(n_docs)
        ]

    train_rows = mk(60, 0)
    eval_rows = mk(60, 1000)
    # plant: eval doc 1000 embeds an 8-gram from train doc 3;
    # eval doc 1001 embeds a full train doc 7
    t3 = train_rows[3][1].split(" ")[10:18]
    eval_rows[0] = (1000, eval_rows[0][1] + " " + " ".join(t3))
    eval_rows[1] = (1001, train_rows[7][1])
    # eval doc 1002: short doc (< 8 tokens) can never be flagged
    eval_rows[2] = (1002, "w1 w2 w3")

    train = spark.createDataFrame(train_rows, "doc_id long, text string")
    ev = spark.createDataFrame(eval_rows, "doc_id long, text string")
    got = {r["doc_id"]: r["n_shared"] for r in D.decontaminate(train, ev).collect()}
    assert 1000 in got and got[1000] >= 1
    assert 1001 in got and got[1001] == 40 - 8 + 1  # every 8-gram of doc 7
    assert 1002 not in got
    # random 40-token docs over a 400-word vocab share no 8-gram by chance
    assert set(got) == {1000, 1001}


def test_approx_quantiles_within_tolerance_of_exact(spark):
    """The scale path for doc_length_quantiles: percentile_approx with
    accuracy A guarantees rank error <= n/A; at A=10000 and fixture sizes
    the approx medians must land within 2% of the exact continuous
    percentile the driver gate pins."""
    df = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    exact = {
        r["lang"]: (r["p50"], r["p90"])
        for r in df.groupBy("lang").agg(
            F.percentile("n_chars", F.lit(0.5)).alias("p50"),
            F.percentile("n_chars", F.lit(0.9)).alias("p90"),
        ).collect()
    }
    approx = {
        r["lang"]: (r["a50"], r["a90"])
        for r in df.groupBy("lang").agg(
            F.percentile_approx("n_chars", F.lit(0.5), F.lit(10000)).alias("a50"),
            F.percentile_approx("n_chars", F.lit(0.9), F.lit(10000)).alias("a90"),
        ).collect()
    }
    for lang, (e50, e90) in exact.items():
        a50, a90 = approx[lang]
        assert abs(a50 - e50) / e50 < 0.02, (lang, a50, e50)
        assert abs(a90 - e90) / e90 < 0.02, (lang, a90, e90)


# ----------------------------------------------------------- plan shapes

def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_split_and_chunk_plans_are_shuffle_free(spark):
    """The 100 TB property: split/sample/chunk are narrow projections —
    they must pipeline inside the scan stage with ZERO Exchange."""
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert _plan(D.split_assign(df, "doc_id")).count("Exchange") == 0
    assert _plan(
        D.sample_stratified(df, "lang", {"en": 0.5}, entity_col="doc_id")
    ).count("Exchange") == 0
    assert _plan(D.chunk_tokens(df)).count("Exchange") == 0


def test_pack_plan_is_single_exchange_running_window(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_tokens")
    )
    plan = _plan(D.pack_greedy(df, "source", "doc_id", "n_tokens", 2048))
    assert plan.count("Exchange") == 1
    assert plan.count("Window") == 1
    # running frame, not a recomputed unbounded-following frame
    assert "unboundedfollowing" not in plan.lower()


def test_decontaminate_plan_has_no_cartesian(spark):
    train = spark.createDataFrame([(0, "a b c d e f g h i")], "doc_id long, text string")
    ev = spark.createDataFrame([(1, "a b c d e f g h i")], "doc_id long, text string")
    plan = D.decontaminate(train, ev)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


# ------------------------------------------------------- bloom decontaminate

def test_decontaminate_bloom_equals_exact(spark):
    """The bloom prefilter is performance-transparent: identical output to
    the exact path, even with a deliberately TINY bitmap (m=256 bits over
    thousands of grams => most positions collide, the filter passes nearly
    everything, and the exact join must do all the work)."""
    rng = np.random.default_rng(23)
    vocab = np.array([f"w{i}" for i in range(400)])

    def mk(n_docs, start_id):
        return [
            (start_id + i, " ".join(rng.choice(vocab, size=40)))
            for i in range(n_docs)
        ]

    train_rows, eval_rows = mk(60, 0), mk(60, 1000)
    t3 = train_rows[3][1].split(" ")[10:18]
    eval_rows[0] = (1000, eval_rows[0][1] + " " + " ".join(t3))
    eval_rows[1] = (1001, train_rows[7][1])
    train = spark.createDataFrame(train_rows, "doc_id long, text string")
    ev = spark.createDataFrame(eval_rows, "doc_id long, text string")

    exact = {r["doc_id"]: r["n_shared"] for r in D.decontaminate(train, ev).collect()}
    for m_bits in (1 << 22, 256):
        got = {
            r["doc_id"]: r["n_shared"]
            for r in D.decontaminate_bloom(train, ev, m_bits=m_bits).collect()
        }
        assert got == exact, m_bits
    assert set(exact) == {1000, 1001}


def test_decontaminate_plain_and_bloom_plans_agree(spark):
    """The plain plan has no bloom operators, the Bloom plan has them,
    and both produce the exact answer."""
    rng = np.random.default_rng(41)
    vocab = np.array([f"w{i}" for i in range(300)])
    rows = [(i, " ".join(rng.choice(vocab, size=30))) for i in range(40)]
    train = spark.createDataFrame(rows[:10], "doc_id long, text string")
    ev = spark.createDataFrame(
        rows[10:] + [(999, rows[2][1])], "doc_id long, text string"
    )
    plain = D.decontaminate(train, ev)
    plan = plain._jdf.queryExecution().executedPlan().toString()
    assert "word_idx" not in plan and "bit_or" not in plan
    exact = {r["doc_id"]: r["n_shared"] for r in plain.collect()}
    assert 999 in exact

    bloom = D.decontaminate_bloom(train, ev)
    plan_b = bloom._jdf.queryExecution().executedPlan().toString()
    assert "word_idx" in plan_b
    assert {r["doc_id"]: r["n_shared"] for r in bloom.collect()} == exact


def test_bloom_bitmap_no_false_negatives(spark):
    """Every inserted fingerprint must pass its own filter (Bloom's one
    guarantee), for each hash index independently."""
    fps = spark.createDataFrame(
        [(f"fp{i}",) for i in range(500)], "fp string"
    )
    bloom = D.bloom_bitmap(fps, "fp", m_bits=1 << 12, k=2)
    for j in range(2):
        kept = D._bloom_pass(fps, bloom, "fp", 1 << 12, j).count()
        assert kept == 500


def test_split_temporal_embargo_labels(spark):
    """Train strictly below cutoff-embargo, test at/after cutoff, the
    strip labeled embargo; boundary rows land on the documented side;
    works on TIMESTAMP_NTZ (parquet) columns."""
    import pandas as pd

    rows = pd.DataFrame(
        {
            "event_id": range(5),
            "ts": pd.to_datetime(
                [
                    "2024-01-10 00:00:00",  # train
                    "2024-01-19 23:59:59",  # train (just below lo)
                    "2024-01-20 00:00:00",  # embargo (== lo boundary)
                    "2024-01-21 12:00:00",  # embargo
                    "2024-01-22 00:00:00",  # test (== cutoff)
                ]
            ).astype("datetime64[us]"),
        }
    )
    import tempfile, os
    d = tempfile.mkdtemp()
    p = os.path.join(d, "t.parquet")
    rows.to_parquet(p)  # round-trips as TIMESTAMP_NTZ
    df = spark.read.parquet(p)
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    out = D.split_temporal_embargo(
        df, cutoff="2024-01-22 00:00:00", embargo_seconds=172800.0
    )
    got = {r["event_id"]: r["split"] for r in out.collect()}
    assert got == {0: "train", 1: "train", 2: "embargo", 3: "embargo", 4: "test"}


# -------------------------------------------------------- positive_pairs

def test_positive_pairs_adjacency_and_overlap(spark):
    import pandas as pd

    from amazon_security_lake_transformation_library_spark.operators.datasetops import (
        chunk_tokens, positive_pairs,
    )

    text = " ".join(f"w{i}" for i in range(200))  # 200 tokens -> 4 chunks
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2], "text": [text, "short doc"],
    }))
    out = positive_pairs(docs, size=64, stride=48).toPandas()
    # doc 1: 4 chunks -> 3 consecutive pairs; doc 2: 1 chunk -> none
    assert len(out) == 3 and set(out["doc_id"]) == {1}
    chunks = chunk_tokens(docs.filter("doc_id = 1"), size=64, stride=48)
    ctext = {r["chunk_idx"]: r["chunk_text"] for r in chunks.collect()}
    for _, r in out.iterrows():
        assert r["anchor_text"] == ctext[r["chunk_idx"]]
        assert r["positive_text"] == ctext[r["chunk_idx"] + 1]
        # stride < size -> adjacent chunks share overlapping tokens
        shared = set(r["anchor_text"].split()) & set(r["positive_text"].split())
        assert len(shared) == 64 - 48


def test_split_by_cluster_is_cluster_atomic(spark):
    # 100 docs; docs 2k and 2k+1 are near-dup pairs sharing cluster 2k.
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(100), "text": ["t"] * 100})
    )
    cmap = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": range(100), "cluster_id": [i - i % 2 for i in range(100)]}
        )
    )
    out = D.split_by_cluster(docs, cmap).toPandas()
    assert len(out) == 100
    by_cluster = out.groupby("cluster_id")["split"].nunique()
    assert (by_cluster == 1).all()          # no pair straddles a boundary
    # and the label equals split_assign hashed on the cluster id
    ref = D.split_assign(
        cmap.select(F.col("cluster_id").cast("string").alias("k")), "k"
    ).toPandas().drop_duplicates()
    ref_map = dict(zip(ref["k"], ref["split"]))
    for _, r in out.iterrows():
        assert r["split"] == ref_map[str(r["cluster_id"])]


def test_split_by_cluster_singletons_fall_back_to_own_id(spark):
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "text": ["a", "b", "c"]})
    )
    # only doc 1 is in the map
    cmap = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "cluster_id": [99]})
    )
    out = {r["doc_id"]: r for r in D.split_by_cluster(docs, cmap).collect()}
    assert out[1]["cluster_id"] == 99
    assert out[2]["cluster_id"] == 2 and out[3]["cluster_id"] == 3
    own = {
        r["doc_id"]: r["split"]
        for r in D.split_assign(
            spark.createDataFrame(
                pd.DataFrame({"doc_id": [2, 3], "text": ["b", "c"]})
            ),
            "doc_id",
        ).collect()
    }
    assert out[2]["split"] == own[2] and out[3]["split"] == own[3]
