"""Round-5 second-wave operators: interval overlap join, embedding
covariance/PCA, semantic decontamination, epoch shuffle, transition
matrix, budget-capped selection, linear classifier scoring.

Every test checks the distributed operator against an independent
formulation (numpy / pandas / brute-force DataFrame) on the same rows.
"""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from amazon_security_lake_transformation_library_spark.operators import behavior as bh
from amazon_security_lake_transformation_library_spark.operators import curation as cu
from amazon_security_lake_transformation_library_spark.operators import datasetops as ds
from amazon_security_lake_transformation_library_spark.operators import embedx as ex
from amazon_security_lake_transformation_library_spark.operators import intervals as iv
from amazon_security_lake_transformation_library_spark.operators import vectorize as vz


# ---------------------------------------------------------------- intervals

def _mk_intervals(spark, seed, n, name):
    rng = np.random.default_rng(seed)
    start = rng.integers(0, 100_000, n).astype("float64")
    length = rng.exponential(3000.0, n)
    pdf = pd.DataFrame({
        f"{name}_id": np.arange(n),
        f"{name}_start": pd.to_datetime(start, unit="s"),
        f"{name}_end": pd.to_datetime(start + length, unit="s"),
        "key": rng.integers(0, 5, n),
    })
    return spark.createDataFrame(pdf), pdf


def _brute_pairs(lp, rp, keyed):
    out = set()
    for _, l in lp.iterrows():
        for _, r in rp.iterrows():
            if keyed and l["key"] != r["key"]:
                continue
            if l["l_start"] <= r["r_end"] and r["r_start"] <= l["l_end"]:
                out.add((int(l["l_id"]), int(r["r_id"])))
    return out


@pytest.mark.parametrize("bin_seconds", [60, 3600, 86_400])
def test_overlap_join_matches_bruteforce(spark, bin_seconds):
    left, lp = _mk_intervals(spark, 1, 60, "l")
    right, rp = _mk_intervals(spark, 2, 50, "r")
    right = right.drop("key")
    got = iv.overlap_join(
        left, right, "l_start", "l_end", "r_start", "r_end",
        bin_seconds=bin_seconds,
    ).select("l_id", "r_id").collect()
    got_pairs = {(r["l_id"], r["r_id"]) for r in got}
    assert len(got) == len(got_pairs), "first-common-bin rule must dedup"
    assert got_pairs == _brute_pairs(lp, rp.drop(columns=["key"]).assign(key=0), keyed=False)


def test_overlap_join_keyed_and_anti(spark):
    left, lp = _mk_intervals(spark, 3, 80, "l")
    right, rp = _mk_intervals(spark, 4, 40, "r")
    got = iv.overlap_join(
        left, right, "l_start", "l_end", "r_start", "r_end",
        bin_seconds=1800, keys=["key"],
    ).select("l_id", "r_id").collect()
    got_pairs = {(r["l_id"], r["r_id"]) for r in got}
    expect = _brute_pairs(lp, rp, keyed=True)
    assert got_pairs == expect

    anti = iv.overlap_join(
        left, right, "l_start", "l_end", "r_start", "r_end",
        bin_seconds=1800, keys=["key"], anti=True,
    ).select("l_id").collect()
    matched_left = {a for a, _ in expect}
    assert {r["l_id"] for r in anti} == set(lp["l_id"]) - matched_left


def test_overlap_join_default_column_names(spark):
    """Both sides carry the default start_ts/end_ts names: the residual
    and first-common-bin predicates must still read each side's own
    columns (bare names are ambiguous after the join)."""
    def std(df, name):
        return df.withColumnRenamed(f"{name}_start", "start_ts").withColumnRenamed(
            f"{name}_end", "end_ts")

    left, lp = _mk_intervals(spark, 5, 60, "l")
    right, rp = _mk_intervals(spark, 6, 50, "r")
    left, right = std(left, "l"), std(right.drop("key"), "r")
    got = iv.overlap_join(left, right, bin_seconds=3600).select(
        "l_id", "r_id").collect()
    got_pairs = {(r["l_id"], r["r_id"]) for r in got}
    expect = _brute_pairs(lp, rp.assign(key=0), keyed=False)
    assert len(got) == len(got_pairs)
    assert got_pairs == expect

    anti = iv.overlap_join(left, right, bin_seconds=3600, anti=True)
    matched_left = {a for a, _ in expect}
    assert {r["l_id"] for r in anti.collect()} == set(lp["l_id"]) - matched_left


def test_sessions_to_intervals(spark):
    pdf = pd.DataFrame({
        "user_id": [1, 1, 1, 2],
        "session_id": [0, 0, 1, 0],
        "ts": pd.to_datetime([10, 20, 5000, 7], unit="s"),
    })
    out = iv.sessions_to_intervals(spark.createDataFrame(pdf)).collect()
    by = {(r["user_id"], r["session_id"]): r for r in out}
    assert by[(1, 0)]["n_rows"] == 2
    assert by[(1, 0)]["start_ts"] == pd.Timestamp(10, unit="s")
    assert by[(1, 0)]["end_ts"] == pd.Timestamp(20, unit="s")
    assert by[(2, 0)]["n_rows"] == 1


# ------------------------------------------------------------------ embedx

def _emb_df(spark, n=300, d=8, seed=7):
    rng = np.random.default_rng(seed)
    X = rng.normal(size=(n, d)) @ np.diag(np.linspace(3, 0.3, d))
    pdf = pd.DataFrame({
        "vec_id": np.arange(n),
        "embedding": [row.astype("float32").tolist() for row in X],
    })
    return spark.createDataFrame(pdf), X.astype("float32").astype("float64")


def test_covariance_matches_numpy(spark):
    df, X = _emb_df(spark)
    rows = ex.covariance(df).collect()
    C = np.zeros((8, 8))
    for r in rows:
        C[r["i"], r["j"]] = r["cov"]
    np.testing.assert_allclose(C, np.cov(X, rowvar=False), rtol=1e-9, atol=1e-12)


def test_pca_components_invariants_and_determinism(spark):
    df, X = _emb_df(spark)
    mu, comps, eig = ex.pca_components(df, p=4)
    np.testing.assert_allclose(mu, X.mean(axis=0), rtol=1e-9, atol=1e-12)
    # orthonormal rows, descending variance, positive max-abs element
    np.testing.assert_allclose(comps @ comps.T, np.eye(4), atol=1e-9)
    assert np.all(np.diff(eig) <= 1e-12)
    for k in range(4):
        assert comps[k, np.argmax(np.abs(comps[k]))] > 0
    # partitioning independence (partial-sum order changes)
    mu2, comps2, eig2 = ex.pca_components(df.repartition(7), p=4)
    np.testing.assert_allclose(comps, comps2, atol=1e-7)
    np.testing.assert_allclose(eig, eig2, rtol=1e-9)


@pytest.mark.parametrize("fn", [
    ex.covariance, lambda df: ex.pca_components(df, p=1),
], ids=["covariance", "pca_components"])
def test_single_vector_raises_named_error(spark, fn):
    """One valid vector has no sample covariance (n - 1 == 0): a named
    ValueError, not a division by zero. A NULL and a ragged vector do not
    count as valid."""
    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0]), (1, None), (2, [1.0, 2.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="1 valid vector"):
        fn(df)


def test_pca_project_matches_numpy(spark):
    df, X = _emb_df(spark)
    mu, comps, _ = ex.pca_components(df, p=3)
    out = ex.pca_project(df, mu, comps).orderBy("vec_id").collect()
    got = np.array([[r["pc1"], r["pc2"], r["pc3"]] for r in out])
    expect = (X - mu) @ comps.T
    np.testing.assert_allclose(got, expect, atol=1e-9)
    # eigvals == variance of the projected coordinates
    _, _, eig = ex.pca_components(df, p=3)
    np.testing.assert_allclose(got.var(axis=0, ddof=1), eig, rtol=1e-6)


# -------------------------------------------------- semantic decontamination

def test_semantic_decontaminate_matches_bruteforce(spark):
    df, X = _emb_df(spark, n=120, d=8, seed=11)
    ev = df.where(F.col("vec_id") % 13 == 0)
    tr = df.where(F.col("vec_id") % 13 != 0)
    out = ds.semantic_decontaminate(tr, ev, threshold=0.5)
    kept = {r["vec_id"] for r in out.select("vec_id").collect()}

    evX = X[::13]
    norms = np.linalg.norm(X, axis=1)
    expect = set()
    for i in range(len(X)):
        if i % 13 == 0:
            continue
        cos = evX @ X[i] / (np.linalg.norm(evX, axis=1) * norms[i])
        if not np.any(np.round(cos, 4) >= 0.5):
            expect.add(i)
    assert kept == expect


# -------------------------------------------------------------- epoch shuffle

def test_epoch_shuffle_deterministic_balanced(spark):
    docs = spark.range(2000).withColumnRenamed("id", "doc_id")
    a = ds.epoch_shuffle(docs, seed="e1", n_shards=16).collect()
    b = ds.epoch_shuffle(docs.repartition(5), seed="e1", n_shards=16).collect()
    assert sorted((r["doc_id"], r["sort_key"], r["shard"]) for r in a) == \
           sorted((r["doc_id"], r["sort_key"], r["shard"]) for r in b)
    keys = [r["sort_key"] for r in a]
    assert len(set(keys)) == len(keys)
    counts = pd.Series([r["shard"] for r in a]).value_counts()
    assert len(counts) == 16 and counts.min() > 2000 / 16 * 0.5
    # a different seed produces a different order
    c = ds.epoch_shuffle(docs, seed="e2", n_shards=16).collect()
    assert {r["doc_id"]: r["sort_key"] for r in c} != {
        r["doc_id"]: r["sort_key"] for r in a}


# ---------------------------------------------------------- transition matrix

def test_transition_matrix_matches_pandas(spark, transcripts_pdf):
    df = spark.createDataFrame(transcripts_pdf)
    out = bh.transition_matrix(df, entity="conv_id",
                               order=("turn_idx",), state_col="role")
    got = {(r["state_from"], r["state_to"]): (r["n"], r["p"])
           for r in out.collect()}

    pdf = transcripts_pdf.sort_values(["conv_id", "turn_idx"])
    nxt = pdf.groupby("conv_id")["role"].shift(-1)
    pairs = pd.DataFrame({"f": pdf["role"], "t": nxt}).dropna()
    counts = pairs.value_counts()
    totals = pairs.groupby("f").size()
    assert set(got) == set(counts.index)
    for (f, t), n in counts.items():
        gn, gp = got[(f, t)]
        assert gn == n
        assert math.isclose(gp, n / totals[f], rel_tol=1e-12)


# ------------------------------------------------------- budget selection

@pytest.mark.parametrize("budget", [0.0, 137.0, 5_000.0, 1e12])
def test_select_until_budget_matches_global_window(spark, budget):
    rng = np.random.default_rng(5)
    n = 3000
    pdf = pd.DataFrame({
        "doc_id": np.arange(n),
        # coarse grid => quantization ties across many docs
        "score": np.round(rng.uniform(0, 1, n), 3),
        "cost": rng.integers(1, 40, n).astype("float64"),
    })
    df = spark.createDataFrame(pdf)
    got = cu.select_until_budget(df, "score", "cost", budget,
                                 n_buckets=1000)
    got_ids = {r["doc_id"] for r in got.select("doc_id").collect()}

    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    ref = (
        df.withColumn("_c", F.sum("cost").over(w))
        .where(F.col("_c") <= F.lit(budget))
    )
    ref_ids = {r["doc_id"] for r in ref.select("doc_id").collect()}
    assert got_ids == ref_ids


# ------------------------------------------------------------ linear score

def test_linear_score_matches_numpy(spark):
    n = 400
    pdf = pd.DataFrame({
        "event_id": np.arange(n),
        "event_type": [["click", "view", None, "buy"][i % 4] for i in range(n)],
        "user_id": (np.arange(n) % 37).astype("int64"),
    })
    df = spark.createDataFrame(pdf)
    wtab = vz.deterministic_weights(spark, dim=32)
    out = vz.linear_score(df, ["event_type", "user_id"], wtab,
                          dim=32, bias=0.25)
    got = {r["event_id"]: r["score"] for r in out.collect()}
    assert len(got) == n

    wmap = {r["idx"]: r["w"] for r in wtab.collect()}
    import hashlib

    def hidx(col, val):
        h = hashlib.md5(f"fh-v1{col}={val}".encode()).hexdigest()
        return int(h[:8], 16) % 32, (1 if h[8] < "8" else -1)

    for i in range(0, n, 17):
        z = 0.25
        for col, val in (("event_type", pdf["event_type"][i]),
                         ("user_id", str(pdf["user_id"][i]))):
            if val is None:
                continue
            idx, sign = hidx(col, val)
            z += sign * wmap[idx]
        assert math.isclose(got[i], 1 / (1 + math.exp(-z)), rel_tol=1e-12)


# ---------------------------------------------------------- triangle count

def test_triangle_count_matches_bruteforce(spark):
    from amazon_security_lake_transformation_library_spark.operators import graph as g
    from itertools import combinations

    rng = np.random.default_rng(9)
    n = 60
    raw = {(int(a), int(b)) for a, b in rng.integers(0, n, (260, 2))}
    # add noise: reversed duplicates and self loops must be ignored
    edges = list(raw) + [(b, a) for a, b in list(raw)[:40]] + [(3, 3), (7, 7)]
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    got = {r["node"]: r["n_triangles"]
           for r in g.triangle_count(df).collect()}

    adj = {}
    for a, b in raw:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    expect = {}
    for x, y, z in combinations(sorted(adj), 3):
        if y in adj[x] and z in adj[x] and z in adj[y]:
            for v in (x, y, z):
                expect[v] = expect.get(v, 0) + 1
    assert got == expect


def test_triangle_count_hub_structure(spark):
    """Chain + skip + hub edges: known closed form — and the hub's high
    degree exercises the orientation (wedges never enumerated from it)."""
    from amazon_security_lake_transformation_library_spark.operators import graph as g

    n = 30
    rows = []
    for u in range(n):
        if u + 1 < n:
            rows.append((u, u + 1))
        if u + 2 < n:
            rows.append((u, u + 2))
        rows.append((u, u - u % 10))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["src", "dst"]))
    got = g.triangle_count(df)
    total = got.agg(F.sum("n_triangles")).collect()[0][0]
    # each triangle counted once per member node
    from itertools import combinations
    adj = {}
    for a, b in rows:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    brute = sum(1 for x, y, z in combinations(sorted(adj), 3)
                if y in adj[x] and z in adj[x] and z in adj[y])
    assert total == 3 * brute and brute > 0


# -------------------------------------------------- TWA + association rules

def test_time_weighted_avg_matches_numpy(spark):
    rng = np.random.default_rng(21)
    n = 500
    pdf = pd.DataFrame({
        "user_id": rng.integers(0, 12, n),
        "ts": pd.to_datetime(
            rng.integers(0, 1_000_000, n) * 1000, unit="us"
        ).astype("datetime64[us]"),
        "value": np.round(rng.normal(10, 3, n), 3),
        "event_id": np.arange(n),
    })
    got = {r["user_id"]: (r["n_obs"], r["twa"]) for r in
           bh.time_weighted_avg(
               spark.createDataFrame(pdf), entity="user_id",
               order=("event_id",)).collect()}
    for uid, grp in pdf.groupby("user_id"):
        g = grp.sort_values(["ts", "event_id"])
        t = g["ts"].astype("int64").to_numpy()
        v = g["value"].to_numpy()
        if t[-1] > t[0]:
            expect = float(np.sum(v[:-1] * np.diff(t)) / (t[-1] - t[0]))
        else:
            expect = float(v.min())
        n_obs, twa = got[uid]
        assert n_obs == len(g)
        assert math.isclose(twa, expect, rel_tol=1e-9)


def test_time_weighted_avg_single_row_and_ties(spark):
    pdf = pd.DataFrame({
        "user_id": [1, 2, 2],
        "ts": pd.to_datetime([5, 9, 9], unit="s").astype("datetime64[us]"),
        "value": [7.0, 3.0, 11.0],
        "event_id": [0, 1, 2],
    })
    got = {r["user_id"]: r["twa"] for r in bh.time_weighted_avg(
        spark.createDataFrame(pdf), entity="user_id",
        order=("event_id",)).collect()}
    assert got[1] == 7.0        # single observation -> its value
    assert got[2] == 3.0        # zero span -> min value fallback


def test_association_rules_matches_pandas(spark):
    rng = np.random.default_rng(33)
    n = 800
    pdf = pd.DataFrame({
        "user_id": rng.integers(0, 40, n),
        "event_type": rng.choice(list("abcde"), n),
    })
    out = bh.association_rules(
        spark.createDataFrame(pdf), entity="user_id",
        item_col="event_type")
    got = {(r["antecedent"], r["consequent"]):
           (r["n_both"], r["support"], r["confidence"], r["lift"])
           for r in out.collect()}

    baskets = pdf.drop_duplicates()
    tot = baskets["user_id"].nunique()
    item_n = baskets.groupby("event_type")["user_id"].nunique()
    m = baskets.merge(baskets, on="user_id")
    m = m[m["event_type_x"] != m["event_type_y"]]
    cnt = m.groupby(["event_type_x", "event_type_y"]).size()
    assert set(got) == set(cnt.index)
    for (x, y), nb in cnt.items():
        gn, gs, gc, gl = got[(x, y)]
        assert gn == nb
        assert math.isclose(gs, nb / tot, rel_tol=1e-12)
        assert math.isclose(gc, nb / item_n[x], rel_tol=1e-12)
        assert math.isclose(gl, nb * tot / (item_n[x] * item_n[y]),
                            rel_tol=1e-12)


# ----------------------------------------------------- multimodal r5b ops

def test_resize_nearest_matches_numpy(spark):
    from amazon_security_lake_transformation_library_spark.operators import multimodal as mm

    rng = np.random.default_rng(41)
    rows = []
    expected = {}
    for i in range(6):
        h, w = int(rng.integers(5, 20)), int(rng.integers(5, 20))
        px = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        rows.append((i, bytearray(mm.encode_bmp(px))))
        xi = (np.arange(9) * w) // 9
        yi = (np.arange(7) * h) // 7
        resized = px[np.ix_(yi, xi)]
        a = resized.astype(np.uint32)
        l8 = (a[..., 0] * 19595 + a[..., 1] * 38470 + a[..., 2] * 7471
              + 32768) >> 16
        expected[i] = (float(l8.mean()), resized)
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = mm.resize_nearest(df, out_w=9, out_h=7).collect()
    assert len(out) == 6
    for r in out:
        exp_luma, exp_px = expected[r["doc_id"]]
        assert r["out_w"] == 9 and r["out_h"] == 7
        assert math.isclose(r["mean_luma"], exp_luma, rel_tol=1e-12)
        # re-encoded payload round-trips to the resized pixels
        _, _, _, back = mm._decode_rgb_numpy(bytes(r["payload"]))
        assert np.array_equal(back, exp_px)


def test_decode_audio_wav_roundtrip_and_features(spark):
    from amazon_security_lake_transformation_library_spark.operators import multimodal as mm

    rng = np.random.default_rng(42)
    rows, expected = [], {}
    for i in range(8):
        n = int(rng.integers(10, 300))
        s = rng.integers(-32768, 32768, n).astype("int16")
        rows.append((i, bytearray(mm.encode_wav_pcm16(s, 16000))))
        sf = s.astype(np.float64)
        expected[i] = (n, float(np.sqrt(np.mean(sf * sf))),
                       int(np.sum(sf[1:] * sf[:-1] < 0)))
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = mm.decode_audio(df).collect()
    for r in out:
        n, rms, zc = expected[r["doc_id"]]
        assert r["n_samples"] == n
        assert r["sample_rate"] == 16000 and r["n_channels"] == 1
        assert math.isclose(r["rms"], rms, rel_tol=1e-12)
        assert r["zero_crossings"] == zc


def test_parse_wav_rejects_garbage():
    from amazon_security_lake_transformation_library_spark.operators import multimodal as mm

    with pytest.raises(ValueError):
        mm._parse_wav(b"not a wav file at all")
    with pytest.raises(ValueError):
        # RIFF/WAVE but no chunks
        mm._parse_wav(b"RIFF\x04\x00\x00\x00WAVE")


# --------------------------------------------------------------- k-core

def _peel_brute(edges, k):
    E = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    while True:
        deg = {}
        for a, b in E:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        weak = {n for n, d in deg.items() if d < k}
        if not weak:
            out = {}
            for a, b in E:
                out[a] = out.get(a, 0) + 1
                out[b] = out.get(b, 0) + 1
            return out
        E = {(a, b) for a, b in E if a not in weak and b not in weak}
        if not E:
            return {}


@pytest.mark.parametrize("k", [2, 3, 5])
def test_kcore_matches_bruteforce(spark, k, tmp_path):
    from amazon_security_lake_transformation_library_spark.operators import graph as g

    rng = np.random.default_rng(55)
    edges = [(int(a), int(b)) for a, b in rng.integers(0, 40, (150, 2))]
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    got = {r["node"]: r["core_deg"]
           for r in g.kcore(df, k, work_dir=str(tmp_path / f"k{k}")).collect()}
    assert got == _peel_brute(edges, k)


def test_kcore_all_peeled_returns_empty(spark, tmp_path):
    from amazon_security_lake_transformation_library_spark.operators import graph as g

    # a path graph has no 3-core
    edges = [(i, i + 1) for i in range(20)]
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    out = g.kcore(df, 3, work_dir=str(tmp_path / "p")).collect()
    assert out == []


# ------------------------------------------------------- data-quality gate

def test_check_constraints_counts_violations(spark):
    from amazon_security_lake_transformation_library_spark.operators import profiling as pr

    pdf = pd.DataFrame({
        "id": [1, 2, 2, 3, None, 5],          # dup 2, null key
        "status": ["A", "B", "Z", None, "A", "Q"],   # Z, Q outside
        "price": [10.0, -5.0, 50.0, 2000.0, None, 30.0],  # -5, 2000 out
        "code": ["1-x", "9-y", None, "2-z", "bad", "3-a"],  # 9-y, bad
        "ref": [10, 11, 99, None, 10, 98],    # 99, 98 missing
    })
    df = spark.createDataFrame(pdf)
    ref = spark.createDataFrame(pd.DataFrame({"k": [10, 11, 12]}))
    out = pr.check_constraints(df, [
        {"name": "u", "kind": "unique", "cols": ["id"]},
        {"name": "nn", "kind": "not_null", "col": "id"},
        {"name": "av", "kind": "accepted_values", "col": "status",
         "values": ["A", "B"]},
        {"name": "rg", "kind": "range", "col": "price", "lo": 0.0,
         "hi": 100.0},
        {"name": "rx", "kind": "regex", "col": "code",
         "pattern": "^[1-5]-"},
        {"name": "fk", "kind": "fk", "col": "ref", "ref_df": ref,
         "ref_col": "k"},
    ]).collect()
    by = {r["name"]: (r["n_violations"], r["passed"]) for r in out}
    assert by["u"] == (2, False)    # one dup + one NULL key
    assert by["nn"] == (1, False)
    assert by["av"] == (2, False)
    assert by["rg"] == (2, False)
    assert by["rx"] == (2, False)
    assert by["fk"] == (2, False)
    # order preserved as declared
    assert [r["name"] for r in out] == ["u", "nn", "av", "rg", "rx", "fk"]


def test_check_constraints_all_pass_and_unknown_kind(spark):
    from amazon_security_lake_transformation_library_spark.operators import profiling as pr

    df = spark.createDataFrame(pd.DataFrame({"x": [1, 2, 3]}))
    out = pr.check_constraints(df, [
        {"name": "ok", "kind": "not_null", "col": "x"},
    ]).collect()
    assert out[0]["passed"] is True and out[0]["n_violations"] == 0
    with pytest.raises(ValueError):
        pr.check_constraints(df, [{"name": "b", "kind": "nope", "col": "x"}])


# ------------------------------------------------------------- SRP-LSH ANN

def test_srp_topk_planted_clusters_high_recall(spark):
    """On clustered data (tight planted near-duplicate groups) the
    hyperplane-LSH angle collision probability (1 - theta/pi)^bits is
    near 1, so SRP must recover the exact top-k almost perfectly; on
    isotropic noise it legitimately cannot (documented trade). Also pins
    multi-probe >= single-probe recall."""
    from amazon_security_lake_transformation_library_spark.operators import similarity as sim

    rng = np.random.default_rng(77)
    base = rng.normal(size=(12, 32))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = []
    for i in range(240):
        v = base[i % 12] + rng.normal(scale=0.01, size=32)  # pair angle ~5 deg
        rows.append((i, v.astype("float32").tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qids = [0, 1, 2, 3]
    exact = {(r["query_id"], r["neighbor_id"])
             for r in sim.cosine_topk(df, qids, k=5).collect()}
    rec = {}
    for mp in (False, True):
        got = {(r["query_id"], r["neighbor_id"])
               for r in sim.srp_topk(df, qids, k=5, n_band_bits=8,
                                     multiprobe=mp).collect()}
        rec[mp] = len(got & exact) / len(exact)
    assert rec[True] >= rec[False]
    # pair angle ~5 deg => per-bit agreement ~0.97, so P(<=1 flip of 8
    # bits) ~ 0.97^8 + 8*0.97^7*0.03 ~ 0.98 — floor set with margin
    assert rec[True] >= 0.85, rec


def test_srp_bucket_is_pure_function_of_vector(spark):
    from amazon_security_lake_transformation_library_spark.operators import similarity as sim

    rng = np.random.default_rng(78)
    rows = [(i, rng.normal(size=16).astype("float32").tolist())
            for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    planes = sim.srp_planes(6, 16)
    a = {r["vec_id"]: r["b"] for r in df.select(
        "vec_id", sim._srp_bucket(
            df["embedding"].cast("array<double>"), planes).alias("b")
    ).collect()}
    b = {r["vec_id"]: r["b"] for r in df.repartition(7).select(
        "vec_id", sim._srp_bucket(
            df["embedding"].cast("array<double>"), planes).alias("b")
    ).collect()}
    assert a == b
    assert all(0 <= v < 64 for v in a.values())
    # numpy replay of the same planes agrees
    import numpy as np2
    for vid, vec in rows[:10]:
        dots = planes @ np2.array(vec, dtype="float64")
        expect = sum((1 << j) for j in range(6) if dots[j] >= 0)
        assert a[vid] == expect


# ------------------------------------------- burst collapse + bootstrap

def test_collapse_bursts_keeps_island_heads(spark):
    from amazon_security_lake_transformation_library_spark.operators import features as ft

    pdf = pd.DataFrame({
        "user_id": [1] * 6 + [2] * 2,
        "ts": pd.to_datetime(
            [0, 2, 3, 100, 101, 300, 0, 400], unit="s"
        ).astype("datetime64[us]"),
        "event_id": list(range(8)),
    })
    out = ft.collapse_bursts(
        spark.createDataFrame(pdf), entity="user_id", ts_col="ts",
        gap_seconds=60.0, order=("event_id",)).collect()
    got = {(r["user_id"], r["event_id"]): r["burst_id"] for r in out}
    # user 1: bursts start at t=0, t=100, t=300; user 2: t=0, t=400
    assert got == {(1, 0): 0, (1, 3): 1, (1, 5): 2, (2, 6): 0, (2, 7): 1}


def test_bootstrap_sample_reproducible_with_replacement(spark):
    from amazon_security_lake_transformation_library_spark.operators import datasetops as dsx

    docs = spark.range(50).withColumnRenamed("id", "doc_id")
    a = dsx.bootstrap_sample(docs, 500, seed="s1", n_ids=50).collect()
    b = dsx.bootstrap_sample(docs.repartition(7), 500, seed="s1",
                             n_ids=50).collect()
    assert sorted((r["draw_id"], r["doc_id"]) for r in a) == \
           sorted((r["draw_id"], r["doc_id"]) for r in b)
    assert len(a) == 500
    counts = pd.Series([r["doc_id"] for r in a]).value_counts()
    assert counts.max() > 1  # with replacement: duplicates must occur
    c = dsx.bootstrap_sample(docs, 500, seed="s2", n_ids=50).collect()
    assert sorted(r["doc_id"] for r in c) != sorted(r["doc_id"] for r in a)


def test_trimmed_mean_matches_numpy(spark):
    from amazon_security_lake_transformation_library_spark.operators import features as ft

    rng = np.random.default_rng(91)
    n = 400
    pdf = pd.DataFrame({
        "user_id": rng.integers(0, 10, n),
        "value": np.round(rng.normal(0, 5, n), 3),
        "event_id": np.arange(n),
    })
    got = {r["user_id"]: (r["n_kept"], r["trimmed_mean"]) for r in
           ft.trimmed_mean(spark.createDataFrame(pdf), entity="user_id",
                           trim_frac=0.2, order=("event_id",)).collect()}
    for uid, grp in pdf.groupby("user_id"):
        v = np.sort(grp["value"].to_numpy())
        t = int(np.floor(len(v) * 0.2))
        kept = v[t:len(v) - t]
        nk, tm = got[uid]
        assert nk == len(kept)
        assert math.isclose(tm, float(kept.mean()), rel_tol=1e-12)
    # trim 0 == plain mean; single-row group survives any trim < 0.5
    one = spark.createDataFrame(
        pd.DataFrame({"user_id": [1], "value": [7.0], "event_id": [0]}))
    r = ft.trimmed_mean(one, trim_frac=0.4, order=("event_id",)).collect()[0]
    assert r["n_kept"] == 1 and r["trimmed_mean"] == 7.0
