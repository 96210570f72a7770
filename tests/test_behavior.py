"""Behavioral-analytics operators (operators/behavior.py) vs brute-force
pandas references: ordered funnel (unbounded + bounded-window), cohort
retention at day/week/month granularity, and exact rolling distinct via
coverage islands vs the quadratic definition."""

import datetime as dt
import random

import pandas as pd
import pytest

from amazon_security_lake_transformation_library_spark.operators import behavior as bhv

T0 = dt.datetime(2024, 1, 1)


def _mk_events(seed=7, n_entities=25, n_events=600, span_days=45):
    rng = random.Random(seed)
    types = ["signup", "view", "click", "purchase", "error"]
    rows = []
    for i in range(n_events):
        rows.append(
            {
                "event_id": i,
                "user_id": rng.randrange(n_entities),
                "event_type": rng.choice(types),
                "ts": T0
                + dt.timedelta(
                    seconds=rng.randrange(span_days * 86400), microseconds=rng.randrange(10) * 1000
                ),
                "value": rng.random(),
            }
        )
    return pd.DataFrame(rows)


@pytest.fixture(scope="module")
def events_pdf():
    return _mk_events()


@pytest.fixture(scope="module")
def events_df(spark, events_pdf):
    return spark.createDataFrame(events_pdf).cache()


def _brute_funnel(pdf, steps, within_seconds=None):
    """Greedy funnel per entity: earliest event of step i strictly after
    the step i-1 time (step 2+ additionally within whole-second budget of
    step 1 when bounded)."""
    out = {}
    for uid, g in pdf.groupby("user_id"):
        g = g.sort_values(["ts", "event_id"])
        times = [None] * len(steps)
        s1 = g[g.event_type == steps[0]].ts.min()
        if pd.isna(s1):
            continue
        times[0] = s1
        for i in range(1, len(steps)):
            prev = times[i - 1]
            if prev is None:
                break
            cand = g[(g.event_type == steps[i]) & (g.ts > prev)]
            if within_seconds is not None:
                lim = int(times[0].timestamp()) + within_seconds
                cand = cand[cand.ts.map(lambda t: int(t.timestamp()) <= lim)]
            if len(cand):
                times[i] = cand.ts.min()
        furthest = max(i + 1 for i in range(len(steps)) if times[i] is not None)
        out[uid] = (times, furthest)
    return out


@pytest.mark.parametrize("within", [None, 7 * 86400])
def test_funnel_matches_brute_force(spark, events_df, events_pdf, within):
    steps = ["signup", "click", "purchase"]
    got = {
        r["user_id"]: r
        for r in bhv.funnel_conversion(
            events_df, steps, within_seconds=within
        ).collect()
    }
    want = _brute_funnel(events_pdf, steps, within_seconds=within)
    assert set(got) == set(want)
    for uid, (times, furthest) in want.items():
        r = got[uid]
        assert r["furthest_step"] == furthest, uid
        for i, t in enumerate(times, start=1):
            gt = r[f"step{i}_ts"]
            if t is None:
                assert gt is None, (uid, i)
            else:
                assert gt == t.to_pydatetime(), (uid, i)


def test_funnel_counts_monotone_and_exact(spark, events_df, events_pdf):
    steps = ["signup", "view", "click", "purchase"]
    fd = bhv.funnel_conversion(events_df, steps)
    counts = {
        r["step"]: r["n_entities"]
        for r in bhv.funnel_counts(fd, len(steps)).collect()
    }
    want = _brute_funnel(events_pdf, steps)
    for i in range(1, len(steps) + 1):
        assert counts[i] == sum(1 for _, f in want.values() if f >= i)
    # reach is non-increasing in step depth
    assert all(counts[i] >= counts[i + 1] for i in range(1, len(steps)))


def test_funnel_counts_empty_input(spark, events_df):
    fd = bhv.funnel_conversion(events_df, ["nosuchtype", "click"])
    counts = {r["step"]: r["n_entities"] for r in bhv.funnel_counts(fd, 2).collect()}
    assert counts == {1: 0, 2: 0}


def _period(ts, gran):
    if gran == "day":
        return ts.normalize()
    if gran == "week":
        return (ts - pd.Timedelta(days=ts.weekday())).normalize()
    return ts.replace(day=1, hour=0, minute=0, second=0, microsecond=0)


def _offset(p, c, gran):
    if gran == "day":
        return (p - c).days
    if gran == "week":
        return (p - c).days // 7
    return (p.year - c.year) * 12 + (p.month - c.month)


@pytest.mark.parametrize("gran", ["day", "week", "month"])
def test_cohort_retention_matches_brute_force(spark, events_df, events_pdf, gran):
    got = {
        (r["cohort_period"], r["period_offset"]): r["n_active"]
        for r in bhv.cohort_retention(events_df, granularity=gran).collect()
    }
    pdf = events_pdf.copy()
    pdf["p"] = pdf.ts.map(lambda t: _period(pd.Timestamp(t), gran))
    pres = pdf[["user_id", "p"]].drop_duplicates()
    cohort = pres.groupby("user_id").p.min()
    want = {}
    for _, row in pres.iterrows():
        c = cohort[row.user_id]
        key = (c.date(), _offset(row.p, c, gran))
        want[key] = want.get(key, 0) + 1
    assert got == want


def test_cohort_offset_zero_equals_cohort_size(spark, events_df):
    rows = bhv.cohort_retention(events_df, granularity="week").collect()
    by_cohort = {}
    for r in rows:
        by_cohort.setdefault(r["cohort_period"], {})[r["period_offset"]] = r["n_active"]
    for _, offs in by_cohort.items():
        # every cohort member is by definition active at offset 0, and no
        # later offset can exceed the cohort's size
        assert 0 in offs
        assert all(n <= offs[0] for n in offs.values())


def _brute_rolling(pdf, bucket_seconds, w, observed_only):
    pdf = pdf.copy()
    pdf["b"] = pdf.ts.map(lambda t: int(pd.Timestamp(t).timestamp()) * 10**6 // (bucket_seconds * 10**6))
    pres = pdf[["user_id", "b"]].drop_duplicates()
    if observed_only:
        domain = sorted(pres.b.unique())
    else:
        domain = sorted(
            {b + k for b in pres.b.unique() for k in range(w)}
        )
    out = {}
    for b in domain:
        out[b] = pres[(pres.b > b - w) & (pres.b <= b)].user_id.nunique()
    return out


@pytest.mark.parametrize("observed_only", [True, False])
@pytest.mark.parametrize("w", [1, 3, 24])
def test_rolling_distinct_matches_brute_force(spark, events_df, events_pdf, w, observed_only):
    got = {
        r["bucket"]: r["n_distinct"]
        for r in bhv.rolling_distinct(
            events_df,
            bucket_seconds=3600,
            window_buckets=w,
            observed_only=observed_only,
        ).collect()
    }
    want = _brute_rolling(events_pdf, 3600, w, observed_only)
    assert got == want


def test_rolling_distinct_w1_is_plain_distinct(spark, events_df):
    """W=1 degenerates to per-bucket distinct count — islands must not
    over- or under-merge adjacent presences."""
    got = {
        r["bucket"]: r["n_distinct"]
        for r in bhv.rolling_distinct(events_df, window_buckets=1).collect()
    }
    plain = (
        events_df.selectExpr(
            "user_id", "floor(cast(cast(ts as timestamp) as double)/3600) as b"
        )
        .distinct()
        .groupBy("b")
        .count()
        .collect()
    )
    assert got == {r["b"]: r["count"] for r in plain}


def test_rolling_distinct_kmv_exact_regime(spark, events_df, events_pdf):
    """k above the global entity cardinality -> the sketch path equals the
    exact operator bucket-for-bucket (integer equality), and n_candidates
    equals the true window distinct."""
    exact = {
        r["bucket"]: r["n_distinct"]
        for r in bhv.rolling_distinct(events_df, window_buckets=24).collect()
    }
    kmv = bhv.rolling_distinct_kmv(events_df, window_buckets=24, k=512).collect()
    assert {r["bucket"] for r in kmv} == set(exact)
    for r in kmv:
        assert r["estimate"] == float(exact[r["bucket"]]), r
        assert r["n_candidates"] == exact[r["bucket"]], r


def _py_hash_frac(v) -> float:
    """Python mirror of sketch.hash_frac: first 8 md5 hex nibbles as an
    exact binary fraction."""
    import hashlib

    h = hashlib.md5(str(v).encode()).hexdigest()
    return sum(int(c, 16) * 16.0 ** -(i + 1) for i, c in enumerate(h[:8]))


def test_rolling_distinct_kmv_estimation_regime(spark):
    """k far below window cardinality: the windowed merge of per-bucket
    synopses must equal a GLOBAL KMV computed directly over each window's
    entity set (k-min-of-union == union-of-k-mins) — exact equality
    against a python mirror, no statistical tolerance. Entities rotate
    over time so different windows genuinely hold different sets."""
    rows = []
    rng = random.Random(11)
    for _ in range(6000):
        hour = rng.randrange(48)
        # sliding active population: ids [hour*8, hour*8 + 120)
        uid = hour * 8 + rng.randrange(120)
        rows.append(
            {
                "user_id": uid,
                "ts": T0 + dt.timedelta(seconds=hour * 3600 + rng.randrange(3600)),
            }
        )
    pdf = pd.DataFrame(rows)
    df = spark.createDataFrame(pdf)
    k, w = 16, 24
    pdf["b"] = pdf.ts.map(lambda t: int(pd.Timestamp(t).timestamp()) // 3600)
    pres = pdf[["user_id", "b"]].drop_duplicates()

    def mirror(bucket):
        ents = set(pres[(pres.b > bucket - w) & (pres.b <= bucket)].user_id)
        fr = sorted({_py_hash_frac(e) for e in ents})
        if len(fr) < k:
            return len(fr), float(len(fr))
        return k, round((k - 1) / fr[k - 1], 4)

    est = bhv.rolling_distinct_kmv(df, window_buckets=w, k=k).collect()
    assert {r["bucket"] for r in est} == set(pres.b.unique())
    saturated = 0
    for r in est:
        n_cand, e = mirror(r["bucket"])
        assert r["n_candidates"] == n_cand, r
        assert r["estimate"] == pytest.approx(e, abs=1e-9), (r, e)
        if n_cand == k:
            saturated += 1
    assert saturated > 10, "fixture must exercise the estimator regime"


def test_rolling_distinct_kmv_small_window_exactness(spark, events_df, events_pdf):
    """W=1 + big k degenerates to per-bucket exact distinct via the
    sketch plumbing."""
    got = {
        r["bucket"]: int(r["estimate"])
        for r in bhv.rolling_distinct_kmv(events_df, window_buckets=1, k=512).collect()
    }
    want = _brute_rolling(events_pdf, 3600, 1, True)
    assert got == want
