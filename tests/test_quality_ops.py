"""MAD outlier gate (profiling.mad_outliers), Unicode normalization
(textstats.normalize_text), response-latency profile
(chatprep.response_latency_profile)."""

import datetime
import unicodedata

import pytest
from pyspark.sql import functions as F

from amazon_security_lake_transformation_library_spark.operators import chatprep as chp
from amazon_security_lake_transformation_library_spark.operators import profiling as prof
from amazon_security_lake_transformation_library_spark.operators import textstats as ts_ops


def test_mad_outliers_flags_known_points(spark):
    # group g: values 1..9 (med 5, MAD 2) -> cutoff 3*1.4826*2 = 8.8956;
    # 100 deviates by 95 -> outlier; 9 deviates by 4 -> inlier.
    rows = [("g", float(v)) for v in range(1, 10)] + [("g", 100.0)]
    df = spark.createDataFrame(rows, ["grp", "v"]).repartition(3)
    out = {r.v: r for r in prof.mad_outliers(df, "grp", "v", k=3.0).collect()}
    assert out[100.0].is_outlier is True
    assert all(not out[float(v)].is_outlier for v in range(1, 10))
    assert out[100.0].med == pytest.approx(5.5)  # median of 10 values


def test_mad_outliers_degenerate_group(spark):
    # MAD = 0 (majority identical): only values != median flag.
    rows = [("g", 5.0)] * 6 + [("g", 7.0)]
    df = spark.createDataFrame(rows, ["grp", "v"])
    out = prof.mad_outliers(df, "grp", "v").collect()
    assert {(r.v, r.is_outlier) for r in out} == {(5.0, False), (7.0, True)}


def test_normalize_text_nfc_and_whitespace(spark):
    decomposed = "Café  du\tMonde\n"  # e + combining acute
    composed = "café du monde"
    df = spark.createDataFrame(
        [(1, decomposed), (2, "already clean"), (3, "  UPPER  CASE ")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in ts_ops.normalize_text(df).collect()}
    assert out[1].text_norm == composed
    assert out[1].changed is True
    assert out[2].text_norm == "already clean"
    assert out[2].changed is False
    assert out[3].text_norm == "upper case"
    assert out[3].changed is True

    # casing and composition edge cases, against Python's NFC + lower()
    # (whitespace-free, so the collapse/trim step is the identity)
    edge = [
        "İstanbul",          # dotted capital I: lowercases to i + U+0307
        "ΟΔΟΣ",              # Greek capital sigma at word end: final ς
        "ΣΟΦΟΣ",
        "STRAẞE",            # capital sharp s
        "ǅemal",             # titlecase digraph
        "\u2126\u212b\u212a",   # ohm, angstrom and kelvin signs
        "ﬁle",               # ligature: NFC leaves it alone
        "\U00010400",        # Deseret capital, outside the BMP
        "A\u030a",           # A + combining ring -> Å
        "e\u0301\u0323",     # combining marks reordered by NFC
        "\u1100\u1161\u11a8",  # conjoining jamo -> one Hangul syllable
    ]
    edf = spark.createDataFrame(list(enumerate(edge)), ["doc_id", "text"])
    got = {r.doc_id: r.text_norm for r in ts_ops.normalize_text(edf).collect()}
    assert got == {
        i: unicodedata.normalize("NFC", s).lower() for i, s in enumerate(edge)
    }


def test_normalize_text_no_lowercase(spark):
    df = spark.createDataFrame([(1, "MiXeD Case")], ["doc_id", "text"])
    r = ts_ops.normalize_text(df, lowercase=False).collect()[0]
    assert r.text_norm == "MiXeD Case"
    assert r.changed is False


def test_response_latency_profile_known_conversation(spark):
    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)

    def ts(s):
        return t0 + datetime.timedelta(seconds=s)

    rows = [
        # conv a: u->a latencies 2s and 10s; an a->a gap must NOT count
        ("a", 0, "user", "hi", None, ts(0)),
        ("a", 1, "assistant", "hello", None, ts(2)),
        ("a", 2, "assistant", "more", None, ts(5)),
        ("a", 3, "user", "q", None, ts(6)),
        ("a", 4, "assistant", "ans", None, ts(16)),
        # conv b: no user->assistant transition -> absent from output
        ("b", 0, "assistant", "sys", None, ts(0)),
        ("b", 1, "assistant", "sys2", None, ts(1)),
    ]
    t = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    ).repartition(4)
    out = {r.conv_id: r for r in chp.response_latency_profile(t).collect()}
    assert set(out) == {"a"}
    a = out["a"]
    assert a.n_responses == 2
    assert a.mean_latency_us == pytest.approx(6_000_000.0)
    assert a.p50_latency_us == pytest.approx(6_000_000.0)
    assert a.max_latency_us == 10_000_000
