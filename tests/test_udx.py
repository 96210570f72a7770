"""UDTF surface edge cases (operators/udx.py) — the driver oracle
covers the happy path at sf0.01 (doc_chunks_udtf); these pin the
NULL/empty behaviors an oracle diff can miss."""

from __future__ import annotations

from amazon_security_lake_transformation_library_spark.operators import udx
from amazon_security_lake_transformation_library_spark.operators.datasetops import chunk_tokens


def test_chunk_udtf_null_text_and_short_doc(spark):
    udx.register_chunk_udtf(spark)
    spark.createDataFrame(
        [("d1", "one two three"), ("d2", None)], "doc_id string, text string"
    ).createOrReplaceTempView("__udx_docs")
    rows = spark.sql(
        "SELECT d.doc_id, t.* FROM __udx_docs d, "
        "LATERAL chunk_tokens_udtf(d.text, 4, 2) t"
    ).collect()
    # NULL text emits nothing; a short doc emits exactly one ragged chunk
    assert [(r.doc_id, r.chunk_idx, r.chunk_start, r.chunk_len, r.chunk_text)
            for r in rows] == [("d1", 0, 0, 3, "one two three")]


def test_chunk_udtf_matches_jvm_chunker_on_boundaries(spark):
    """Window-boundary docs (exactly size, size+1, a stride multiple):
    UDTF rows == JVM posexplode rows."""
    texts = [
        ("e1", " ".join(f"w{i}" for i in range(4))),
        ("e2", " ".join(f"w{i}" for i in range(5))),
        ("e3", " ".join(f"w{i}" for i in range(8))),
    ]
    df = spark.createDataFrame(texts, "doc_id string, text string")
    udx.register_chunk_udtf(spark)
    df.createOrReplaceTempView("__udx_docs2")
    via_udtf = spark.sql(
        "SELECT d.doc_id, t.chunk_idx, t.chunk_start, t.chunk_len, t.chunk_text "
        "FROM __udx_docs2 d, LATERAL chunk_tokens_udtf(d.text, 4, 2) t"
    )
    via_jvm = chunk_tokens(df, size=4, stride=2).select(*via_udtf.columns)
    assert via_udtf.exceptAll(via_jvm).count() == 0
    assert via_jvm.exceptAll(via_udtf).count() == 0
