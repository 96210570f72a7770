"""Benchmark driver: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line {"metric": ..., "value": N, "unit": "sec", "queries": {...},
"sf": ...}.

Headline metric: total wall seconds over the headline query set (lower is
better). Also reports per-query seconds and derived throughput rows/sec
for the flagship feature-build (the north-rule metric is turns/sec; see
tools/bench_scaling.py + BASELINE.md for the N-vs-4N scaling evidence).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import Observation
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from amazon_security_lake_transformation_library_spark import caching
from amazon_security_lake_transformation_library_spark.session import get_spark

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools"))
from membw_probe import probe_window  # noqa: E402

# Headline set: every driver query except the intentionally-quadratic
# all-pairs embedding verifier (it exists as the exact baseline for the
# blocked path; at sf0.1 it is 12.5M pairs and would dominate the suite).
EXCLUDE = {"dedup_embedding_cosine"}

# The driver records only the LAST 2000 chars of this script's output
# (BENCH_r03.json's "parsed": null — the full per-query dict outgrew the
# capture window and the truncated line no longer parsed). The printed
# JSON line therefore carries a fixed headline SUBSET of per-query times;
# the complete map for every suite entry is written to BENCH_DETAIL.json
# at the repo root on every run.
HEADLINE = [
    # north-rule flagship (all four strategies) + as-of family
    "flagship_transcripts", "flagship_transcripts_bucketed",
    "flagship_transcripts_salted", "flagship_transcripts_hybrid",
    "asof_join_events", "asof_join_events_interval", "asof_join_events_multi",
    "asof_join_events_skinny", "asof_join_events_nearest",
    # window/feature family
    "lag_lead_events", "ffill_events", "sessionize_events", "cumsum_events",
    "rolling_1h_events", "session_window_events", "ewma_events_grouped",
    # dedup + ANN (the r3-regressed cells all included)
    "dedup_exact", "dedup_minhash_lsh", "dedup_ngram_jaccard",
    "dedup_simhash_hamming", "dedup_clusters", "duplicate_ngram_spans",
    "ann_cosine_topk", "ann_ivf_topk", "ann_kmeans_centroids",
    "dedup_embedding_cosine_blocked",
    # text analysis / curation / encoders
    "doc_stats", "doc_lang_trigram", "repetition_stats", "tfidf_top_terms",
    "decontaminate_docs", "decontaminate_docs_bloom", "domain_mixture_docs",
    "target_encode_events", "chat_render", "sft_pairs", "tool_chains",
    "conv_near_dup_minhash", "conv_prefix_dedup", "hot_conversations",
    "preference_pairs", "curriculum_docs",
    # reference-parity + joins/aggs representatives
    "alb_parse", "mapping_dispatch", "q1_pricing_summary", "q3_top_orders",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    probe_before = probe_window()
    spark = get_spark("bench")
    qs = entrymod.queries()

    # warm the JVM + parquet footers once (not timed per-query; counts are
    # metadata-only for parquet). Every table the suite touches — the first
    # timed query should pay its own plan, not session classloading.
    for tbl in ("events", "documents", "embeddings", "orders", "lineitem",
                "customer", "nation", "region"):
        spark.read.parquet(f"{sf_dir}/{tbl}.parquet").count()
    # one throwaway shuffle + noop write: first-shuffle service init and
    # the noop sink's classloading are SESSION costs, not query costs
    spark.range(10_000).repartition(8).groupBy(
        (F.col("id") % 10).alias("k")
    ).count().write.format("noop").mode("overwrite").save()

    times: dict[str, float] = {}
    flagship_rows = 0
    for name in qs:
        if name in EXCLUDE:
            continue
        fn = qs[name]
        t0 = time.time()
        df = fn(spark, sf_dir)
        # Materialize EVERY output column through the noop sink: a count()
        # here would let Catalyst prune the Window/feature operators the
        # query exists to measure. Row counts ride along via observe() on
        # the same single pass.
        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("n")).write.format(
            "noop"
        ).mode("overwrite").save()
        n = obs.get["n"]
        times[name] = round(time.time() - t0, 3)
        # release operator-internal cached intermediates (LSH buckets, IVF
        # assignments, ...) so cached blocks don't accumulate across the
        # suite — each query is timed self-contained, including its persists
        caching.release_all()
        if name == "flagship_transcripts":
            flagship_rows = n

    total = round(sum(times.values()), 3)
    probe_after = probe_window()
    out = {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "flagship_turns_per_sec": (
            round(flagship_rows / times["flagship_transcripts"], 1)
            if times.get("flagship_transcripts") else None
        ),
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "*"),
        "n_queries": len(times),
        "detail": "BENCH_DETAIL.json",
        "probe_before": probe_before,
        "probe_after": probe_after,
    }
    # full per-query map — the printed line holds only the HEADLINE subset
    # so it survives the driver's 2000-char output capture
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_DETAIL.json"), "w") as fh:
        json.dump(out, fh, indent=1)
    compact = dict(out)
    compact["queries"] = {k: round(times[k], 2) for k in HEADLINE if k in times}
    # probe readings live in BENCH_DETAIL.json only: the r4 printed line
    # measured 1849 chars and the driver captures the LAST 2000 — two probe
    # dicts would push it past the window and un-parse the artifact
    del compact["probe_before"], compact["probe_after"]
    print(json.dumps(compact, separators=(",", ":")))


if __name__ == "__main__":
    main()
