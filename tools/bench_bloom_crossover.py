"""Measure the plain-vs-bloom decontamination crossover (VERDICT r4 #4).

The Bloom prefilter (datasetops.decontaminate_bloom) pays fixed costs —
train-gram persist, bitmap build, k broadcast probes — to shrink the
shuffle that carries the EVAL gram stream into the exact fingerprint
join. Those fixed costs lose when eval is comparable to train (the sf0.1
gate fixture: 1.83x slower in the r4 driver bench) and win when the eval
stream dwarfs the train gram set. This script measures WHERE.

Method: train = even-doc_id documents at $SF_DIR (fixed); eval = odd-doc
documents replicated E times with distinct doc_ids (text identical, so
gram volume scales linearly in E while the train bitmap stays fixed).
For each E in --evals, time plain and bloom end-to-end (noop sink, full
materialization, same session, warmed), report seconds + the ratio, and
bracket the window with the ALU/membw probes (BASELINE.md §5.1 method).

Output: one JSON line per E plus a summary line with the crossover ratio
(the smallest eval/train gram ratio where bloom wins). Feeds
BASELINE.md §8.1, which found none on one node, so callers use the
plain datasetops.decontaminate.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from pyspark.sql import functions as F

from amazon_security_lake_transformation_library_spark import caching
from amazon_security_lake_transformation_library_spark.operators import datasetops as dso
from amazon_security_lake_transformation_library_spark.session import get_spark


def _probe() -> dict:
    from cpu_probe import aggregate_rate
    from membw_probe import aggregate_gbps

    return {
        "alu_ratio_16_4": round(aggregate_rate(16, 1.0) / aggregate_rate(4, 1.0), 2),
        "membw_ratio_16_4": round(aggregate_gbps(16, 128, 2) / aggregate_gbps(4, 128, 2), 2),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--evals", default="1,4,16,64")
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()

    spark = get_spark("bloomx")
    docs = spark.read.parquet(f"{args.sf_dir}/documents.parquet")
    train = docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "text")
    eval1 = docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text")
    n_train = train.count()
    n_eval1 = eval1.count()

    before = _probe()
    print(json.dumps({"probe_before": before, "n_train_docs": n_train,
                      "n_eval_docs_base": n_eval1}), flush=True)

    def timed(make_df) -> float:
        # rebuild the DataFrame EVERY run: release_all() clears the
        # operator's internal persist_tracked handles, so re-running the
        # same handle would time a persist-stripped plan the operator
        # never normally executes (recomputed train-gram lineage) —
        # best-of-N must compare homogeneous physical plans
        best = float("inf")
        for _ in range(args.runs):
            df = make_df()
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
            caching.release_all()
        return round(best, 2)

    results = []
    for e in [int(x) for x in args.evals.split(",")]:
        # replicate eval E times with distinct ids: gram volume scales in
        # E, the per-doc text (and so per-doc contamination) is unchanged
        ev = eval1.crossJoin(
            spark.range(e).select(F.col("id").alias("__rep"))
        ).select(
            (F.col("doc_id") + F.col("__rep") * 1_000_000_000).alias("doc_id"),
            "text",
        )
        t_plain = timed(lambda: dso.decontaminate(train, ev))
        t_bloom = timed(lambda: dso.decontaminate_bloom(train, ev))
        row = {"eval_x": e, "eval_docs": n_eval1 * e,
               "plain_s": t_plain, "bloom_s": t_bloom,
               "bloom_over_plain": round(t_bloom / t_plain, 3)}
        results.append(row)
        print(json.dumps(row), flush=True)

    after = _probe()
    win = [r["eval_x"] for r in results if r["bloom_over_plain"] < 1.0]
    print(json.dumps({
        "probe_after": after,
        "crossover_eval_x": min(win) if win else None,
        "summary": results,
    }), flush=True)


if __name__ == "__main__":
    main()
