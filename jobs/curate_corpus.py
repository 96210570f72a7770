"""spark-submit entry: the full corpus-curation pipeline as ONE
resumable job — the production shape a training-data team actually
runs, composed from the library's operators:

    s1_exact     exact dedup (normalized-text fingerprint, min-id wins)
    s2_neardup   MinHash+LSH candidates -> n-gram Jaccard verify ->
                 connected-component cluster resolution -> keep one
                 representative per near-dup cluster
    s3_decon     eval-set decontamination (8-gram fingerprint semi-join,
                 datasetops.decontaminate)
    s4_quality   vectorized doc-stats quality gate (quality_bp floor)
    s5_pack      concat-and-chunk sequence packing into fixed token
                 budgets, sharded

Every stage commits its output through the idempotent SnapshotWriter
under ``--output/<stage>/`` with ``snapshot_id = --run-id``: re-running
the job with the same run id SKIPS every committed stage and reads its
table back instead of recomputing — job-level checkpoint/resume on top
of the writer's snapshot isolation (a crash mid-stage leaves that stage
uncommitted and therefore recomputed, never half-read). Stage
boundaries are materialized parquet, so each stage's lineage is cut —
no 5-stage mega-plan, and per-stage row counts + write latency land in
each table's manifest (the lineage/metrics contract).

Usage (cluster):
    spark-submit --py-files asl_engine.zip jobs/curate_corpus.py \
        --input /path/docs --eval /path/benchmark_docs \
        --output /path/curated --run-id nightly-2026-08-19

Sandbox demo (no external data): --synth N generates a deterministic
corpus from the synthetic transcripts (one doc per turn, doc-unique
tokens interleaved so LSH sees a heterogeneous corpus, ~5% injected
full-text clones for the dedup stages to find).

At 100 TB: every stage is a shape measured elsewhere in this repo —
s1 one hash-agg; s2 banded bucket-join + candidate-restricted verify +
checkpointed label propagation over the PAIR graph (never the corpus);
s3 distinct-fingerprint semi-join; s4 shuffle-free projections; s5 one
hash exchange per shard. Stage tables mean a failed nightly resumes
from the last committed stage instead of re-reading the corpus.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", help="documents parquet path (doc_id, text)")
    p.add_argument("--eval", dest="eval_path",
                   help="eval/benchmark documents parquet (decontamination "
                        "reference); stage s3 is skipped when omitted")
    p.add_argument("--output", required=True, help="curated-table root")
    p.add_argument("--run-id", default=None,
                   help="snapshot id shared by every stage; re-runs with "
                        "the same id resume from the last committed stage")
    p.add_argument("--synth", type=int, default=0,
                   help="generate a deterministic synthetic corpus of N "
                        "conversations instead of --input")
    p.add_argument("--jaccard", type=float, default=0.8,
                   help="n-gram Jaccard threshold for the near-dup verify")
    p.add_argument("--min-quality", type=int, default=6000,
                   help="quality_bp floor for the quality gate")
    p.add_argument("--pack-budget", type=int, default=2048,
                   help="tokens per packed training sequence")
    p.add_argument("--shards", type=int, default=8,
                   help="independent packing shards (parallelism of s5)")
    p.add_argument("--stop-after", default=None,
                   choices=["s1_exact", "s2_neardup", "s3_decon",
                            "s4_quality", "s5_pack"],
                   help="stop after this stage (test/resume hook)")
    return p.parse_args(argv)


def synth_docs(spark, n_convs: int, tmp: str) -> DataFrame:
    """Deterministic demo corpus: one doc per synthetic transcript turn,
    one doc-unique token interleaved between every natural token pair
    (the raw ~30-word turn vocabulary is degenerately self-similar for
    LSH — BASELINE.md §8.4), ~5% full-text clones of the previous turn
    injected for the dedup stages to find. The transcripts parquet is
    written under ``tmp`` and read lazily."""
    from amazon_security_lake_transformation_library_spark.synth.transcripts import (
        gen_transcripts, write_parquet,
    )
    from pyspark.sql import Window

    write_parquet(gen_transcripts(n_convs=n_convs, mean_turns=20),
                  f"{tmp}/t.parquet")
    t = spark.read.parquet(f"{tmp}/t.parquet")
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    h = F.xxhash64("conv_id", "turn_idx")
    toks = F.split(F.col("text"), " ")
    m8 = F.substring(F.md5(h.cast("string")), 1, 8)
    uniq = F.transform(F.sequence(F.lit(1), F.size(toks)),
                       lambda i: F.concat(m8, i.cast("string")))
    mixed = F.array_join(
        F.zip_with(toks, uniq, lambda a, b: F.concat_ws(" ", a, b)), " "
    )
    base = t.select("conv_id", "turn_idx", mixed.alias("text"))
    return base.select(
        h.alias("doc_id"),
        F.when(F.pmod(F.xxhash64(h), F.lit(20)) == 0,
               F.coalesce(F.lag("text").over(w), F.col("text")))
        .otherwise(F.col("text")).alias("text"),
    )


def main(argv=None) -> int:
    args = parse_args(argv)
    # reads are lazy: the synth directory goes once _run's actions are done
    with (tempfile.TemporaryDirectory(prefix="curate_synth_") if args.synth
          else contextlib.nullcontext()) as tmp:
        return _run(args, tmp)


def _run(args, tmp) -> int:
    from amazon_security_lake_transformation_library_spark.operators import (
        datasetops as dso,
        dedup as dd,
        graph as gr,
        textstats as ts,
    )
    from amazon_security_lake_transformation_library_spark import caching
    from amazon_security_lake_transformation_library_spark.plans.writer import (
        SnapshotWriter, new_snapshot_id,
    )
    from amazon_security_lake_transformation_library_spark.session import get_spark

    spark = get_spark("curate-corpus")
    t0 = time.time()
    run_id = args.run_id or new_snapshot_id()

    if args.synth:
        docs = synth_docs(spark, args.synth, tmp)
    elif args.input:
        docs = spark.read.parquet(args.input)
    else:
        print("error: --input or --synth required", file=sys.stderr)
        return 2

    metrics: dict[str, dict] = {}

    def stage(name: str, compute):
        """Run (or resume-skip) one stage: commit compute() under
        run_id, then return the MATERIALIZED table read back from
        parquet — downstream stages never re-execute upstream lineage,
        and a replayed run reads instead of recomputing. compute is
        called lazily so a skipped stage costs nothing."""
        w = SnapshotWriter(os.path.join(args.output, name))
        skipped = run_id in w.committed_snapshots(spark)
        if not skipped:
            w.commit(compute(), snapshot_id=run_id)
            caching.release_all()  # stage-internal persists (LSH, CC)
        out = w.read(spark).filter(F.col("snapshot_id") == run_id).drop(
            "snapshot_id"
        )
        metrics[name] = {"rows": w.row_count(run_id), "resumed": skipped}
        return out

    # ---- s1: exact dedup ------------------------------------------------
    def s1():
        keep = dd.exact_dedup(docs).select(F.col("keep_id").alias("doc_id"))
        return docs.join(keep, "doc_id", "semi")

    docs1 = stage("s1_exact", s1)
    if args.stop_after == "s1_exact":
        return _finish(metrics, t0, args)

    # ---- s2: near-dup clusters ------------------------------------------
    def s2():
        cand = dd.minhash_candidate_pairs(docs1)
        verified = dd.ngram_jaccard_pairs(
            docs1, cand, threshold=args.jaccard
        ).select("doc_a", "doc_b")
        reps = gr.dedup_clusters(docs1, verified).filter(F.col("keep"))
        return docs1.join(reps.select("doc_id"), "doc_id", "semi")

    docs2 = stage("s2_neardup", s2)
    if args.stop_after == "s2_neardup":
        return _finish(metrics, t0, args)

    # ---- s3: eval decontamination ----------------------------------------
    if args.eval_path:
        eval_df = spark.read.parquet(args.eval_path)

        def s3():
            # decontaminate(train, eval) flags EVAL docs sharing grams
            # with train; curation needs the other direction — which
            # CORPUS docs share grams with the benchmark — so the corpus
            # takes the eval seat
            flagged = dso.decontaminate(eval_df, docs2).select("doc_id")
            return docs2.join(flagged, "doc_id", "anti")

        docs3 = stage("s3_decon", s3)
    else:
        docs3 = docs2
        metrics["s3_decon"] = {"rows": metrics["s2_neardup"]["rows"],
                               "resumed": False, "skipped_no_eval": True}
    if args.stop_after == "s3_decon":
        return _finish(metrics, t0, args)

    # ---- s4: quality gate -------------------------------------------------
    def s4():
        good = ts.doc_stats(docs3).filter(
            F.col("quality_bp") >= args.min_quality
        ).select("doc_id")
        return docs3.join(good, "doc_id", "semi")

    docs4 = stage("s4_quality", s4)
    if args.stop_after == "s4_quality":
        return _finish(metrics, t0, args)

    # ---- s5: sequence packing ----------------------------------------------
    def s5():
        sized = docs4.select(
            "doc_id",
            F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
            F.pmod(F.xxhash64("doc_id"), F.lit(args.shards)).alias("shard"),
            F.md5(F.col("doc_id").cast("string")).alias("order_key"),
        )
        return dso.pack_greedy(
            sized, group_col="shard", order_col="order_key",
            size_col="n_tokens", budget=args.pack_budget,
        )

    stage("s5_pack", s5)
    return _finish(metrics, t0, args)


def _finish(metrics, t0, args) -> int:
    wall = time.time() - t0
    print(json.dumps({
        "stages": metrics,
        "wall_sec": round(wall, 2),
        "output": args.output,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
