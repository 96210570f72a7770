"""spark-submit entry point: end-to-end turn-feature build over a
transcripts parquet/Iceberg-style table (north-rule launch path).

Usage (cluster):
    spark-submit --py-files asl_engine.zip jobs/build_features.py \
        --input /path/transcripts --features /path/conv_features \
        --output /path/turn_features --gap-seconds 1800

Sandbox stand-in for N vs 4N executors: run identical input with
--master local[8] vs local[32] (see tools/bench_scaling.py).

With --features the feature+as-of block runs through
``fused.asof_turn_features_hybrid``, which plans the plain single-Exchange
block unless some conversation holds more than 1M turns, and routes those
through chunk-and-carry.

With --synth N_CONVS the job generates the deterministic synthetic
transcripts table instead of reading --input (bench/demo path, no
external data).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", help="transcripts parquet path")
    p.add_argument("--features", help="conv_features parquet path (as-of build side)")
    p.add_argument("--output", required=False, help="output feature table path")
    p.add_argument("--gap-seconds", type=int, default=1800)
    p.add_argument("--synth", type=int, default=0,
                   help="generate N synthetic conversations instead of --input")
    p.add_argument("--mean-turns", type=int, default=20)
    p.add_argument("--snapshot-id", default=None,
                   help="explicit snapshot id (idempotent re-runs reuse it)")
    p.add_argument("--buckets", type=int, default=0,
                   help="repartition output into N conv_id buckets before write")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)

    from amazon_security_lake_transformation_library_spark.operators.features import build_turn_features
    from amazon_security_lake_transformation_library_spark.operators.fused import (
        asof_turn_features_hybrid,
    )
    from amazon_security_lake_transformation_library_spark.operators.salted import time_chunk
    from amazon_security_lake_transformation_library_spark.plans.writer import SnapshotWriter
    from amazon_security_lake_transformation_library_spark.session import get_spark
    from amazon_security_lake_transformation_library_spark.synth.transcripts import (
        gen_conv_features, gen_transcripts, write_parquet,
    )

    spark = get_spark("build-features")
    t0 = time.time()

    if args.synth:
        tmp = tempfile.mkdtemp(prefix="transcripts_")
        pdf = gen_transcripts(n_convs=args.synth, mean_turns=args.mean_turns)
        write_parquet(pdf, f"{tmp}/transcripts.parquet")
        write_parquet(gen_conv_features(pdf), f"{tmp}/conv_features.parquet")
        args.input = f"{tmp}/transcripts.parquet"
        args.features = f"{tmp}/conv_features.parquet"

    if not args.input:
        print("error: --input or --synth required", file=sys.stderr)
        return 2

    transcripts = spark.read.parquet(args.input)
    if args.features:
        build = spark.read.parquet(args.features)
        featd = asof_turn_features_hybrid(
            transcripts, build, time_chunk(chunk_seconds=6 * 3600),
            gap_seconds=args.gap_seconds,
        )
    else:
        featd = build_turn_features(transcripts, gap_seconds=args.gap_seconds)

    if args.output:
        from amazon_security_lake_transformation_library_spark.plans.writer import new_snapshot_id
        writer = SnapshotWriter(args.output)
        snap = args.snapshot_id or new_snapshot_id()
        out = featd.withColumn(
            "eventday", F.date_format(F.col("ts").cast("timestamp"), "yyyyMMdd")
        )
        committed = writer.commit(
            out,
            snapshot_id=snap,
            partition_cols=["eventday"],
            bucket_col="conv_id" if args.buckets else None,
            n_buckets=args.buckets,
            sort_cols=["conv_id", "ts", "turn_idx"] if args.buckets else (),
        )
        mf = writer.manifest(spark)
        n_rows = (
            mf.filter(F.col("snapshot_id") == snap)
            .agg(F.sum("row_count")).collect()[0][0]
            or 0  # empty output commits no manifest rows -> sum is NULL
        )
        print(f"snapshot={snap} committed={committed}", file=sys.stderr)
    else:
        n_rows = featd.count()

    wall = time.time() - t0
    print(json.dumps({
        "rows": int(n_rows),
        "wall_sec": round(wall, 2),
        "turns_per_sec": round(n_rows / wall, 1) if wall > 0 else None,
        "output": args.output,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
