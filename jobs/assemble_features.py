"""spark-submit entry point: K-feature point-in-time ASSEMBLY from a
skinny EAV feature log — the feature-store read path (north-rule
"full as-of/point-in-time join" over the one-log-many-features layout;
companion to jobs/build_features.py, which builds features from raw
turns).

Usage (cluster):
    spark-submit --py-files asl_engine.zip jobs/assemble_features.py \
        --input /path/transcripts --log /path/feature_log \
        --sources f0,f1,f2,f3 --output /path/assembled

Plan (operators/asof.asof_join_skinny_auto; BASELINE.md §7.12/§7.15/§9):
the job has no strategy option. The chooser reads two row counts and
the log's per-entity change points and takes one of
  single_pass — asof_join_skinny (ONE Exchange + Sort + Window over
      n_probe + n_log rows), when the log holds at least a quarter of
      the probe's rows;
  intervals   — asof_join_skinny_intervals (the log widened once into
      K-vector validity intervals, then a sort-merge interval join),
      when the log is smaller and the hot-entity rule (salted.py, band
      comparisons over UNION_FLOOR) names no entity;
  routed      — asof_join_skinny_routed, when it names some: hot
      entities take the union path, the tail keeps the interval join
      (§7.15's 11x hot-shard fix).
The JSON line's "strategy" field names the plan taken.

With --synth N_CONVS the job generates the deterministic synthetic
transcripts table plus an EAV log derived from it (bench/demo path, no
external data). Output goes through the idempotent SnapshotWriter
(snapshot id = --snapshot-id for resumable re-runs) with row counts
read back from the manifest, like build_features.py.
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


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", help="probe table parquet path (conv_id, ts, ...)")
    p.add_argument("--log", help="skinny EAV feature log parquet path "
                                 "(conv_id, ts, feature, value)")
    p.add_argument("--sources", default="",
                   help="comma-separated feature names to assemble "
                        "(default: every distinct value in --log's "
                        "feature column)")
    p.add_argument("--strict", action="store_true",
                   help="exclude equal-ts feature updates (state strictly "
                        "before each probe ts)")
    p.add_argument("--output", help="SnapshotWriter table root")
    p.add_argument("--snapshot-id", default=None)
    p.add_argument("--synth", type=int, default=0,
                   help="generate N synthetic conversations + a derived "
                        "EAV log instead of --input/--log")
    p.add_argument("--mean-turns", type=int, default=20)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    # reads are lazy: the synth directory goes once _run's actions are done
    with (tempfile.TemporaryDirectory(prefix="assemble_") if args.synth
          else contextlib.nullcontext()) as tmp:
        return _run(args, tmp)


def _run(args, tmp) -> int:
    from amazon_security_lake_transformation_library_spark.operators.asof import (
        asof_join_skinny_auto,
    )
    from amazon_security_lake_transformation_library_spark.session import get_spark

    spark = get_spark("assemble-features")
    t0 = time.time()

    if args.synth:
        from amazon_security_lake_transformation_library_spark.synth.transcripts import (
            gen_feature_log, gen_transcripts, write_parquet,
        )

        pdf = gen_transcripts(n_convs=args.synth, mean_turns=args.mean_turns)
        write_parquet(pdf, f"{tmp}/transcripts.parquet")
        write_parquet(gen_feature_log(pdf), f"{tmp}/feature_log.parquet")
        args.input = f"{tmp}/transcripts.parquet"
        args.log = f"{tmp}/feature_log.parquet"

    if not args.input or not args.log:
        print("error: --input and --log (or --synth) required", file=sys.stderr)
        return 2

    probe = spark.read.parquet(args.input)
    log = spark.read.parquet(args.log)
    sources = [s for s in args.sources.split(",") if s] or [
        r[0] for r in sorted(log.select("feature").distinct().collect())
    ]

    out, strategy = asof_join_skinny_auto(probe, log, sources, strict=args.strict)

    if args.output:
        from amazon_security_lake_transformation_library_spark.functions.timeops import (
            eventday,
        )
        from amazon_security_lake_transformation_library_spark.plans.writer import (
            SnapshotWriter, new_snapshot_id,
        )

        writer = SnapshotWriter(args.output)
        snap = args.snapshot_id or new_snapshot_id()
        committed = writer.commit(
            out.withColumn("eventday", eventday("ts")), snapshot_id=snap,
            partition_cols=["eventday"],
        )
        n_rows = writer.row_count(snap)
        print(f"snapshot={snap} committed={committed}", file=sys.stderr)
    else:
        n_rows = out.count()

    wall = time.time() - t0
    print(json.dumps({
        "rows": int(n_rows),
        "strategy": strategy,
        "sources": sources,
        "wall_sec": round(wall, 2),
        "turns_per_sec": round(n_rows / wall, 1) if wall > 0 else None,
        "output": args.output,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
