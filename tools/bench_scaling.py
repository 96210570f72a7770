"""Scaling-efficiency evidence for the north rule (sandbox stand-in for
N vs 4N executors): run the IDENTICAL flagship feature-build job on the
IDENTICAL input at local[8] and local[32], report turns/sec at both and
efficiency = (T_8 / T_32) / 4.

Each parallelism level runs in its own subprocess (fresh JVM — no config
bleed between masters). Within a worker the job runs ``--runs`` times and
the fastest wall is kept (amortizes JIT/shuffle-service warmup).

Strategies (``--strategies``, comma-separated):
  * fused        — the plain one-Exchange flagship block: the hot
                   conversation (~10% of rows) serializes into one task
                   and caps scaling;
  * fused_salted — chunk-and-carry over the fused union: the hot
                   conversation spreads across tasks;
  * hybrid       — the flagship front door: salted chunks for entities
                   above ``--hot-threshold``, one plain chunk for the tail;
  * bucketed     — the zero-Exchange block over bucketed-sorted tables;
  * modular      — feature window then a separate as-of union window
                   (two Exchanges; kept for plan comparison).
Plus `--strategies curation`: the r4 curation/encoder pipeline (group
z-score + frequency encode + forward-horizon label + ordered target
encoding) — one shared conv_id Exchange/Sort for both windows, two
broadcast-agg encoders. Use --hot-frac 0.001 for its scaling cell: the
plain-window label/target frames inherit the same hot-entity serialization
the flagship's salted path exists to fix.

Usage: python tools/bench_scaling.py [--n-convs 40000] [--runs 2]
Prints one JSON line; paste the table into BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")


def worker(args) -> None:
    from amazon_security_lake_transformation_library_spark.operators.asof import asof_join
    from amazon_security_lake_transformation_library_spark.operators.features import (
        build_turn_features,
    )
    from amazon_security_lake_transformation_library_spark.operators.fused import (
        asof_turn_features,
        asof_turn_features_hybrid,
        asof_turn_features_salted,
    )
    from amazon_security_lake_transformation_library_spark.operators.salted import time_chunk
    from amazon_security_lake_transformation_library_spark.session import get_spark

    # local-cluster[W,4,4096]: W separate 4-core executor JVM processes —
    # the faithful sandbox stand-in for W executors (single-JVM local[N]
    # cannot scale here: the sandbox throttles per-PROCESS CPU to ~4-5
    # cores, measured in BASELINE.md §4; separate processes scale).
    workers = args.cpus // 4
    extra = {
        "spark.executor.memory": "11g",
        "spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024),
        # RAM-backed shuffle/spill dirs: every executor here shares ONE
        # sandbox SSD, which saturates and masks compute scaling — on a
        # real cluster each node has its own local disks
        "spark.local.dir": f"/dev/shm/spark-scaling-{workers}w",
        # Size every in-JVM thread pool (GC, JIT, netty, common FJ pool)
        # to the executor's 4 cores instead of the host's 32 visible CPUs.
        # A real cluster manager does this with cgroups; without it, W
        # executor JVMs on one host each spawn ~23 GC threads + netty
        # pools sized for 32 cores — measured 2026-08-17 on a
        # hypervisor-contended window (11.9% steal): the fused reduce
        # stage ran 866.7 CPU-s at 16-way vs 78.7 CPU-s at 4-way on
        # byte-identical shuffle input until this cap was applied.
        "spark.executor.extraJavaOptions": "-XX:ActiveProcessorCount=4",
        "spark.driver.extraJavaOptions": "-XX:ActiveProcessorCount=4",
    }
    if args.event_log:
        os.makedirs(args.event_log, exist_ok=True)
        extra["spark.eventLog.enabled"] = "true"
        extra["spark.eventLog.dir"] = args.event_log
        # plain JSON so tools/stage_report.py can read it offline (no
        # zstd codec available outside the JVM in this sandbox)
        extra["spark.eventLog.compress"] = "false"
    spark = get_spark(
        f"scaling-{workers}w",
        master=f"local-cluster[{workers},4,12288]",
        shuffle_partitions=2 * args.cpus,
        extra_conf=extra,
    )
    t = spark.read.parquet(f"{args.data}/transcripts.parquet")
    f = spark.read.parquet(f"{args.data}/conv_features.parquet")
    t.count()  # warm scan + wait for executor registration

    if args.strategy == "bucketed":
        # UNTIMED setup: the bucketed-sorted layout is paid once per table
        # lifetime (the lakehouse write), amortized over every feature
        # build after it — the timed job is the read-side block only.
        # Bucket count fixed across levels so both run the IDENTICAL
        # physical plan (32 one-file buckets = 32 scan tasks; parallelism
        # is the only variable).
        from amazon_security_lake_transformation_library_spark.plans.bucketed import (
            ensure_flagship_tables, flagship_bucketed,
        )
        # dataset-scoped layout dir, SHARED across parallelism levels: the
        # first level pays the write, the second just re-registers the
        # _SUCCESS-marked layout (plans/bucketed.py) — same as a second
        # cluster attaching to the same lakehouse table.
        # keyed by dataset AND bucket count: re-running with a different
        # --n-buckets must not re-register an existing layout under a
        # wrong declared count (register_bucketed_table would refuse, but
        # the right behavior is a fresh layout, not an error)
        wh = (
            f"/dev/shm/spark-scaling-bucketed-"
            f"{os.path.basename(args.data)}-b{args.n_buckets}"
        )
        ensure_flagship_tables(
            spark, t, f, "sc_t", "sc_cf", n_buckets=args.n_buckets,
            path_root=wh,
        )

    def job():
        chunk = time_chunk(chunk_seconds=6 * 3600)
        if args.strategy == "curation":
            # representative r4 curation/encoder pipeline (NOT the as-of
            # flagship): two broadcast-agg encoders on the raw table
            # (z-scored text length by role, tool frequency), then the
            # forward-horizon label and the ordered target encoding —
            # both Windows partition on conv_id and order on the same
            # micros key, so they share one Exchange + one Sort.
            from pyspark.sql import functions as F

            from amazon_security_lake_transformation_library_spark.operators.curation import (
                label_horizon,
            )
            from amazon_security_lake_transformation_library_spark.operators.encoders import (
                frequency_encode, target_encode_ordered, zscore_by_group,
            )

            x = zscore_by_group(
                t.withColumn("_len", F.length("text")), "_len", ["role"]
            )
            x = frequency_encode(x, "tool")
            x = label_horizon(
                x, "conv_id", "ts", F.col("role") == "assistant", 3600.0
            )
            x = target_encode_ordered(
                x, "conv_id", F.col("role") == "assistant", "ts", prior=0.5
            )
            out = x.select(
                "conv_id", "turn_idx", "z", "freq", "label_n", "label",
                "te_n", "te",
            )
        elif args.strategy == "bucketed":
            out = flagship_bucketed(spark, "sc_t", "sc_cf")
        elif args.strategy == "fused":
            out = asof_turn_features(t, f)
        elif args.strategy == "fused_salted":
            out = asof_turn_features_salted(t, f, chunk)
        elif args.strategy == "hybrid":
            # threshold: anything above ~2 task-partitions' worth of rows
            # routes to the salted path; the synthetic hot conv qualifies
            out = asof_turn_features_hybrid(
                t, f, chunk, hot_threshold_rows=args.hot_threshold
            )
        else:  # modular
            out = asof_join(
                build_turn_features(t), f,
                on="conv_id", ts="ts", build_cols=["feature_val"],
            )
        if args.sink == "parquet":
            out.write.mode("overwrite").parquet(f"{args.data}/out_{args.cpus}.parquet")
            return spark.read.parquet(f"{args.data}/out_{args.cpus}.parquet").count()
        # noop sink: forces full computation of every column with no local
        # single-disk IO — the sandbox's one SSD is a shared bottleneck a
        # real cluster's distributed sink does not have
        out.write.format("noop").mode("overwrite").save()
        return out.count()

    walls, rows = [], 0
    for _ in range(args.runs):
        # fair timing across runs: nothing cached by one run may serve
        # the next run's identical canonical plan
        spark.catalog.clearCache()
        t0 = time.time()
        rows = job()
        walls.append(time.time() - t0)
    print(json.dumps({"cpus": args.cpus, "rows": rows,
                      "wall": round(min(walls), 3)}))


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--n-convs", type=int, default=40_000)
    p.add_argument("--mean-turns", type=int, default=20)
    p.add_argument("--hot-frac", type=float, default=0.10)
    p.add_argument("--text-repeat", type=int, default=1,
                   help="widen each turn's text payload (x the ~100B "
                        "default) toward realistic KB-scale rows; the "
                        "fused_salted/hybrid narrow pre-pass is width-"
                        "invariant so their premium over fused shrinks as "
                        "this grows")
    p.add_argument("--runs", type=int, default=2)
    p.add_argument("--levels", default="4,16",
                   help="total cores per level; each level runs cores/4 "
                        "four-core executor JVMs (N vs 4N executors)")
    p.add_argument("--strategies", default="fused,hybrid")
    p.add_argument("--hot-threshold", type=int, default=200_000)
    p.add_argument("--n-buckets", type=int, default=32,
                   help="bucket count for --strategies bucketed (fixed "
                        "across levels: identical plan, parallelism is "
                        "the only variable)")
    p.add_argument("--sink", default="noop", choices=["noop", "parquet"])
    p.add_argument("--event-log", default=None,
                   help="directory for Spark event logs (per-stage evidence "
                        "for the scaling-ceiling argument; parse with "
                        "tools/stage_report.py)")
    # worker-mode flags
    p.add_argument("--worker", action="store_true")
    p.add_argument("--cpus", type=int)
    p.add_argument("--data")
    p.add_argument("--strategy")
    args = p.parse_args()

    if args.worker:
        worker(args)
        return

    from amazon_security_lake_transformation_library_spark.synth.transcripts import (
        gen_conv_features, gen_transcripts, write_parquet,
    )

    data = (f"{tempfile.gettempdir()}/scaling_{args.n_convs}_{args.mean_turns}"
            f"_{args.hot_frac}")
    if args.text_repeat != 1:
        data += f"_w{args.text_repeat}"
    meta_path = os.path.join(data, "meta.json")
    if os.path.exists(meta_path):
        meta = json.load(open(meta_path))
        n_rows, hot = meta["n_rows"], meta["hot"]
    else:
        os.makedirs(data, exist_ok=True)
        pdf = gen_transcripts(n_convs=args.n_convs, mean_turns=args.mean_turns,
                              hot_frac=args.hot_frac,
                              text_repeat=args.text_repeat)
        write_parquet(pdf, f"{data}/transcripts.parquet")
        write_parquet(gen_conv_features(pdf), f"{data}/conv_features.parquet")
        n_rows = len(pdf)
        hot = int(pdf.groupby("conv_id").size().max())
        json.dump({"n_rows": int(n_rows), "hot": hot}, open(meta_path, "w"))
    print(f"# input: {n_rows} turns, hottest conversation {hot} turns "
          f"({100.0 * hot / n_rows:.1f}%)", file=sys.stderr)

    levels = [int(x) for x in args.levels.split(",")]
    result: dict = {"n_turns": int(n_rows), "hot_turns": int(hot),
                    "levels": levels, "strategies": {}}
    for strat in args.strategies.split(","):
        walls = {}
        for cpus in levels:
            cmd = [sys.executable, os.path.abspath(__file__), "--worker",
                   "--cpus", str(cpus), "--data", data, "--strategy", strat,
                   "--runs", str(args.runs), "--sink", args.sink,
                   "--hot-threshold", str(args.hot_threshold),
                   "--n-buckets", str(args.n_buckets)]
            if args.event_log:
                cmd += ["--event-log",
                        os.path.join(args.event_log, f"{strat}_{cpus}")]
            out = subprocess.run(cmd, capture_output=True, text=True)
            if out.returncode != 0:
                # surface the worker's own traceback — a swallowed stderr
                # turns an OOM or layout race into an opaque exit-1
                sys.stderr.write(out.stderr[-4000:])
                out.check_returncode()
            rec = json.loads(out.stdout.strip().splitlines()[-1])
            walls[cpus] = rec["wall"]
            print(f"# {strat} local[{cpus}]: {rec['wall']}s "
                  f"({rec['rows'] / rec['wall']:.0f} turns/s)", file=sys.stderr)
        lo, hi = min(levels), max(levels)
        speedup = walls[lo] / walls[hi]
        eff = speedup / (hi / lo)
        result["strategies"][strat] = {
            "wall_sec": walls,
            "turns_per_sec": {c: round(n_rows / w, 1) for c, w in walls.items()},
            "speedup": round(speedup, 3),
            "scaling_efficiency": round(eff, 3),
        }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
