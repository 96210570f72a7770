"""The scaling launcher: the N vs 4N executor cells for the north rule.
Run the IDENTICAL job on the IDENTICAL input at each ``--levels`` core
count (default 4 and 16, as one and four 4-core executor JVMs), report
turns/sec at each and efficiency = (T_lo / T_hi) / (hi / lo).

Each parallelism level runs in its own subprocess (fresh JVM — no config
bleed between masters). Within a worker the job runs ``--runs`` times: the
first run is reported as ``cold``, and ``wall`` is the median of the last
half of the remaining (warm) runs — warm walls still fall run after run
(BASELINE.md §11), so the fastest wall or the min-max spread would measure
JIT/shuffle-service warm-up, not the plan. ``walls`` keeps every run.
One ALU + membw probe reading (tools/membw_probe.probe_window) is taken
before the sweep and one after, printed as ``probe_before`` and
``probe_after``: a low efficiency inside a low-ratio window is host
contention, not the plan.

Strategies (``--strategies``, comma-separated; a name not in
``STRATEGIES`` is refused before any data is generated):
  * fused        — the plain one-Exchange flagship block: the hot
                   conversation (~10% of rows) serializes into one task
                   and caps scaling;
  * fused_salted — chunk-and-carry over the fused union: the hot
                   conversation spreads across tasks;
  * hybrid       — the flagship front door; ``routed`` forces its routed
                   plan on the hottest conversation;
  * bucketed     — the zero-Exchange block over bucketed-sorted tables;
                   ``bucketed_cold`` / ``bucketed_routed`` force its two plans;
  * skinny_intervals / skinny_routed — the skinny router's two plans
                   over synth.gen_feature_log's EAV log, likewise;
  * modular      — feature window then a separate as-of union window
                   (two Exchanges; kept for plan comparison).
Plus `--strategies curation`: the r4 curation/encoder pipeline (group
z-score + frequency encode + forward-horizon label + ordered target
encoding) — one shared conv_id Exchange/Sort for both windows, two
broadcast-agg encoders. Use --hot-frac 0.001 for its scaling cell: the
plain-window label/target frames inherit the same hot-entity serialization
the flagship's salted path exists to fix.

Usage: python tools/bench_scaling.py [--n-convs 40000] [--runs 4]
Prints one JSON line; paste the table into BASELINE.md.
A level under 4 cores runs as one executor with that many cores:
``--levels 1,2,4`` is the hot-entity rule's sweep, BASELINE.md §11.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass

from membw_probe import probe_window  # tools/ is sys.path[0] for a script
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from amazon_security_lake_transformation_library_spark.operators.asof import (  # noqa: E402
    _skinny_routed, asof_join,
)
from amazon_security_lake_transformation_library_spark.operators.curation import (  # noqa: E402
    label_horizon,
)
from amazon_security_lake_transformation_library_spark.operators.encoders import (  # noqa: E402
    frequency_encode, target_encode_ordered, zscore_by_group,
)
from amazon_security_lake_transformation_library_spark.operators.features import (  # noqa: E402
    build_turn_features,
)
from amazon_security_lake_transformation_library_spark.operators.fused import (  # noqa: E402
    _asof_turn_features_routed,
    asof_turn_features,
    asof_turn_features_hybrid,
    asof_turn_features_salted,
)
from amazon_security_lake_transformation_library_spark.operators.salted import time_chunk  # noqa: E402
from amazon_security_lake_transformation_library_spark.plans.bucketed import (  # noqa: E402
    _bucketed_scans, _cold, _flagship_bucketed_routed,
    ensure_flagship_tables, flagship_bucketed,
)
from amazon_security_lake_transformation_library_spark.session import get_spark  # noqa: E402
from amazon_security_lake_transformation_library_spark.synth.transcripts import (  # noqa: E402
    gen_conv_features, gen_feature_log, gen_transcripts, write_parquet,
)


@dataclass
class Inputs:
    """What a strategy builds its frame from."""

    spark: SparkSession
    t: DataFrame    # turns (synth.gen_transcripts)
    f: DataFrame    # conversation features, the as-of build side
    log: DataFrame  # the skinny EAV feature log (synth.gen_feature_log)
    layout: str     # where the bucketed forms keep their tables
    n_buckets: int


def _chunk():
    return time_chunk(chunk_seconds=6 * 3600)


def _hottest(t: DataFrame) -> list:
    """The conversation with the most turns: what every routed form routes."""
    return [t.groupBy("conv_id").count()
            .orderBy(F.desc("count")).first()["conv_id"]]


def _bucketed(form: str):
    def prepare(x: Inputs):
        # UNTIMED setup: the bucketed-sorted layout is paid once per table
        # lifetime (the lakehouse write), amortized over every feature
        # build after it — the timed job is the read-side block only.
        # A layout already on disk under x.layout is re-registered, not
        # rewritten, so every level after the first reads the same one.
        ensure_flagship_tables(x.spark, x.t, x.f, "sc_t", "sc_cf",
                               n_buckets=x.n_buckets, path_root=x.layout)
        if form == "cold":
            return lambda: _cold(*_bucketed_scans(x.spark, "sc_t", "sc_cf"), 1800)
        if form == "routed":
            hot = _hottest(x.t)
            return lambda: _flagship_bucketed_routed(x.spark, "sc_t", "sc_cf", hot)
        return lambda: flagship_bucketed(x.spark, "sc_t", "sc_cf")
    return prepare


def _skinny(routed: bool):
    def prepare(x: Inputs):
        # the production band join is a sort-merge join: no broadcast
        x.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        hot = _hottest(x.t) if routed else []
        return lambda: _skinny_routed(
            x.t, x.log, ["f0", "f1", "f2", "f3"], hot,
            source_col="feature", value_col="value", on="conv_id",
            ts="ts", strict=False, asof_ts_suffix="_asof_ts")[0]
    return prepare


def _routed(x: Inputs):
    hot = _hottest(x.t)
    return lambda: _asof_turn_features_routed(x.t, x.f, _chunk(), hot)


def _curation(x: Inputs):
    # representative r4 curation/encoder pipeline (NOT the as-of
    # flagship): two broadcast-agg encoders on the raw table (z-scored
    # text length by role, tool frequency), then the forward-horizon
    # label and the ordered target encoding — both Windows partition on
    # conv_id and order on the same micros key, so they share one
    # Exchange + one Sort.
    def build():
        z = zscore_by_group(
            x.t.withColumn("_len", F.length("text")), "_len", ["role"])
        z = frequency_encode(z, "tool")
        z = label_horizon(
            z, "conv_id", "ts", F.col("role") == "assistant", 3600.0)
        z = target_encode_ordered(
            z, "conv_id", F.col("role") == "assistant", "ts", prior=0.5)
        return z.select("conv_id", "turn_idx", "z", "freq", "label_n",
                        "label", "te_n", "te")
    return build


# name -> prepare(Inputs): the untimed set-up, returning the function that
# builds the strategy's frame (the timed part of each run)
STRATEGIES = {
    "fused": lambda x: lambda: asof_turn_features(x.t, x.f),
    "fused_salted": lambda x: lambda: asof_turn_features_salted(x.t, x.f, _chunk()),
    "hybrid": lambda x: lambda: asof_turn_features_hybrid(x.t, x.f, _chunk()),
    "routed": _routed,
    "bucketed": _bucketed("flagship"),
    "bucketed_cold": _bucketed("cold"),
    "bucketed_routed": _bucketed("routed"),
    "skinny_intervals": _skinny(routed=False),
    "skinny_routed": _skinny(routed=True),
    "modular": lambda x: lambda: asof_join(
        build_turn_features(x.t), x.f,
        on="conv_id", ts="ts", build_cols=["feature_val"]),
    "curation": _curation,
}


def worker(args) -> None:
    # local-cluster[W,4,4096]: W separate 4-core executor JVM processes —
    # the faithful sandbox stand-in for W executors (single-JVM local[N]
    # cannot scale here: the sandbox throttles per-PROCESS CPU to ~4-5
    # cores, measured in BASELINE.md §4; separate processes scale).
    workers = max(args.cpus // 4, 1)
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
    master = f"local-cluster[{workers},{min(args.cpus, 4)},12288]"
    spark = get_spark(
        f"scaling-{workers}w",
        master=master,
        shuffle_partitions=2 * args.cpus,
        extra_conf=extra,
    )
    t = spark.read.parquet(f"{args.data}/transcripts.parquet")
    f = spark.read.parquet(f"{args.data}/conv_features.parquet")
    log = spark.read.parquet(f"{args.data}/feature_log.parquet")
    t.count()  # warm scan + wait for executor registration

    # the bucketed layout is keyed by dataset AND bucket count, and shared
    # across parallelism levels (the first level pays the write): a
    # different --n-buckets gets a fresh layout, never an existing one
    # re-registered under a wrong declared count
    layout = (f"/dev/shm/spark-scaling-bucketed-"
              f"{os.path.basename(args.data)}-b{args.n_buckets}")
    build = STRATEGIES[args.strategy](
        Inputs(spark, t, f, log, layout, args.n_buckets))

    walls, rows = [], 0
    for _ in range(args.runs):
        # fair timing across runs: nothing cached by one run may serve
        # the next run's identical canonical plan
        spark.catalog.clearCache()
        t0 = time.time()
        out = build()
        if args.sink == "parquet":
            path = f"{args.data}/out_{args.cpus}.parquet"
            out.write.mode("overwrite").parquet(path)
            rows = spark.read.parquet(path).count()
        else:
            # noop sink: forces full computation of every column with no
            # local single-disk IO — the sandbox's one SSD is a shared
            # bottleneck a real cluster's distributed sink does not have
            out.write.format("noop").mode("overwrite").save()
            rows = out.count()
        walls.append(time.time() - t0)
    warm = walls[1:] or walls
    print(json.dumps({"cpus": args.cpus, "master": master, "rows": rows,
                      "cold": round(walls[0], 3),
                      "wall": round(statistics.median(warm[len(warm) // 2:]), 3),
                      "walls": [round(w, 3) for w in walls]}))


def _strategy_names(value: str) -> list[str]:
    names = value.split(",")
    unknown = [n for n in names if n not in STRATEGIES]
    if unknown:
        raise argparse.ArgumentTypeError(
            f"unknown strategy {', '.join(unknown)} "
            f"(choose from {', '.join(STRATEGIES)})")
    return names


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
    p.add_argument("--runs", type=int, default=4)
    p.add_argument("--levels", default="4,16",
                   help="total cores per level; each level runs cores/4 "
                        "four-core executor JVMs (N vs 4N executors)")
    p.add_argument("--strategies", default="fused,hybrid", type=_strategy_names,
                   help="comma-separated, from: " + ", ".join(STRATEGIES))
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
    p.add_argument("--strategy", choices=STRATEGIES)
    args = p.parse_args()

    if args.worker:
        worker(args)
        return

    data = (f"{tempfile.gettempdir()}/scaling_{args.n_convs}_{args.mean_turns}"
            f"_{args.hot_frac}")
    if args.text_repeat != 1:
        data += f"_w{args.text_repeat}"
    meta_path = os.path.join(data, "meta.json")
    if os.path.exists(meta_path) and os.path.exists(f"{data}/feature_log.parquet"):
        meta = json.load(open(meta_path))
        n_rows, hot = meta["n_rows"], meta["hot"]
    else:
        os.makedirs(data, exist_ok=True)
        pdf = gen_transcripts(n_convs=args.n_convs, mean_turns=args.mean_turns,
                              hot_frac=args.hot_frac,
                              text_repeat=args.text_repeat)
        write_parquet(pdf, f"{data}/transcripts.parquet")
        write_parquet(gen_conv_features(pdf), f"{data}/conv_features.parquet")
        write_parquet(gen_feature_log(pdf), f"{data}/feature_log.parquet")
        n_rows = len(pdf)
        hot = int(pdf.groupby("conv_id").size().max())
        json.dump({"n_rows": int(n_rows), "hot": hot}, open(meta_path, "w"))
    print(f"# input: {n_rows} turns, hottest conversation {hot} turns "
          f"({100.0 * hot / n_rows:.1f}%)", file=sys.stderr)

    levels = [int(x) for x in args.levels.split(",")]
    result: dict = {"n_turns": int(n_rows), "hot_turns": int(hot),
                    "levels": levels, "probe_before": probe_window(),
                    "strategies": {}}
    for strat in args.strategies:
        walls, colds, runs = {}, {}, {}
        for cpus in levels:
            cmd = [sys.executable, os.path.abspath(__file__), "--worker",
                   "--cpus", str(cpus), "--data", data, "--strategy", strat,
                   "--runs", str(args.runs), "--sink", args.sink,
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
            colds[cpus] = rec["cold"]
            runs[cpus] = rec["walls"]
            print(f"# {strat} {rec['master']}: {rec['wall']}s "
                  f"({rec['rows'] / rec['wall']:.0f} turns/s)", file=sys.stderr)
        lo, hi = min(levels), max(levels)
        speedup = walls[lo] / walls[hi]
        eff = speedup / (hi / lo)
        result["strategies"][strat] = {
            "wall_sec": walls,
            "cold_sec": colds,
            "runs": runs,
            "turns_per_sec": {c: round(n_rows / w, 1) for c, w in walls.items()},
            "speedup": round(speedup, 3),
            "scaling_efficiency": round(eff, 3),
        }
    result["probe_after"] = probe_window()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
