"""N-vs-4N scaling cell for the interval-overlap join
(intervals.overlap_join) — a genuinely SHUFFLING plan (two bin-explode
projections feeding a (key, bin) sort-merge/hash equi-join with the
residual overlap filter), so the honest sandbox stand-in is separate
executor JVMs via local-cluster (single-JVM local[N] is per-process
throttled to ~4-5 cores — BASELINE.md §4.1). Same harness conventions as
tools/bench_scaling_jaccard.py: 4-core executor JVMs with
ActiveProcessorCount pinned, /dev/shm shuffle dirs, fastest-of-N runs,
fresh JVM per level, identical output row counts asserted across levels,
and an ALU cpu_probe bracket around the whole window.

Input: two deterministic interval tables (hash-derived starts/lengths
over a 30-day span, ``n_keys`` equi-join keys) — interval density per
key is tuned so the matched-pair volume stays linear in the input
(~0.3 pairs per left interval), the regime a session × incident-window
overlap join actually runs in.

Usage: python tools/bench_scaling_overlap.py [--n 4000000] [--runs 2]
Prints one JSON line; paste the table into BASELINE.md §8.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SPAN_S = 30 * 86_400


def _gen(spark, n: int, n_keys: int, seed: int, path: str) -> None:
    from pyspark.sql import functions as F

    base = spark.range(n).select(
        F.col("id").alias("iv_id"),
        F.pmod(F.col("id"), F.lit(n_keys)).alias("key"),
        F.pmod(F.xxhash64(F.col("id"), F.lit(seed)), F.lit(SPAN_S))
        .cast("double").alias("s"),
        (F.lit(60.0) + F.pmod(F.xxhash64(F.col("id"), F.lit(seed + 1)),
                              F.lit(3540)).cast("double")).alias("len"),
    )
    out = base.select(
        "iv_id", "key",
        F.timestamp_seconds(F.col("s")).alias("start_ts"),
        F.timestamp_seconds(F.col("s") + F.col("len")).alias("end_ts"),
    )
    out.repartition(64).write.mode("overwrite").parquet(path)


def worker(args) -> None:
    from pyspark.sql import functions as F

    from amazon_security_lake_transformation_library_spark.operators import intervals as iv
    from amazon_security_lake_transformation_library_spark.session import get_spark

    workers = args.cpus // 4
    extra = {
        "spark.executor.memory": "11g",
        "spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024),
        "spark.local.dir": f"/dev/shm/spark-ovl-{workers}w",
        "spark.executor.extraJavaOptions": "-XX:ActiveProcessorCount=4",
        "spark.driver.extraJavaOptions": "-XX:ActiveProcessorCount=4",
    }
    spark = get_spark(
        f"overlap-scaling-{workers}w",
        master=f"local-cluster[{workers},4,12288]",
        shuffle_partitions=2 * args.cpus,
        extra_conf=extra,
    )
    left = spark.read.parquet(f"{args.data}/l")
    right = (
        spark.read.parquet(f"{args.data}/r")
        .withColumnRenamed("start_ts", "r_start")
        .withColumnRenamed("end_ts", "r_end")
        .withColumnRenamed("iv_id", "r_id")
    )
    left.count(); right.count()  # warm scans + executor registration

    walls, rows = [], 0
    for _ in range(args.runs):
        spark.catalog.clearCache()
        t0 = time.time()
        out = iv.overlap_join(
            left, right, "start_ts", "end_ts", "r_start", "r_end",
            bin_seconds=3600, keys=["key"],
        ).select("iv_id", "r_id")
        out.write.format("noop").mode("overwrite").save()
        rows = out.count()
        walls.append(time.time() - t0)
    print(json.dumps({"cpus": args.cpus, "rows": rows,
                      "wall": round(min(walls), 3),
                      "walls_all": [round(w, 3) for w in walls]}))


def _probe() -> dict:
    """ALU + membw bracket — the two axes of §5.1/§5.5: a window can pass
    the ALU probe while DRAM bandwidth is degraded, which is exactly the
    state that inflates multi-JVM shuffle walls."""
    alu = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "cpu_probe.py"), "--dur", "2.0"],
        capture_output=True, text=True, timeout=120,
    )
    bw = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "membw_probe.py")],
        capture_output=True, text=True, timeout=300,
    )
    return {"alu": json.loads(alu.stdout.strip().splitlines()[-1]),
            "membw": json.loads(bw.stdout.strip().splitlines()[-1])}


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--n", type=int, default=4_000_000)
    p.add_argument("--n-keys", type=int, default=20_000)
    p.add_argument("--runs", type=int, default=2)
    p.add_argument("--runs-hi", type=int, default=None,
                   help="runs for the HIGHEST level (the noisy one); "
                        "defaults to --runs")
    p.add_argument("--levels", default="4,16")
    p.add_argument("--worker", action="store_true")
    p.add_argument("--cpus", type=int)
    p.add_argument("--data")
    args = p.parse_args()

    if args.worker:
        worker(args)
        return

    from amazon_security_lake_transformation_library_spark.session import get_spark

    data = f"/dev/shm/ovl_intervals_n{args.n}_k{args.n_keys}"
    if not os.path.exists(f"{data}/r/_SUCCESS"):
        spark = get_spark("ovl-gen", master="local[8]")
        _gen(spark, args.n, args.n_keys, 11, f"{data}/l")
        _gen(spark, args.n, args.n_keys, 77, f"{data}/r")
        spark.stop()
        time.sleep(2)

    probe_before = _probe()
    results = {}
    lvls = [int(x) for x in args.levels.split(",")]
    for cpus in lvls:
        nruns = args.runs_hi if (args.runs_hi and cpus == max(lvls)) else args.runs
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--worker",
             "--cpus", str(cpus), "--data", data,
             "--runs", str(nruns)],
            capture_output=True, text=True, timeout=3600,
        )
        line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
        results[cpus] = json.loads(line)
        print(f"  level {cpus}: {results[cpus]}", file=sys.stderr)
    probe_after = _probe()

    levels = sorted(results)
    lo, hi = results[levels[0]], results[levels[-1]]
    assert lo["rows"] == hi["rows"], (lo["rows"], hi["rows"])
    ratio = levels[-1] // levels[0]
    eff = (lo["wall"] / hi["wall"]) / ratio
    print(json.dumps({
        "op": "interval_overlap_join",
        "n_per_side": args.n,
        "n_keys": args.n_keys,
        "pairs": lo["rows"],
        "walls": {str(k): v["wall"] for k, v in results.items()},
        "walls_all": {str(k): v.get("walls_all") for k, v in results.items()},
        "speedup": round(lo["wall"] / hi["wall"], 3),
        "efficiency": round(eff, 3),
        "probe_before": probe_before,
        "probe_after": probe_after,
    }))


if __name__ == "__main__":
    main()
