"""N-vs-4N scaling cell for the EXACT prefix-filtered Jaccard join
(dedup.jaccard_join_exact) — a genuinely SHUFFLING plan (shingle-freq
aggregate, freq-order re-sort, prefix-token candidate join, verify
join), so the honest sandbox stand-in is separate executor JVMs via
local-cluster (single-JVM local[N] is per-process throttled to ~4-5
cores — BASELINE.md §4.1); same harness conventions as
tools/bench_scaling.py (4-core executor JVMs, ActiveProcessorCount
pinned, /dev/shm shuffle dirs, fastest-of-N runs, fresh JVM per level).

Input: the sf0.1 documents corpus replicated R times with a per-copy
suffix appended to EVERY word — copies share zero shingles, so the
near-dup pair structure is exactly R disjoint copies of the base
corpus's (verified: 256 pairs at sf0.1 -> expected 256·R rows, asserted
identical across parallelism levels). This scales the WORK R-fold
without manufacturing a quadratic cross-copy pair explosion that no
real corpus would have.

Usage: python tools/bench_scaling_jaccard.py [--repeat 16] [--runs 2]
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


def worker(args) -> None:
    from amazon_security_lake_transformation_library_spark.caching import release_all
    from amazon_security_lake_transformation_library_spark.operators import dedup
    from amazon_security_lake_transformation_library_spark.session import get_spark

    workers = args.cpus // 4
    extra = {
        "spark.executor.memory": "11g",
        "spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024),
        "spark.local.dir": f"/dev/shm/spark-jac-{workers}w",
        "spark.executor.extraJavaOptions": "-XX:ActiveProcessorCount=4",
        "spark.driver.extraJavaOptions": "-XX:ActiveProcessorCount=4",
    }
    spark = get_spark(
        f"jac-scaling-{workers}w",
        master=f"local-cluster[{workers},4,12288]",
        shuffle_partitions=2 * args.cpus,
        extra_conf=extra,
    )
    docs = spark.read.parquet(args.data)
    docs.count()  # warm scan + executor registration

    walls, rows = [], 0
    for _ in range(args.runs):
        spark.catalog.clearCache()
        release_all()  # drop the previous run's persisted shingle table
        t0 = time.time()
        out = dedup.jaccard_join_exact(docs, threshold=0.6)
        out.write.format("noop").mode("overwrite").save()
        rows = out.count()
        walls.append(time.time() - t0)
    print(json.dumps({"cpus": args.cpus, "rows": rows,
                      "wall": round(min(walls), 3)}))


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--repeat", type=int, default=16)
    p.add_argument("--runs", type=int, default=2)
    p.add_argument("--levels", default="4,16")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    # worker-mode flags
    p.add_argument("--worker", action="store_true")
    p.add_argument("--cpus", type=int)
    p.add_argument("--data")
    args = p.parse_args()

    if args.worker:
        worker(args)
        return

    from pyspark.sql import functions as F

    from amazon_security_lake_transformation_library_spark.session import get_spark

    data = f"/dev/shm/jac_corpus_r{args.repeat}"
    if not os.path.exists(f"{data}/_SUCCESS"):
        spark = get_spark("jac-gen", master="local[8]")
        base = spark.read.parquet(f"{args.sf_dir}/documents.parquet")
        parts = [
            base.select(
                (F.col("doc_id") + F.lit(i * 1_000_000)).alias("doc_id"),
                F.concat(
                    F.regexp_replace("text", " ", f"_{i} "),
                    F.lit(f"_{i}"),
                ).alias("text"),
            )
            for i in range(args.repeat)
        ]
        u = parts[0]
        for x in parts[1:]:
            u = u.union(x)
        u.repartition(32).write.mode("overwrite").parquet(data)
        spark.stop()
        time.sleep(2)

    results = {}
    for cpus in [int(x) for x in args.levels.split(",")]:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--worker",
             "--cpus", str(cpus), "--data", data,
             "--runs", str(args.runs)],
            capture_output=True, text=True, timeout=3600,
        )
        line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
        results[cpus] = json.loads(line)
        print(f"  level {cpus}: {results[cpus]}", file=sys.stderr)

    levels = sorted(results)
    lo, hi = results[levels[0]], results[levels[-1]]
    assert lo["rows"] == hi["rows"], (lo["rows"], hi["rows"])
    ratio = levels[-1] // levels[0]
    eff = (lo["wall"] / hi["wall"]) / ratio
    print(json.dumps({
        "op": "dedup_jaccard_exact",
        "repeat": args.repeat,
        "n_docs": args.repeat * 5000,
        "pairs": lo["rows"],
        "walls": {str(k): v["wall"] for k, v in results.items()},
        "speedup": round(lo["wall"] / hi["wall"], 3),
        "efficiency": round(eff, 3),
    }))


if __name__ == "__main__":
    main()
