"""Measured file-skipping evidence for the Z-order layout (BASELINE §8.6).

Builds ONE events-like table (sf0.1 events replicated R×, ~2M rows),
writes it twice at the same file count: hash-layout (repartition) vs
Z-layout (plans/layout.zorder_layout on (user_id, value)), then runs the
same selective two-dimensional band filter on both and reports:

  * files_touched — distinct input_file_name() among matching rows: the
    files ANY min/max-stat-aware reader (Iceberg manifests, parquet
    row-group stats) must open. This is the layout's skip ratio.
  * wall — fastest-of-N query wall on each layout (Spark's parquet
    reader footer-prunes row groups by min/max, so the skip ratio is
    also realized in-wall here, not just hypothetically).

Usage: python tools/bench_zorder_skipping.py [--repeat 20] [--files 64]
Prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import shutil
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--repeat", type=int, default=20)
    p.add_argument("--files", type=int, default=64)
    p.add_argument("--runs", type=int, default=3)
    p.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    args = p.parse_args()

    from pyspark.sql import functions as F

    from amazon_security_lake_transformation_library_spark.plans import layout
    from amazon_security_lake_transformation_library_spark.session import get_spark

    spark = get_spark("zorder-skip", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    base = spark.read.parquet(f"{args.sf_dir}/events.parquet")
    parts = [
        base.select(
            (F.col("event_id") + F.lit(i * 10_000_000)).alias("event_id"),
            "user_id", "value",
        )
        for i in range(args.repeat)
    ]
    df = parts[0]
    for x in parts[1:]:
        df = df.union(x)

    roots = {}
    for name in ("hash", "zorder"):
        root = f"/dev/shm/zskip_{name}"
        shutil.rmtree(root, ignore_errors=True)
        if name == "hash":
            out = df.repartition(args.files)
        else:
            out = layout.zorder_layout(
                df, ["user_id", "value"], bits=10, num_files=args.files
            ).drop("z_key")
        out.write.parquet(root)
        roots[name] = root

    # selective band on BOTH dims: ~1/16 of each dim's range
    pred = "user_id BETWEEN 40 AND 49 AND value BETWEEN 100 AND 160"
    res = {}
    for name, root in roots.items():
        t = spark.read.parquet(root)
        touched = (
            t.filter(pred)
            .select(F.input_file_name().alias("f"))
            .distinct()
            .count()
        )
        walls = []
        n = 0
        for _ in range(args.runs):
            t0 = time.time()
            n = spark.read.parquet(root).filter(pred).agg(
                F.count(F.lit(1)), F.sum("value")
            ).collect()[0][0]
            walls.append(time.time() - t0)
        res[name] = {
            "files_touched": touched,
            "rows_matched": n,
            "wall": round(min(walls), 3),
        }

    assert res["hash"]["rows_matched"] == res["zorder"]["rows_matched"]
    print(json.dumps({
        "n_rows": df.count(),
        "n_files": args.files,
        "predicate": pred,
        **{f"{k}_{m}": v[m] for k, v in res.items()
           for m in ("files_touched", "wall")},
        "rows_matched": res["hash"]["rows_matched"],
        "skip_ratio": round(
            1 - res["zorder"]["files_touched"] / args.files, 3
        ),
    }))


if __name__ == "__main__":
    main()
