"""One-off setup: generate a synthetic transcripts dataset and its
conv_id-bucketed lakehouse layout for the sharded scaling harness
(tools/bench_scaling_sharded.py), WITHOUT running any timed cell.

The layout write is the once-per-table-lifetime lakehouse shuffle the
engine amortizes over every feature build (see plans/bucketed.py); the
scaling cells read it only. Usage:

  python tools/make_scaling_layout.py --n-convs 1000000 --hot-frac 0.001
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--n-convs", type=int, default=1_000_000)
    p.add_argument("--mean-turns", type=int, default=20)
    p.add_argument("--hot-frac", type=float, default=0.001)
    p.add_argument("--n-buckets", type=int, default=32)
    args = p.parse_args()

    from amazon_security_lake_transformation_library_spark.session import get_spark
    from amazon_security_lake_transformation_library_spark.synth.transcripts import (
        gen_conv_features, gen_transcripts, write_parquet,
    )

    # data dir keyed exactly like tools/bench_scaling.py so both harnesses
    # share datasets and layouts
    data = (f"{tempfile.gettempdir()}/scaling_{args.n_convs}"
            f"_{args.mean_turns}_{args.hot_frac}")
    meta_path = os.path.join(data, "meta.json")
    if not os.path.exists(meta_path):
        os.makedirs(data, exist_ok=True)
        pdf = gen_transcripts(n_convs=args.n_convs,
                              mean_turns=args.mean_turns,
                              hot_frac=args.hot_frac)
        write_parquet(pdf, f"{data}/transcripts.parquet")
        write_parquet(gen_conv_features(pdf), f"{data}/conv_features.parquet")
        meta = {"n_rows": int(len(pdf)),
                "hot": int(pdf.groupby("conv_id").size().max())}
        json.dump(meta, open(meta_path, "w"))
        del pdf
    meta = json.load(open(meta_path))
    print(f"# data {data}: {meta['n_rows']} turns, hottest conv "
          f"{meta['hot']} turns", file=sys.stderr)

    wh = (f"/dev/shm/spark-scaling-bucketed-{os.path.basename(data)}"
          f"-b{args.n_buckets}")
    spark = get_spark(
        "layout-setup", master="local[16]", shuffle_partitions=32,
        extra_conf={"spark.local.dir": "/dev/shm/layout-setup"},
    )
    t = spark.read.parquet(f"{data}/transcripts.parquet")
    cf = spark.read.parquet(f"{data}/conv_features.parquet")
    from amazon_security_lake_transformation_library_spark.plans.bucketed import (
        ensure_flagship_tables,
    )
    ensure_flagship_tables(spark, t, cf, "sc_t", "sc_cf",
                           n_buckets=args.n_buckets, path_root=wh)
    print(f"layout done {wh}")


if __name__ == "__main__":
    main()
