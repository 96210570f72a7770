"""Design-justification cell for graph.triangle_count: measure the
degree-ordered orientation against the naive (unoriented) wedge
enumeration on a hub-skewed graph — the workload shape where the naive
formulation explodes.

Wedge arithmetic (exact, computed from degree tables before running
anything): naive enumerates Σ_v d(v)·(d(v)−1)/2 wedges (every center),
so one degree-2000 hub contributes ~2M wedges on its own; the
orientation enumerates Σ_v outdeg(v)·(outdeg(v)−1)/2 where outdeg is
bounded by O(√m) (Suri & Vassilvitskii) — hubs sit at the HIGH end of
every edge and source nothing. Both variants then run for wall-clock on
the same input and must produce identical per-node counts.

Graph: ``--n`` nodes; every node draws 3 hash targets (uniform sparse
background); nodes ≡ 0 (mod ``--hub-every``) additionally receive edges
from the following ``--hub-deg`` node ids — deterministic, scale-free-ish
hubs without a real generator.

Usage: python tools/bench_triangles.py [--n 2000000] [--hub-deg 2000]
Prints one JSON line; paste into BASELINE.md §8.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--n", type=int, default=2_000_000)
    p.add_argument("--hub-every", type=int, default=100_000)
    p.add_argument("--hub-deg", type=int, default=2_000)
    p.add_argument("--cpus", type=int, default=32)
    args = p.parse_args()

    from pyspark.sql import functions as F

    from amazon_security_lake_transformation_library_spark.operators import graph as g
    from amazon_security_lake_transformation_library_spark.session import get_spark

    spark = get_spark("tri-bench", master=f"local[{args.cpus}]",
                      shuffle_partitions=args.cpus)
    ids = spark.range(args.n).select(F.col("id").alias("u"))
    background = ids.select(
        "u",
        F.explode(F.array(*[
            F.pmod(F.xxhash64(F.col("u"), F.lit(s)), F.lit(args.n)).alias("t")
            for s in (1, 2, 3)
        ])).alias("v"),
    )
    hubs = (
        spark.range(args.n // args.hub_every)
        .select((F.col("id") * args.hub_every).alias("h"))
        .crossJoin(spark.range(args.hub_deg).select(F.col("id").alias("j")))
        .select(F.col("h").alias("u"),
                ((F.col("h") + F.col("j") + 1) % args.n).alias("v"))
    )
    edges = background.unionByName(hubs)

    # canonical + degree tables (shared by both variants)
    e = (
        edges.select(F.least("u", "v").alias("a"),
                     F.greatest("u", "v").alias("b"))
        .where(F.col("a") != F.col("b")).distinct()
    )
    e.write.mode("overwrite").parquet("/dev/shm/tri_edges")
    e = spark.read.parquet("/dev/shm/tri_edges")
    m = e.count()
    deg = (
        e.select(F.col("a").alias("n")).unionAll(e.select(F.col("b")))
        .groupBy("n").agg(F.count(F.lit(1)).alias("d"))
    )
    wedges_naive = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).alias("w")).collect()[0]["w"]
    # oriented out-degrees: low-(deg,id) endpoint sources the edge
    ed = (
        e.join(deg.select(F.col("n").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("n").alias("b"), F.col("d").alias("db")), "b")
    )
    lo_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    outdeg = (
        ed.select(F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("n"))
        .groupBy("n").agg(F.count(F.lit(1)).alias("d"))
    )
    wedges_oriented = outdeg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).alias("w")).collect()[0]["w"]
    max_deg = deg.agg(F.max("d")).collect()[0][0]
    max_outdeg = outdeg.agg(F.max("d")).collect()[0][0]

    def run_oriented():
        out = g.triangle_count(e, "a", "b")
        return out.agg(F.sum("n_triangles").alias("s"),
                       F.count(F.lit(1)).alias("nodes")).collect()[0]

    def run_naive():
        # unoriented wedge enumeration: every center emits ALL neighbor
        # pairs; closing check against the canonical edge set
        sym = e.select(F.col("a").alias("u"), F.col("b").alias("w")) \
               .unionAll(e.select(F.col("b").alias("u"), F.col("a").alias("w")))
        w1 = sym.select("u", F.col("w").alias("x"))
        w2 = sym.select("u", F.col("w").alias("y"))
        wed = w1.join(w2, "u").where(F.col("x") < F.col("y"))
        tri = wed.join(e, (F.col("x") == F.col("a")) & (F.col("y") == F.col("b")))
        # every triangle found 3x (once per member as center)
        return tri.groupBy().agg((F.count(F.lit(1))).alias("t3")).collect()[0]

    t0 = time.time(); o = run_oriented(); wall_oriented = time.time() - t0
    t0 = time.time(); nv = run_naive(); wall_naive = time.time() - t0
    assert int(o["s"]) == int(nv["t3"]), (o["s"], nv["t3"])

    print(json.dumps({
        "op": "triangle_count orientation A/B",
        "n_nodes": args.n, "n_edges": m,
        "max_deg": int(max_deg), "max_outdeg": int(max_outdeg),
        "wedges_naive": int(wedges_naive),
        "wedges_oriented": int(wedges_oriented),
        "wedge_ratio": round(wedges_naive / max(wedges_oriented, 1), 1),
        "triangles_x3": int(o["s"]),
        "wall_oriented": round(wall_oriented, 2),
        "wall_naive": round(wall_naive, 2),
        "speedup": round(wall_naive / wall_oriented, 2),
    }))


if __name__ == "__main__":
    main()
