"""Storage-partitioned (driverless) scaling harness — the N-vs-4N cell
for the zero-dependency bucketed flagship when multi-JVM Spark RPC is
unusable on the host.

Why this exists: on 2026-08-17 the sandbox's syscall-interposition layer
(gVisor; host shows 50% SYSTEM CPU, 0% user, during any local-cluster
run) made every multi-JVM Spark topology anti-scale — fused@16 cores ran
153-295 s vs 17.7 s in earlier healthy windows — while FOUR INDEPENDENT
single-JVM Spark processes ran the same per-process work at 16.8 s
concurrently vs 17.5 s solo (efficiency ~0.97; loopback TCP measured
3.3 GB/s idle -> 0.47 GB/s under that contention). The engine is fine;
inter-JVM RPC on this host is not.

What this measures INSTEAD, and why it is honest: the bucketed flagship
(plans/bucketed.py) plans with ZERO Exchange and ZERO Sort — no byte and
no dependency crosses bucket boundaries (pinned by
tests/test_plans_quality.py). A real cluster schedules such a job as W
independent workers over disjoint bucket sets (Iceberg
storage-partitioned jobs / SPJ); nothing about that execution needs a
coordinating shuffle. So the faithful stand-in here is W INDEPENDENT OS
processes, each a single-JVM Spark session over its 32/W bucket FILES
(conv_id-hash-disjoint by construction — every conversation lives in
exactly one bucket file), with a file-barrier start so JVM warmup is
excluded and all timed regions overlap. The cell reports:
  * per-worker walls + the max (the cluster wall),
  * summed output rows, asserted equal to the 1-process run's rows
    (same job, no rows lost to the sharding),
  * scaling_efficiency = (T_1proc / T_Wproc_max) / W.

Two per-worker plans (--plan):
  * fused    — each worker reads its bucket FILES as plain parquet and
    runs the in-memory fused flagship (one in-JVM exchange over 1/W of
    the data; reading a file subset loses bucket metadata). Superset of
    the bucketed plan's work, so its efficiency LOWER-bounds SPJ.
  * bucketed — a one-time setup re-writes the lakehouse hierarchically:
    W node-shards, each ITSELF a valid 8-bucket bucketed-sorted table
    (the Iceberg shape "partition by shard, bucket within partition").
    Each worker registers its shard's tables and runs the TRUE
    zero-Exchange zero-Sort flagship_bucketed plan. The 1-proc cell runs
    the same plan over the original 32-bucket table. Beyond fidelity,
    this plan allocates almost nothing per task (no sort buffers, no
    shuffle files), which isolates the sandbox's concurrency penalty to
    allocation churn: compare its W-proc efficiency to fused's.

Usage:
  python tools/bench_scaling_sharded.py \
      --layout /dev/shm/spark-scaling-bucketed-scaling_500000_20_0.0 \
      [--procs 1,4] [--runs 2]
Prints one JSON line.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def bucket_files(table_dir: str) -> dict[int, str]:
    out = {}
    for f in glob.glob(os.path.join(table_dir, "part-*.parquet")):
        m = re.search(r"_(\d{5})\.c\d+", os.path.basename(f))
        if m:
            out[int(m.group(1))] = f
    return out


def worker(args) -> None:
    from amazon_security_lake_transformation_library_spark.operators.fused import asof_turn_features
    from amazon_security_lake_transformation_library_spark.plans.bucketed import (
        flagship_bucketed, register_bucketed_table,
    )
    from amazon_security_lake_transformation_library_spark.session import get_spark
    spark = get_spark(
        f"shard-{args.shard}",
        master=f"local[{args.cores}]",
        shuffle_partitions=2 * args.cores,
        extra_conf={
            "spark.local.dir": f"/dev/shm/shard-{args.shard}",
            "spark.driver.memory": args.heap,
            # Fixed, pre-touched heap: every heap page is faulted in ONCE
            # at JVM startup (before the barrier releases the timed
            # region). Under a syscall-interposition sandbox (gVisor)
            # page faults are handled by the userspace sentry, and W
            # JVMs growing multi-GB heaps concurrently fault-storm it
            # into 50% host sys-CPU — measured here as 4 independent
            # flagship workers walling 62-187 s vs 41 s solo until this
            # pre-touch. Standard practice on real clusters too (it
            # moves allocation jitter out of task runtime).
            "spark.driver.extraJavaOptions":
                f"-XX:ActiveProcessorCount={args.cores} "
                f"-Xms{args.heap} -XX:+AlwaysPreTouch",
        },
    )
    if args.plan == "bucketed":
        # args.t_files/cf_files are single table DIRECTORIES here
        register_bucketed_table(spark, "sh_t", args.t_files,
                                n_buckets=args.n_buckets,
                                sort_cols=("conv_id", "ts", "turn_idx"))
        register_bucketed_table(spark, "sh_cf", args.cf_files,
                                n_buckets=args.n_buckets,
                                sort_cols=("conv_id", "ts"))
        t = spark.table("sh_t")
    elif args.plan == "curation_bucketed":
        # conv_id-bucketed table sorted (conv_id, ts_us): both curation
        # windows order by the ts_us COLUMN, so stage 2 plans with zero
        # corpus Exchange AND zero Sort (pinned by
        # test_plans_quality.py::test_curation_windows_zero_exchange_...)
        register_bucketed_table(spark, "sh_cur_t", args.t_files,
                                n_buckets=args.n_buckets,
                                sort_cols=("conv_id", "ts_us"))
        spark.conf.set(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        t = spark.table("sh_cur_t")
    elif args.plan in ("curation", "hotkeys"):
        t = spark.read.parquet(*args.t_files.split(","))
    elif args.plan == "skinny_bucketed":
        # both sides conv_id-bucketed sorted tables; the interval form's
        # probe side then plans with ZERO Exchange and ZERO Sort (the
        # §7.12 contract) — broadcast disabled so the SMJ the at-scale
        # plan takes is the one measured
        spark.conf.set(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        register_bucketed_table(spark, "sh_ivt", args.t_files,
                                n_buckets=args.n_buckets,
                                sort_cols=("conv_id", "ts", "turn_idx"))
        register_bucketed_table(spark, "sh_ivlog", args.cf_files,
                                n_buckets=args.n_buckets,
                                sort_cols=("conv_id", "ts"))
        t = spark.table("sh_ivt")
        cf = spark.table("sh_ivlog")
        cf.count()
    elif args.plan in ("skinny", "skinny_routed"):
        # probe = this shard's turn files; build = the matching shard of
        # the ONE skinny EAV feature log (conv_id-disjoint by the same
        # bucket assignment, so the window's partitionBy(conv_id) makes
        # sharding value-identical to the 1-proc run)
        t = spark.read.parquet(*args.t_files.split(","))
        cf = spark.read.parquet(*args.cf_files.split(","))
        cf.count()
        if args.plan == "skinny_routed":
            # SMJ for the tail interval join, like skinny_bucketed
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    else:
        t = spark.read.parquet(*args.t_files.split(","))
        cf = spark.read.parquet(*args.cf_files.split(","))
    t.count()  # warm scan; excluded from the timed region by the barrier
    if args.plan == "hotkeys":
        # warm the pyspark worker daemons: mapInPandas pays fork + numpy/
        # pandas import on first use — a per-SESSION cost a real cluster
        # amortizes across jobs (workers are reused), so it belongs with
        # JVM startup outside the timed region
        from amazon_security_lake_transformation_library_spark.operators.sketch import mg_candidates
        mg_candidates(t.limit(50_000), "conv_id", 4).count()

    # barrier: report ready, wait for the coordinator's go-file so every
    # worker's timed region overlaps (JVM startup excluded)
    open(args.barrier + f".ready.{args.shard}", "w").write("1")
    while not os.path.exists(args.barrier + ".go"):
        time.sleep(0.05)

    walls, rows = [], 0
    for run_idx in range(args.runs):
        spark.catalog.clearCache()
        t0 = time.time()
        if args.plan == "bucketed":
            out = flagship_bucketed(spark, "sh_t", "sh_cf")
        elif args.plan == "curation":
            out = _curation_job(spark, t, args, run_idx)
        elif args.plan == "curation_bucketed":
            out = _curation_job(spark, t, args, run_idx, ts_col="ts_us")
        elif args.plan == "hotkeys":
            out = _hotkeys_job(spark, t, args, run_idx)
        elif args.plan == "skinny":
            # K=8 feature assembly from the EAV log in ONE Exchange +
            # ONE Sort + ONE Window (operators/asof.py:asof_join_skinny);
            # the noop sink consumes every output column, so Catalyst
            # cannot prune the K last() fills (the §7.9 count() trap)
            from amazon_security_lake_transformation_library_spark.operators.asof import asof_join_skinny
            out = asof_join_skinny(
                t, cf, sources=[f"f{i}" for i in range(8)])
        elif args.plan == "skinny_bucketed":
            # interval form over the bucketed pair: probe-side
            # Exchange/Sort eliminated, shuffle proportional to the log
            from amazon_security_lake_transformation_library_spark.operators.asof import asof_join_skinny_intervals
            out = asof_join_skinny_intervals(
                t, cf, sources=[f"f{i}" for i in range(8)])
        elif args.plan == "skinny_routed":
            # hot/tail router: the hot-entity rule's entities take the
            # union path, the tail keeps the interval SMJ — the §7.13
            # hot-shard collapse, enforced in code
            from amazon_security_lake_transformation_library_spark.operators.asof import asof_join_skinny_routed
            out = asof_join_skinny_routed(
                t, cf, sources=[f"f{i}" for i in range(8)])
        else:
            out = asof_turn_features(t, cf)
        from pyspark.sql import Observation
        from pyspark.sql import functions as F
        obs = Observation()
        out.observe(obs, F.count(F.lit(1)).alias("n")).write.format(
            "noop"
        ).mode("overwrite").save()
        rows = int(obs.get["n"])
        walls.append(time.time() - t0)
    print(json.dumps({"shard": args.shard, "rows": rows,
                      "wall": round(min(walls), 3)}))


def _curation_job(spark, t, args, run_idx: int, ts_col: str = "ts"):
    """The r4 curation/encoder pipeline as a faithful TWO-STAGE cluster
    job over conv_id-disjoint shards.

    Stage 1 (timed): this worker's shard computes PARTIAL encoder stats
    — per-role (n, sum(len), sum(len^2)) and per-tool counts — exactly
    the map-side partial aggregation Spark's own hash agg emits. The
    tiny partials land in a stats file; the wait for all W files is the
    stage boundary (the same straggler wait a real 2-stage job pays at
    its shuffle barrier; the reduce itself is O(W x |groups|)).

    Stage 2 (timed): every worker merges the partials with the SAME
    deterministic fold (so all levels produce bit-identical global
    stats), broadcast-joins the merged z-score/frequency tables, and
    runs the conv_id-local windows (forward-horizon label + ordered
    target encoding) over its shard. Both windows partition by conv_id,
    so conv_id-disjoint sharding is value-identical to the 1-proc run.
    """
    import math

    from pyspark.sql import functions as F

    from amazon_security_lake_transformation_library_spark.operators.curation import label_horizon
    from amazon_security_lake_transformation_library_spark.operators.encoders import (
        target_encode_ordered,
    )

    # ---- stage 1: partial stats over this shard (one pruned scan)
    part = (
        t.select("role", "tool", F.length("text").alias("_len"))
        .groupBy("role", "tool")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("_len").cast("double")).alias("s1"),
            F.sum((F.col("_len") * F.col("_len")).cast("double")).alias("s2"),
        )
        .collect()
    )
    stats_path = f"{args.barrier}.stats.{run_idx}.{args.shard}"
    with open(stats_path + ".tmp", "w") as fh:
        json.dump([[r["role"], r["tool"], r["n"], r["s1"], r["s2"]]
                   for r in part], fh)
    os.rename(stats_path + ".tmp", stats_path)  # atomic publish

    # ---- stage boundary: wait for every shard's partial
    want = [f"{args.barrier}.stats.{run_idx}.{i}"
            for i in range(args.procs_total)]
    while not all(os.path.exists(p) for p in want):
        time.sleep(0.02)

    # ---- deterministic merge (sorted fold -> identical floats at
    # every level; W x |groups| rows, microseconds)
    role_acc: dict = {}
    tool_acc: dict = {}
    rows_all = []
    for p in want:
        rows_all.extend(json.load(open(p)))
    for role, tool, n, s1, s2 in sorted(
            rows_all, key=lambda r: (str(r[0]), str(r[1]))):
        a = role_acc.setdefault(role, [0, 0.0, 0.0])
        a[0] += n
        a[1] += s1
        a[2] += s2
        tool_acc[tool] = tool_acc.get(tool, 0) + n
    total = sum(tool_acc.values())
    role_rows = []
    for role, (n, s1, s2) in sorted(role_acc.items(), key=lambda kv: str(kv[0])):
        mean = s1 / n
        var = max(s2 / n - mean * mean, 0.0)
        role_rows.append((role, mean, math.sqrt(var)))
    tool_rows = [
        (tool, n, n / total)
        for tool, n in sorted(tool_acc.items(), key=lambda kv: str(kv[0]))
    ]
    role_stats = spark.createDataFrame(role_rows, "role_k string, _mean double, _std double")
    tool_stats = spark.createDataFrame(tool_rows, "tool_k string, freq_n long, freq double")

    # ---- stage 2: broadcast encoders + conv_id-local windows
    x = (
        t.withColumn("_len", F.length("text").cast("double"))
        .join(F.broadcast(role_stats), F.col("role").eqNullSafe(F.col("role_k")))
        .withColumn(
            "z",
            F.when(F.col("_std") == 0.0, F.lit(0.0)).otherwise(
                (F.col("_len") - F.col("_mean")) / F.col("_std")
            ),
        )
        .drop("role_k", "_mean", "_std")
        .join(F.broadcast(tool_stats), F.col("tool").eqNullSafe(F.col("tool_k")))
        .drop("tool_k")
    )
    x = label_horizon(x, "conv_id", ts_col, F.col("role") == "assistant", 3600.0)
    x = target_encode_ordered(
        x, "conv_id", F.col("role") == "assistant", ts_col, prior=0.5
    )
    return x.select(
        "conv_id", "turn_idx", "z", "freq", "label_n", "label", "te_n", "te"
    )


def _hotkeys_job(spark, t, args, run_idx: int):
    """The exact heavy-hitters job (operators/sketch.py:heavy_hitters) as
    a faithful TWO-STAGE cluster job. Nothing here exploits the layout's
    conv_id-disjointness — the algorithm is the general one a non-
    co-partitioned table needs:

    Stage 1 (timed): this worker runs the Misra-Gries candidate sketch
    over its shard (one mapInPandas corpus scan, <= k MERGED keys per
    partition) and publishes its candidate keys + local row count. The
    wait for all W candidate files is the stage boundary (= the
    broadcast collect of a real job).

    Stage 2 (timed): every worker folds the SAME sorted candidate union
    and global N, then computes exact counts of the global candidate set
    over its shard (broadcast semi-join + hash agg — the second corpus
    scan) and publishes them; the final fold sums per-key counts and
    applies threshold ceil(MIN_FRAC * N). All workers derive the
    identical hitter set; shard 0 emits it (a real job's final
    |hitters|-row reduce also lands on one node), the rest emit empty —
    so rows_total is level-invariant.
    """
    import math

    from pyspark.sql import functions as F

    from amazon_security_lake_transformation_library_spark.operators.sketch import mg_candidates

    MIN_FRAC = 0.0005  # hot conv at --hot-frac 0.001 clears it; tail never
    k = int(1.0 / MIN_FRAC) + 1

    # ---- stage 1: MG candidate sketch over this shard (corpus scan 1)
    cands = sorted(r[0] for r in mg_candidates(t, "conv_id", k).collect())
    local_n = t.count()
    c_path = f"{args.barrier}.hhcand.{run_idx}.{args.shard}"
    with open(c_path + ".tmp", "w") as fh:
        json.dump({"n": local_n, "cands": cands}, fh)
    os.rename(c_path + ".tmp", c_path)

    want = [f"{args.barrier}.hhcand.{run_idx}.{i}"
            for i in range(args.procs_total)]
    while not all(os.path.exists(p) for p in want):
        time.sleep(0.02)
    global_n, cand_union = 0, set()
    for p in want:
        d = json.load(open(p))
        global_n += d["n"]
        cand_union.update(d["cands"])
    cand_rows = [(c,) for c in sorted(cand_union)]

    # ---- stage 2: exact counts of the GLOBAL candidate set over this
    # shard (corpus scan 2: broadcast semi-join + hash agg)
    cdf = spark.createDataFrame(cand_rows, "conv_id string")
    local_counts = (
        t.join(F.broadcast(cdf), "conv_id", "semi")
        .groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .collect()
    )
    s_path = f"{args.barrier}.hhcount.{run_idx}.{args.shard}"
    with open(s_path + ".tmp", "w") as fh:
        json.dump([[r["conv_id"], r["n_rows"]] for r in local_counts], fh)
    os.rename(s_path + ".tmp", s_path)

    want = [f"{args.barrier}.hhcount.{run_idx}.{i}"
            for i in range(args.procs_total)]
    while not all(os.path.exists(p) for p in want):
        time.sleep(0.02)
    totals: dict = {}
    for p in want:
        for key, n in json.load(open(p)):
            totals[key] = totals.get(key, 0) + n
    thresh = max(1, math.ceil(MIN_FRAC * global_n))
    hitters = sorted((key, n) for key, n in totals.items() if n >= thresh)
    if args.shard == 0:
        assert hitters, "hotkeys cell found no hitters — wrong layout?"
        return spark.createDataFrame(hitters, "conv_id string, n_rows long")
    return spark.createDataFrame([], "conv_id string, n_rows long")


def ensure_shard_layout(layout: str, procs: int) -> str:
    """One-time hierarchical re-write: W shard directories, each a valid
    8-bucket bucketed-sorted table pair (complete conversations only —
    shard i owns original buckets [8i, 8i+8), which is a disjoint conv_id
    set). Content-addressed and reused across runs."""
    out_root = f"{layout}-shards{procs}"
    if os.path.exists(os.path.join(out_root, "_SUCCESS")):
        return out_root
    from amazon_security_lake_transformation_library_spark.plans.bucketed import write_bucketed_table
    from amazon_security_lake_transformation_library_spark.session import get_spark
    t_map = bucket_files(os.path.join(layout, "sc_t"))
    cf_map = bucket_files(os.path.join(layout, "sc_cf"))
    spark = get_spark("shard-setup", master="local[8]", shuffle_partitions=16,
                      extra_conf={"spark.local.dir": "/dev/shm/shard-setup"})
    allb = sorted(t_map)
    for i in range(procs):
        # contiguous ranges: every bucket assigned (no dropped tail) AND
        # the re-bucket hash%8 fills all 8 child buckets — a strided
        # (round-robin) assignment leaves most child buckets empty
        # because 32 and 8 share factors (see ensure_curation_layout)
        bs = allb[i * len(allb) // procs:(i + 1) * len(allb) // procs]
        write_bucketed_table(
            spark.read.parquet(*[t_map[b] for b in bs]), f"sh_setup_t_{i}",
            n_buckets=8, sort_cols=("conv_id", "ts", "turn_idx"),
            path=f"{out_root}/shard_{i}/t")
        write_bucketed_table(
            spark.read.parquet(*[cf_map[b] for b in bs]), f"sh_setup_cf_{i}",
            n_buckets=8, sort_cols=("conv_id", "ts"),
            path=f"{out_root}/shard_{i}/cf")
    spark.stop()
    open(os.path.join(out_root, "_SUCCESS"), "w").write("1")
    return out_root


def ensure_curation_layout(layout: str, procs: int) -> str:
    """One-time re-write for the curation_bucketed plan: W shard tables,
    each conv_id-bucketed and sorted ``(conv_id, ts_us)`` with the epoch
    micros MATERIALIZED into the sort key — the layout under which the
    curation windows plan zero Exchange / zero Sort. procs=1 writes one
    32-bucket table (same plan, parallelism the only variable)."""
    out_root = f"{layout}-cur{procs}"
    if os.path.exists(os.path.join(out_root, "_SUCCESS")):
        return out_root
    from pyspark.sql import functions as F

    from amazon_security_lake_transformation_library_spark.plans.bucketed import write_bucketed_table
    from amazon_security_lake_transformation_library_spark.session import get_spark
    t_map = bucket_files(os.path.join(layout, "sc_t"))
    spark = get_spark("curshard-setup", master="local[8]",
                      shuffle_partitions=16,
                      extra_conf={"spark.local.dir": "/dev/shm/curshard-setup"})
    nb = 8 if procs > 1 else 32
    allb = sorted(t_map)
    for i in range(procs):
        # CONTIGUOUS bucket ranges, not round-robin: shard i owning
        # buckets [i*k, (i+1)*k) of the 32-bucket parent means
        # hash%32 in [8i, 8i+8), so the re-bucket hash%8 covers ALL 8
        # child buckets uniformly. A strided assignment maps every
        # parent bucket to the same one or two child buckets (32 and 8
        # share factors), leaving 6 of 8 declared buckets empty — which
        # register_bucketed_table's layout validation rightly rejects.
        lo, hi = i * len(allb) // procs, (i + 1) * len(allb) // procs
        bs = allb[lo:hi]
        df = spark.read.parquet(*[t_map[b] for b in bs]).withColumn(
            "ts_us", F.unix_micros(F.col("ts").cast("timestamp")))
        write_bucketed_table(df, f"cur_setup_t_{i}", n_buckets=nb,
                             sort_cols=("conv_id", "ts_us"),
                             path=f"{out_root}/shard_{i}/t")
    spark.stop()
    open(os.path.join(out_root, "_SUCCESS"), "w").write("1")
    return out_root


def ensure_skinny_layout(layout: str) -> str:
    """One-time derivation of the SKINNY EAV feature log for the
    ``skinny`` plan: one ``log_<bucket>.parquet`` per original turn
    bucket, rows ``(conv_id, ts, feature, value)`` with 8 feature names
    round-robined over every third turn (unique per
    ``(conv_id, feature, ts)`` — asof_join_skinny's precondition).
    Deriving per bucket file preserves conv_id-disjointness by
    construction, so any contiguous bucket sharding of the turns maps to
    the same sharding of the log. Input-table synthesis — untimed, like
    every other ensure_* here."""
    out_root = f"{layout}-skinnylog"
    if os.path.exists(os.path.join(out_root, "_SUCCESS")):
        return out_root
    import shutil

    from pyspark.sql import functions as F

    from amazon_security_lake_transformation_library_spark.session import get_spark
    t_map = bucket_files(os.path.join(layout, "sc_t"))
    os.makedirs(out_root, exist_ok=True)
    spark = get_spark("skinny-setup", master="local[8]",
                      shuffle_partitions=16,
                      extra_conf={"spark.local.dir": "/dev/shm/skinny-setup"})
    for b, f in sorted(t_map.items()):
        log = (
            spark.read.parquet(f)
            .filter(F.col("turn_idx") % 3 == 0)
            .select(
                "conv_id", "ts",
                F.concat(
                    F.lit("f"), ((F.col("turn_idx") / 3).cast("long") % 8)
                ).alias("feature"),
                F.length("text").cast("double").alias("value"),
            )
            .groupBy("conv_id", "feature", "ts")
            .agg(F.max("value").alias("value"))
        )
        tmp = os.path.join(out_root, f"_tmp_{b:05d}")
        log.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        os.replace(part, os.path.join(out_root, f"log_{b:05d}.parquet"))
        shutil.rmtree(tmp)
    spark.stop()
    open(os.path.join(out_root, "_SUCCESS"), "w").write("1")
    return out_root


def ensure_skinny_bucketed_layout(layout: str, procs: int) -> str:
    """Per-shard BUCKETED table pairs for the ``skinny_bucketed`` plan:
    shard i owns a conv_id-disjoint contiguous range of the original
    turn buckets, rewritten as an 8-bucket conv_id-bucketed table sorted
    ``(conv_id, ts, turn_idx)``, plus the matching slice of the skinny
    EAV log as an 8-bucket table sorted ``(conv_id, ts)``. Input-table
    synthesis — untimed, like every other ensure_* here."""
    out_root = f"{layout}-ivshards{procs}"
    if os.path.exists(os.path.join(out_root, "_SUCCESS")):
        return out_root
    from amazon_security_lake_transformation_library_spark.plans.bucketed import write_bucketed_table
    from amazon_security_lake_transformation_library_spark.session import get_spark
    log_root = ensure_skinny_layout(layout)
    t_map = bucket_files(os.path.join(layout, "sc_t"))
    allb = sorted(t_map)
    spark = get_spark("ivshard-setup", master="local[8]",
                      shuffle_partitions=16,
                      extra_conf={"spark.local.dir": "/dev/shm/ivshard-setup"})
    for i in range(procs):
        bs = allb[i * len(allb) // procs:(i + 1) * len(allb) // procs]
        write_bucketed_table(
            spark.read.parquet(*[t_map[b] for b in bs]), f"iv_setup_t_{i}",
            n_buckets=8, sort_cols=("conv_id", "ts", "turn_idx"),
            path=f"{out_root}/shard_{i}/t")
        write_bucketed_table(
            spark.read.parquet(
                *[os.path.join(log_root, f"log_{b:05d}.parquet") for b in bs]
            ),
            f"iv_setup_log_{i}",
            n_buckets=8, sort_cols=("conv_id", "ts"),
            path=f"{out_root}/shard_{i}/log")
    spark.stop()
    open(os.path.join(out_root, "_SUCCESS"), "w").write("1")
    return out_root


def run_level(layout: str, procs: int, cores: int, runs: int, heap: str,
              plan: str) -> dict:
    t_map = bucket_files(os.path.join(layout, "sc_t"))
    cf_map = bucket_files(os.path.join(layout, "sc_cf"))
    assert set(t_map) == set(cf_map) and t_map, "layout missing bucket files"
    buckets = sorted(t_map)
    barrier = f"/tmp/shard_barrier_{os.getpid()}_{procs}"
    for f in glob.glob(barrier + "*"):
        os.remove(f)

    if plan == "curation_bucketed":
        shard_root = ensure_curation_layout(layout, procs)
        nb = 8 if procs > 1 else 32
        specs = [(f"{shard_root}/shard_{i}/t", "", nb) for i in range(procs)]
    elif plan == "bucketed" and procs > 1:
        shard_root = ensure_shard_layout(layout, procs)
        specs = [(f"{shard_root}/shard_{i}/t", f"{shard_root}/shard_{i}/cf", 8)
                 for i in range(procs)]
    elif plan == "bucketed":
        specs = [(os.path.join(layout, "sc_t"), os.path.join(layout, "sc_cf"),
                  len(buckets))]
    elif plan == "skinny_bucketed":
        shard_root = ensure_skinny_bucketed_layout(layout, procs)
        specs = [(f"{shard_root}/shard_{i}/t", f"{shard_root}/shard_{i}/log",
                  8) for i in range(procs)]
    elif plan in ("skinny", "skinny_routed"):
        log_root = ensure_skinny_layout(layout)
        log_map = {b: os.path.join(log_root, f"log_{b:05d}.parquet")
                   for b in buckets}
        assert all(os.path.exists(p) for p in log_map.values()), \
            "skinny log layout incomplete"
        # contiguous ranges, like ensure_shard_layout: conv_id-disjoint
        shards = [buckets[i * len(buckets) // procs:
                          (i + 1) * len(buckets) // procs]
                  for i in range(procs)]
        specs = [(",".join(t_map[b] for b in bs),
                  ",".join(log_map[b] for b in bs), 0) for bs in shards]
    else:
        shards = [buckets[i::procs] for i in range(procs)]
        specs = [(",".join(t_map[b] for b in bs),
                  ",".join(cf_map[b] for b in bs), 0) for bs in shards]

    children = []
    for i, (tf, cff, nb) in enumerate(specs):
        cmd = [sys.executable, os.path.abspath(__file__), "--worker",
               "--shard", str(i), "--cores", str(cores), "--heap", heap,
               "--runs", str(runs), "--barrier", barrier, "--plan", plan,
               "--n-buckets", str(nb), "--procs-total", str(procs),
               "--t-files", tf, "--cf-files", cff]
        children.append(subprocess.Popen(
            cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True))
    # wait for every worker to warm up, then release them together —
    # polling child liveness so a worker that dies pre-barrier (OOM,
    # startup failure) aborts with its traceback instead of hanging
    while sum(os.path.exists(f"{barrier}.ready.{i}") for i in range(procs)) < procs:
        for c in children:
            if c.poll() is not None and c.returncode != 0:
                _out, err = c.communicate()
                open(barrier + ".go", "w").write("1")  # release survivors
                for other in children:
                    other.terminate()
                raise RuntimeError(
                    f"worker died before barrier rc={c.returncode}:\n{err[-4000:]}")
        time.sleep(0.1)
    open(barrier + ".go", "w").write("1")

    recs = []
    for c in children:
        out, err = c.communicate()
        if c.returncode != 0:
            raise RuntimeError(f"worker failed rc={c.returncode}:\n{err[-4000:]}")
        recs.append(json.loads(out.strip().splitlines()[-1]))
    for f in glob.glob(barrier + "*"):
        os.remove(f)
    return {
        "procs": procs,
        "walls": {r["shard"]: r["wall"] for r in recs},
        "wall_max": max(r["wall"] for r in recs),
        "rows_total": sum(r["rows"] for r in recs),
    }


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--layout",
                   default="/dev/shm/spark-scaling-bucketed-scaling_500000_20_0.0")
    p.add_argument("--procs", default="1,4")
    p.add_argument("--cores", type=int, default=4)
    p.add_argument("--runs", type=int, default=2)
    # worker-mode flags
    p.add_argument("--heap", default="6g")
    p.add_argument("--plan", default="fused",
                   choices=["fused", "bucketed", "curation",
                            "curation_bucketed", "hotkeys", "skinny",
                            "skinny_bucketed", "skinny_routed"])
    p.add_argument("--procs-total", type=int, default=1,
                   help="(worker mode) total shard count this level runs — "
                        "the curation plan's stage barrier waits for this "
                        "many partial-stats files")
    p.add_argument("--n-buckets", type=int, default=0)
    p.add_argument("--worker", action="store_true")
    p.add_argument("--shard", type=int)
    p.add_argument("--t-files")
    p.add_argument("--cf-files")
    p.add_argument("--barrier")
    args = p.parse_args()
    if args.worker:
        worker(args)
        return

    levels = [int(x) for x in args.procs.split(",")]
    cells = {}
    for procs in levels:
        cells[procs] = run_level(args.layout, procs, args.cores, args.runs,
                                 args.heap, args.plan)
        print(f"# {procs} proc(s): wall_max={cells[procs]['wall_max']}s "
              f"rows={cells[procs]['rows_total']}", file=sys.stderr)
    lo, hi = min(levels), max(levels)
    assert cells[lo]["rows_total"] == cells[hi]["rows_total"], (
        "sharding changed the output row count")
    speedup = cells[lo]["wall_max"] / cells[hi]["wall_max"]
    print(json.dumps({
        "mode": "storage_partitioned_driverless", "plan": args.plan,
        "rows": cells[lo]["rows_total"],
        "cells": {str(k): v for k, v in cells.items()},
        "speedup": round(speedup, 3),
        "scaling_efficiency": round(speedup / (hi / lo), 3),
    }))


if __name__ == "__main__":
    main()
