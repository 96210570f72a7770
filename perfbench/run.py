"""Benchmark entry point: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload feature_build --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The run builds its inputs from ``--seed``,
starts one SparkSession on ``local[$(nproc)]``, times the first (cold) op,
discards the workload's warm-up ops, then runs warm ops in a closed loop
(one client thread) for ``--seconds``. Every op's output is checked outside
the timed region. The last line of stdout is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones (perfbench/spans.py). A fuller run record (every op,
host probes, counts) is written under ``.bench_work/records/``.
Scratch data lives under ``.bench_work/`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "amazon_security_lake_transformation_library_spark"
WORKLOADS = ("feature_build", "live_tail")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def host_probe() -> dict:
    """Short CPU and memory-bandwidth probe sized to nproc (tools/ probes by
    import). Goes into the run record so host drift shows beside timings."""
    from tools.cpu_probe import aggregate_rate
    from tools.membw_probe import aggregate_gbps

    n = os.cpu_count() or 1
    return {
        "procs": n,
        "cpu_hashes_per_s": round(aggregate_rate(n, 0.2)),
        "membw_gbps": round(aggregate_gbps(n, 16, 3), 2),
    }


def tail_percentile(n: int) -> tuple[float, int] | None:
    """Highest percentile with at least ten samples beyond it, as
    (percentile, 0-based index into the ascending sort); None when that
    percentile would sit below the median (fewer than 20 samples)."""
    if n < 20:
        return None
    idx = n - 11
    return 100.0 * (idx + 1) / n, idx


def summarize(ops: list[dict], wl) -> dict:
    """End-to-end metrics from the op records (see perfbench/README.md)."""
    warm = [o for o in ops if o["phase"] == "warm" and o["ok"]]
    times = sorted(o["t"] for o in warm)
    ok = sum(o["ok"] for o in ops)
    metrics = {
        "setup_s": (wl.setup_s, "s"),
        "op_p50_s": (statistics.median(times) if times else float("nan"), "s"),
        "turns_per_s": (
            sum(o["rows_in"] for o in warm) / sum(times) if times else 0.0, "1/s"),
        "stored_bytes_per_row": (wl.stored_bytes_per_row(), "bytes"),
        "ok_ratio": (ok / len(ops), "ratio"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}


def stop_jvm(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to
    exit, so the run leaves no process behind."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def measure(args, work: str) -> dict:
    """Set up, run and (traced runs) decode; the run record without the
    closing host probe."""
    import workloads
    from spans import Tracer

    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "probe_before": host_probe()}
    tracer = Tracer(work) if args.trace else None
    wl = workloads.make(args.workload, args.seed, args.seconds, work, tracer)
    spark = None
    try:
        spark = wl.start()
        ops = wl.run()
    finally:
        if spark is not None:
            stop_jvm(spark)
    e2e = summarize(ops, wl)
    warm = sorted(o["t"] for o in ops if o["phase"] == "warm" and o["ok"])
    tail = tail_percentile(len(warm))
    record.update(setup=wl.setup_record, ops=ops, end_to_end=e2e, cold_s=ops[0]["t"],
                  op_tail={"n_warm": len(warm), "pct": tail[0] if tail else None,
                           "value": warm[tail[1]] if tail else None})
    if tracer:
        record.update(per_layer=tracer.per_layer(ops, wl, e2e), counts=tracer.counts,
                      span_self_s=tracer.self_times)
    return record


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(
        os.path.join(ROOT, "jobs", "build_features.py")
    ):
        print(f"error: {ROOT} holds no {PACKAGE} checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    # Spawned Python workers do not see this process's sys.path: without this,
    # applyInPandasWithState workers fail to import the package.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # every scratch file of the run, the JVM's and Python's temp files
    # included, stays inside the checkout
    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"

    try:
        record = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    record["probe_after"] = host_probe()
    ops = record["ops"]
    metrics = record.get("per_layer") or record["end_to_end"]
    failed = sum(not o["ok"] for o in ops)
    result = {"correct": failed == 0, "attempted": len(ops), "failed": failed,
              "metrics": metrics}
    rec_dir = os.path.join(ROOT, ".bench_work", "records")
    os.makedirs(rec_dir, exist_ok=True)
    rec_path = os.path.join(
        rec_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(f"run record: {rec_path}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
