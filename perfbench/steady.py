"""Steadiness command: run workloads k times and judge their spread.

    python3 perfbench/steady.py [--workload W ...] --runs 10 [--seed0 1]
        [--traced]

For each workload (default: every workload in BENCHMARK.json), runs
``perfbench/run.py`` k times untraced for ``run_seconds`` from
BENCHMARK.json, seeds seed0..seed0+k-1, and prints for every end-to-end
metric, with its unit, the median, quartiles and spread (IQR over median)
against the bound in BENCHMARK.json. With ``--runs 1`` this is the one
command that prints every end-to-end metric of every workload and checks
every output. A metric fails when its spread exceeds the bound, and
``op_p50_s`` also fails when any run drew it from fewer than three warm
ops. The first op of each run (``cold_s`` in the run records) is shown
beside them without a bound, and the warm-op tail (``op_tail_s``) where a
run has the twenty warm ops it needs. Each run's wall time is shown, and
with every workload judged, the projected wall time of 4 + 22 runs per
workload.

``--traced`` adds two traced runs of seed0: their exact counts must be
equal, the per-layer shares are printed, and the trace overhead is the
median traced op_p50_s minus the median untraced one.
Exit status 0 only when every check passes.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_WARM_FOR_MEDIAN = 3


def one_run(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict]:
    t0 = time.perf_counter()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"run failed: {workload} seed {seed} exit {p.returncode}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    rec_path = [ln.split(": ", 1)[1] for ln in p.stderr.splitlines()
                if ln.startswith("run record: ")][-1]
    with open(rec_path) as f:
        rec = json.load(f)
    rec["wall_s"] = time.perf_counter() - t0
    return result, rec


def spread(values: list[float]) -> tuple[float, float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0], 0.0
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", nargs="+", default=None)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    bad, walls = [], {}
    for w in args.workload or [w["name"] for w in bench["workloads"]]:
        bad += judge(w, args, bench, seconds, walls)
    # a full check makes 4 + 22 runs per workload; the extra 4 are costed
    # at the slowest workload's mean
    mean = {w: statistics.mean(v) for w, v in walls.items()}
    if len(mean) == len(bench["workloads"]):
        total = 22 * sum(mean.values()) + 4 * max(mean.values())
        print(f"projected full check: {total:.0f} s of runs (limit 3420 s)")
    for b in bad:
        print(f"FAIL: {b}")
    return 1 if bad else 0


def judge(workload: str, args, bench: dict, seconds: float, walls: dict) -> list[str]:
    """Runs one workload, prints its table; returns the failed checks."""
    runs = [one_run(workload, args.seed0 + k, seconds, 0) for k in range(args.runs)]
    bad = []
    walls[workload] = [rec["wall_s"] for _, rec in runs]
    print(f"{workload}: {len(runs)} runs of {seconds}s, wall "
          f"{min(walls[workload]):.1f}-{max(walls[workload]):.1f} s a run")
    for seed_off, (res, rec) in enumerate(runs):
        tail = rec["op_tail"]
        print(f"  seed {args.seed0 + seed_off}: correct={res['correct']} "
              f"attempted={res['attempted']} warm={tail['n_warm']} "
              f"tail={'p%.0f %.4fs' % (tail['pct'], tail['value']) if tail['value'] else 'n/a'}"
              f" probe cpu {rec['probe_before']['cpu_hashes_per_s']}->"
              f"{rec['probe_after']['cpu_hashes_per_s']} membw "
              f"{rec['probe_before']['membw_gbps']}->{rec['probe_after']['membw_gbps']}")
        if not res["correct"]:
            bad.append(f"{workload}: seed {args.seed0 + seed_off} incorrect")
        if tail["n_warm"] < MIN_WARM_FOR_MEDIAN:
            bad.append(f"{workload}: op_p50_s from {tail['n_warm']} warm ops, "
                       f"seed {args.seed0 + seed_off}")
    print(f"  {'metric':<22}{'unit':<7}{'median':>14}{'q1':>14}{'q3':>14}"
          f"{'spread':>9}{'bound':>7}")
    for m in bench["end_to_end"]:
        vals = [res["metrics"][m["name"]]["value"] for res, _ in runs]
        med, q1, q3, sp = spread(vals)
        verdict = "ok" if sp <= m["bound"] / 3 else "within" if sp <= m["bound"] else "FAIL"
        if verdict == "FAIL":
            bad.append(f"{workload}: {m['name']} spread {sp:.3f} > {m['bound']}")
        print(f"  {m['name']:<22}{m['unit']:<7}{med:>14.4f}{q1:>14.4f}{q3:>14.4f}"
              f"{sp:>9.3f}{m['bound']:>7.2f}  {verdict}")
    # the first op of each run: one sample per process, so reported, not gated
    med, q1, q3, sp = spread([rec["cold_s"] for _, rec in runs])
    print(f"  {'cold_s':<22}{'s':<7}{med:>14.4f}{q1:>14.4f}{q3:>14.4f}{sp:>9.3f}"
          f"{'-':>7}  not gated")

    if args.traced:
        traced = [one_run(workload, args.seed0, seconds, 1) for _ in range(2)]
        c1, c2 = (rec["counts"] for _, rec in traced)
        for k in sorted(set(c1) | set(c2)):
            same = c1.get(k) == c2.get(k)
            print(f"  count {k:<28} {c1.get(k)!s:>14} {c2.get(k)!s:>14}"
                  f"  {'equal' if same else 'DIFFERENT'}")
            if not same:
                bad.append(f"{workload}: count {k} differs between two runs of one seed")
        layer = traced[0][0]["metrics"]
        for k in ("op.build_plan_read_share", "op.exec_share", "writer.commit_share"):
            print(f"  share {k:<28} {layer[k]['value']:.3f}")
        base = statistics.median(res["metrics"]["op_p50_s"]["value"] for res, _ in runs)
        over = statistics.median(
            res["metrics"]["trace.op_p50_s"]["value"] for res, _ in traced) - base
        print(f"  trace overhead: op_p50_s {over:+.4f}s ({over / base:+.1%}), traced"
              " median minus untraced median; compare with the untraced spread")

    return bad


if __name__ == "__main__":
    raise SystemExit(main())
