"""Multi-process memory-bandwidth probe — the second bracketing axis.

tools/cpu_probe.py hashes an L1-resident buffer, so it measures ALU/
scheduling capacity and is BLIND to aggregate DRAM bandwidth. Spark's
feature jobs are memory-bound (BASELINE.md §5.5), so a window can pass
the ALU probe with ratio ~4 while Spark walls inflate 10x — observed
2026-08-17: fused@16 cores ran 210 s in a window whose ALU probe read
3.6/4.3, vs 17.7 s in an earlier window on comparable input. This probe
catches that state: each worker streams a 256 MB numpy array (copy =
read + write), far past LLC, and the aggregate GB/s at 4 vs 16 processes
is the host's usable DRAM ceiling for a 16-way Spark stage.

Usage: python tools/membw_probe.py [--mb 256] [--iters 4]
Prints one JSON line: per-level aggregate GB/s + the 16/4 ratio.
A healthy host ratio is ~1.5-2.5 (bandwidth saturates below core
count); a degraded/contended host shows agg16 BELOW agg4 or single-digit
GB/s aggregates.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing as mp
import os
import sys
import time


def _stream(mb: int, iters: int, q) -> None:
    import numpy as np

    a = np.ones(mb * 1024 * 1024 // 8, dtype=np.float64)
    b = np.empty_like(a)
    # warm both buffers into resident pages before timing
    np.copyto(b, a)
    t0 = time.time()
    for _ in range(iters):
        np.copyto(b, a)
    dt = time.time() - t0
    # copy traffic: read a + write b per iteration
    q.put(2 * a.nbytes * iters / dt)


def aggregate_gbps(procs: int, mb: int, iters: int) -> float:
    q: mp.Queue = mp.Queue()
    ps = [mp.Process(target=_stream, args=(mb, iters, q)) for _ in range(procs)]
    for p in ps:
        p.start()
    total = sum(q.get() for _ in ps)
    for p in ps:
        p.join()
    return total / 1e9


def probe_window() -> dict:
    """One ALU + one membw reading (tools/cpu_probe and this module — the
    BASELINE.md §5.1 bracketing method), taken before and after a
    measurement so its record says what window it ran in: a slow cell
    inside a low-ratio window is host contention, not an engine
    regression. Healthy: alu_ratio_16_4 ~3-4, membw ratio >= ~1.5.
    The first ALU reading in a process can read ~4x low, so a half-second
    4-process warm-up runs first; it stays out of the ratio and is
    recorded as ``alu_warmup_p4`` beside ``alu_p4`` (hashes/s).
    Costs ~7 s; a probe that fails returns its error, never raises."""
    try:
        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        from cpu_probe import aggregate_rate

        warm = aggregate_rate(4, 0.5)
        a4 = aggregate_rate(4, 1.0)
        a16 = aggregate_rate(16, 1.0)
        g4 = aggregate_gbps(4, 128, 2)
        g16 = aggregate_gbps(16, 128, 2)
        return {
            "alu_warmup_p4": round(warm),
            "alu_p4": round(a4),
            "alu_ratio_16_4": round(a16 / a4, 2),
            "membw_p4_gbps": round(g4, 1),
            "membw_p16_gbps": round(g16, 1),
            "membw_ratio_16_4": round(g16 / g4, 2),
        }
    except Exception as ex:
        return {"error": str(ex)[:200]}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mb", type=int, default=256)
    ap.add_argument("--iters", type=int, default=4)
    args = ap.parse_args()
    g4 = aggregate_gbps(4, args.mb, args.iters)
    g16 = aggregate_gbps(16, args.mb, args.iters)
    print(json.dumps({
        "p4_agg_gbps": round(g4, 2),
        "p16_agg_gbps": round(g16, 2),
        "ratio_16_over_4": round(g16 / g4, 2),
    }))


if __name__ == "__main__":
    main()
