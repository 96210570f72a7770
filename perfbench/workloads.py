"""The closed-loop workloads: feature_build and live_tail.

Each workload generates its inputs from the seed, is driven by one client
thread, and checks every op's output outside the timed region against a
pandas oracle computed at setup (``oracle/pandas_oracle.py``). Checks use
order-independent integer checksums, so Spark and pandas agree exactly.
Design reasons and measured facts: perfbench/README.md.
"""

from __future__ import annotations

import contextlib
import io
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
import zlib

import numpy as np
import pandas as pd

from spans import NullTracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
P = 1_000_003  # conv_id hash modulus: keeps every checksum term inside int64


def _crc(conv_ids: pd.Series) -> pd.Series:
    table = {c: zlib.crc32(c.encode()) % P for c in conv_ids.unique()}
    return conv_ids.map(table).astype("int64")


def _crc_col(F):
    return F.crc32(F.col("conv_id").cast("binary")) % P


def _dir_bytes(root: str) -> int:
    """Bytes of every file under root: data, manifest, schema log, checksums."""
    return sum(os.path.getsize(os.path.join(d, n))
               for d, _, names in os.walk(root) for n in names)


class Workload:
    name = ""
    warmup = 1          # warm-up ops discarded after the cold op
    setup_repeats = 3   # seeded generation + staging, median reported

    def __init__(self, seed: int, seconds: float, work: str, tracer=None):
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = tracer or NullTracer()
        self.setup_record: dict = {}
        self.setup_s = float("nan")
        self._bytes_rows: list[tuple[int, int]] = []

    # -- set-up ------------------------------------------------------------

    def start(self):
        """Session start, then seeded generation and staging (repeated, the
        median taken), then the untimed oracle."""
        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span("session.start"):
            from amazon_security_lake_transformation_library_spark.session import (
                get_spark,
            )
            self.spark = get_spark(
                f"perfbench-{self.name}", master=f"local[{os.cpu_count()}]",
                extra_conf=tr.spark_conf(),
            )
        session_s = time.perf_counter() - t0
        tr.install(self.spark)
        gen = []
        for _ in range(self.setup_repeats):
            t = time.perf_counter()
            with tr.span("synth.gen"):
                self.setup_data()
            gen.append(time.perf_counter() - t)
        self.setup_s = session_s + statistics.median(gen)
        self.setup_record = {"session_s": session_s, "gen_s": gen}
        self.setup_oracle()
        return self.spark

    def setup_data(self) -> None:
        raise NotImplementedError

    def setup_oracle(self) -> None:
        raise NotImplementedError

    def run(self) -> list[dict]:
        """The cold op, the warm-up ops, then the warm ops: one record each."""
        raise NotImplementedError

    def stored_bytes_per_row(self) -> float:
        b = sum(x for x, _ in self._bytes_rows)
        r = sum(y for _, y in self._bytes_rows)
        return b / r if r else float("nan")


# ----------------------------------------------------------------- checksums

def feature_checksum_pd(df: pd.DataFrame) -> tuple:
    k = _crc(df["conv_id"]) + df["turn_idx"].astype("int64")
    fv = df["feature_val"].fillna(-1).astype("int64")
    inner = (df["session_id"].astype("int64") + 7 * df["user_turn_cum"].astype("int64")
             + 13 * fv + 17 * df["text_len"].astype("int64"))
    return (len(df), int(df["session_id"].sum()), int(df["user_turn_cum"].sum()),
            int(fv.sum()), int((k * inner).sum()))


def feature_checksum_cols(F) -> list:
    k = _crc_col(F) + F.col("turn_idx")
    fv = F.coalesce(F.col("feature_val").cast("bigint"), F.lit(-1))
    inner = (F.col("session_id") + 7 * F.col("user_turn_cum") + 13 * fv
             + 17 * F.col("text_len"))
    return [F.count(F.lit(1)), F.sum("session_id"), F.sum("user_turn_cum"),
            F.sum(fv), F.sum(k * inner)]


def _ints(row) -> tuple:
    return tuple(int(v) if v is not None else 0 for v in row)


def oracle_features(pdf: pd.DataFrame, feats: pd.DataFrame) -> pd.DataFrame:
    """turn_features plus the as-of join: what the feature build commits."""
    from amazon_security_lake_transformation_library_spark.oracle import pandas_oracle as po

    return po.asof(po.turn_features(pdf), feats)


# ------------------------------------------------------------- feature_build

class FeatureBuild(Workload):
    """Each op runs jobs/build_features.py's default path (default strategy,
    then SnapshotWriter.commit in eventday partitions) into a fresh table
    root, reading one standing seeded transcripts table."""

    name = "feature_build"
    n_turns = 40_000  # fixed across seeds: op k does the same work in every run
    warmup = 1

    def setup_data(self) -> None:
        from amazon_security_lake_transformation_library_spark.synth.transcripts import (
            BASE_TS, gen_conv_features, gen_transcripts, write_parquet,
        )
        self.inp = os.path.join(self.work, "input")
        os.makedirs(self.inp, exist_ok=True)
        # 2,400 conversations always hold more than n_turns turns; the cut
        # shortens the last conversation kept. The hot conversation (the
        # first) is moved to start on the first day, so every seed spans the
        # same ~31 eventday partitions instead of 31 to 46.
        pdf = gen_transcripts(n_convs=2400, seed=self.seed).iloc[:self.n_turns].copy()
        hot = (pdf["conv_id"] == pdf["conv_id"].iloc[0]).to_numpy()
        pdf.loc[hot, "ts"] -= pdf.loc[hot, "ts"].min() - pd.Timestamp(BASE_TS)
        self.pdf = pdf
        self.feats = gen_conv_features(self.pdf)
        write_parquet(self.pdf, os.path.join(self.inp, "transcripts.parquet"))
        write_parquet(self.feats, os.path.join(self.inp, "conv_features.parquet"))

    def setup_oracle(self) -> None:
        self.expected = feature_checksum_pd(oracle_features(self.pdf, self.feats))
        sys.path.insert(0, os.path.join(ROOT, "jobs"))
        import build_features

        self.job = build_features

    def op(self, i: int) -> dict:
        root = os.path.join(self.work, "tables", f"op{i}")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = self.job.main([
                "--input", os.path.join(self.inp, "transcripts.parquet"),
                "--features", os.path.join(self.inp, "conv_features.parquet"),
                "--output", root,
            ])
        if rc != 0:
            raise RuntimeError(f"build_features exited {rc}")
        rows = json.loads(buf.getvalue().strip().splitlines()[-1])["rows"]
        return {"root": root, "rows_in": self.n_turns, "rows_out": rows}

    def check(self, i: int, out: dict) -> bool:
        from pyspark.sql import functions as F

        from amazon_security_lake_transformation_library_spark.plans.writer import (
            SnapshotWriter,
        )
        root = out["root"]
        with self.tracer.untraced():
            got = _ints(SnapshotWriter(root).read(self.spark)
                        .agg(*feature_checksum_cols(F)).collect()[0])
        self._bytes_rows.append((_dir_bytes(root), out["rows_out"]))
        shutil.rmtree(root, ignore_errors=True)
        return out["rows_out"] == self.n_turns and got == self.expected

    def _one(self, i: int, phase: str) -> dict:
        rec = {"i": i, "phase": phase, "ok": False, "rows_in": 0, "rows_out": 0}
        with self.tracer.op(i, phase):
            rec["t0"] = time.time()
            t0 = time.perf_counter()
            try:
                out = self.op(i)
            except Exception:
                out = None
                traceback.print_exc()
            rec["t"] = time.perf_counter() - t0
            rec["t1"] = time.time()
        if out is not None:
            rec["rows_in"], rec["rows_out"] = out["rows_in"], out["rows_out"]
            try:
                rec["ok"] = bool(self.check(i, out))
            except Exception:
                traceback.print_exc()
        return rec

    def run(self) -> list[dict]:
        ops = [self._one(0, "cold")]
        ops += [self._one(i, "warmup") for i in range(1, 1 + self.warmup)]
        i = len(ops)
        t_end = time.perf_counter() + self.seconds
        while time.perf_counter() < t_end:
            ops.append(self._one(i, "warm"))
            i += 1
        return ops


# ---------------------------------------------------------------- live_tail

class LiveTail(Workload):
    """Closed-loop drain of pre-staged, time-ordered turn files through
    read_turn_stream -> stateful_turn_features -> incremental_feature_job.
    The client releases one staged file into the stream's input directory
    and waits until its micro-batch is committed (processAllAvailable)
    before it releases the next. One micro-batch is one op; its latency is
    triggerExecution from the query's progress. The cold batch and the
    warm-up batches are followed by warm batches for ``seconds``, so a
    slow host runs fewer batches rather than a longer run. Batch k carries
    the same rows, state and manifest in every run of a seed, and every
    released row must be committed."""

    name = "live_tail"
    turns_per_file = 300
    warmup = 3
    min_batch_s = 1.5  # staged files cover warm batches this fast
    drain_s = 90.0     # the query is stopped if the drain overruns seconds by this

    def setup_data(self) -> None:
        from amazon_security_lake_transformation_library_spark.synth.transcripts import (
            gen_transcripts, write_parquet,
        )
        n_files = 1 + self.warmup + math.ceil(self.seconds / self.min_batch_s)
        pdf = gen_transcripts(n_convs=800, seed=self.seed)
        pdf = pdf.sort_values(["ts", "conv_id", "turn_idx"], kind="mergesort")
        # Whole files within each day, the day's remainder left out: a file
        # that straddles midnight commits twice the eventday files, which
        # made stored_bytes_per_row vary 16% between seeds.
        day = pdf["ts"].dt.floor("D")
        n_day = day.map(day.value_counts())
        pdf = pdf[(pdf.groupby(day).cumcount() < n_day // self.turns_per_file
                   * self.turns_per_file).to_numpy()]
        n_rows = n_files * self.turns_per_file
        if len(pdf) < n_rows:
            raise ValueError(f"--seconds {self.seconds} needs {n_rows} turns")
        self.pdf = pdf.iloc[:n_rows].reset_index(drop=True)
        self.stage = os.path.join(self.work, "stream_stage")
        self.inp = os.path.join(self.work, "stream_in")
        for d in (self.stage, self.inp):
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
        self.file_of = np.arange(n_rows) // self.turns_per_file
        base = time.time() - n_files - 10
        for f in range(n_files):
            path = os.path.join(self.stage, f"part-{f:05d}.parquet")
            write_parquet(self.pdf[self.file_of == f], path)
            os.utime(path, (base + f, base + f))  # the source orders by mtime
        self.n_files = n_files

    def setup_oracle(self) -> None:
        from amazon_security_lake_transformation_library_spark.oracle import pandas_oracle as po

        feats = po.turn_features(self.pdf.assign(__file=self.file_of))
        self.oracle = feats[["conv_id", "session_id", "user_turn_cum", "__file"]]

    def _maxima_pd(self, k: int) -> tuple:
        g = (self.oracle[self.oracle["__file"] < k].groupby("conv_id")
             .agg(s=("session_id", "max"), u=("user_turn_cum", "max")).reset_index())
        return (len(g), int(g["s"].sum()), int(g["u"].sum()),
                int((_crc(g["conv_id"]) * (g["s"] + 7 * g["u"])).sum()))

    def run(self) -> list[dict]:
        from pyspark.errors import StreamingQueryException

        from amazon_security_lake_transformation_library_spark.streaming import (
            pipeline as sp,
        )
        self.table = os.path.join(self.work, "live_table")
        stream = sp.read_turn_stream(self.spark, self.inp)
        feats = sp.stateful_turn_features(stream)
        q = sp.incremental_feature_job(feats, self.table,
                                       os.path.join(self.work, "checkpoint")).start()
        watchdog = threading.Timer(self.seconds + self.drain_s, q.stop)
        watchdog.start()
        released, t_end = 0, None
        try:
            while released < self.n_files and q.isActive:
                if released == 1 + self.warmup:
                    t_end = time.perf_counter() + self.seconds
                if t_end is not None and time.perf_counter() >= t_end:
                    break
                name = f"part-{released:05d}.parquet"
                os.rename(os.path.join(self.stage, name), os.path.join(self.inp, name))
                released += 1
                q.processAllAvailable()
        except StreamingQueryException as e:
            print(f"live_tail query failed: {e}", file=sys.stderr)
        finally:
            watchdog.cancel()
            progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
            q.stop()
        ops = []
        for i in range(released):
            phase = "cold" if i == 0 else "warmup" if i <= self.warmup else "warm"
            if i >= len(progress):  # the query died or overran before batch i
                ops.append({"i": i, "phase": phase, "t": float("nan"), "t0": 0,
                            "t1": 0, "rows_in": 0, "rows_out": 0, "ok": False})
                continue
            p = progress[i]
            d = p["durationMs"]
            st = (p["stateOperators"] or [{}])[0]
            t0 = pd.Timestamp(p["timestamp"]).timestamp()
            ops.append({
                "i": i, "phase": phase, "t": d["triggerExecution"] / 1000, "t0": t0,
                "t1": t0 + d["triggerExecution"] / 1000,
                "rows_in": p["numInputRows"], "rows_out": 0, "ok": True,
                "stream": {
                    "add_batch_s": d.get("addBatch", 0) / 1000,
                    "query_planning_s": d.get("queryPlanning", 0) / 1000,
                    "checkpoint_s": (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000,
                    "source_s": (d.get("latestOffset", 0) + d.get("getBatch", 0)) / 1000,
                    "state_rows": st.get("numRowsTotal", 0),
                    "state_bytes": st.get("memoryUsedBytes", 0),
                },
            })
        self._check(ops)
        return ops

    def _check(self, ops: list[dict]) -> None:
        from pyspark.sql import functions as F

        from amazon_security_lake_transformation_library_spark.plans.writer import (
            SnapshotWriter,
        )
        w = SnapshotWriter(self.table)
        with self.tracer.untraced():
            mf = w.manifest(self.spark)
            if mf is None:  # not one batch committed
                return
            per_snap = {r[0]: int(r[1]) for r in mf.groupBy("snapshot_id")
                        .agg(F.sum("row_count")).collect()}
            got = _ints(w.read(self.spark).groupBy("conv_id").agg(
                F.max("session_id").alias("s"), F.max("user_turn_cum").alias("u"))
                .agg(F.count(F.lit(1)), F.sum("s"), F.sum("u"),
                     F.sum(_crc_col(F) * (F.col("s") + 7 * F.col("u")))).collect()[0])
        k = len(per_snap)
        contiguous = sorted(per_snap) == [f"batch-{b:012d}" for b in range(k)]
        whole = contiguous and got == self._maxima_pd(k)
        for o in ops:
            if not o["ok"]:
                continue
            committed = per_snap.get(f"batch-{o['i']:012d}")
            o["rows_out"] = committed or 0
            o["ok"] = whole and committed == self.turns_per_file == o["rows_in"]
        rows = sum(per_snap.values())
        self._bytes_rows.append((_dir_bytes(self.table), rows))


def make(name: str, seed: int, seconds: float, work: str, tracer=None) -> Workload:
    cls = {"feature_build": FeatureBuild, "live_tail": LiveTail}[name]
    return cls(seed, seconds, work, tracer)
