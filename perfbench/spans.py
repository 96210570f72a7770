"""Tracing for the traced run (``--trace 1``): spans around every call into
a layer's public function, Spark job attribution, and the per-layer metrics.

Spans are recorded from the benchmark's files only: ``install`` wraps the
public functions of ``plans.writer.SnapshotWriter`` and of the operator
modules the workloads reach, and the workloads open spans around session
start, generation, planning and execution. Each span on the main thread
sets a Spark job group, so the jobs it submits carry the span id; jobs
submitted on other threads (the streaming query's) go to the innermost span
whose interval holds their submission time. After the session stops, the
event log is decoded into stage, task and SQL metrics per span.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import statistics
import threading
import time
from collections import defaultdict

OPERATOR_MODULES = ("asof", "features", "fused", "salted")
WRITER_METHODS = ("commit", "read", "read_at", "manifest", "committed_snapshots",
                  "snapshots")
READ_NAMES = {f"writer.{m}" for m in WRITER_METHODS if m != "commit"}
SQL = "org.apache.spark.sql.execution.ui."


class NullTracer:
    """Untraced runs: spans cost nothing and record nothing."""

    def spark_conf(self):
        return None

    def install(self, spark) -> None:
        pass

    def span(self, name: str):
        return contextlib.nullcontext()

    def untraced(self):
        return contextlib.nullcontext()

    def op(self, i: int, phase: str):
        return contextlib.nullcontext()


class Tracer(NullTracer):
    def __init__(self, work: str):
        self.log_dir = os.path.join(work, "eventlog")
        self.spans: list[dict] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self.sc = None
        self.counts: dict = {}
        self.self_times: dict = {}  # span name -> median self seconds per warm op

    def spark_conf(self) -> dict:
        os.makedirs(self.log_dir, exist_ok=True)
        return {"spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.log_dir,
                "spark.eventLog.compress": "false"}

    # -- spans -----------------------------------------------------------------

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _group(self, span: dict | None) -> None:
        if self.sc is None or threading.current_thread() is not threading.main_thread():
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"pb{span['id']}", span["name"])

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        s = {"id": next(self._ids), "name": name, "parent": stack[-1]["id"] if stack else None,
             "t0": time.time(), **attrs}
        self.spans.append(s)
        stack.append(s)
        self._group(s)
        try:
            yield s
        finally:
            s["t1"] = time.time()
            stack.pop()
            self._group(stack[-1] if stack else None)

    def untraced(self):
        """Output checks: their jobs go to a span that no metric reads."""
        return self.span("check")

    def op(self, i: int, phase: str):
        return self.span("op", op=i, phase=phase)

    def install(self, spark) -> None:
        import importlib

        from amazon_security_lake_transformation_library_spark.plans import writer

        self.sc = spark.sparkContext
        for m in WRITER_METHODS:
            setattr(writer.SnapshotWriter, m,
                    self._wrap(getattr(writer.SnapshotWriter, m), f"writer.{m}"))
        for mod_name in OPERATOR_MODULES:
            mod = importlib.import_module(
                f"amazon_security_lake_transformation_library_spark.operators.{mod_name}")
            for n, f in list(vars(mod).items()):
                if (callable(f) and not n.startswith("_") and not isinstance(f, type)
                        and getattr(f, "__module__", None) == mod.__name__):
                    setattr(mod, n, self._wrap(f, f"operators.{n}"))

    def _wrap(self, f, name: str):
        tracer = self

        def wrapped(*a, **k):
            if name == "writer.commit" and threading.current_thread() is threading.main_thread():
                # the job plans inside commit; plan the incoming frame once
                # here so planning shows as its own span (traced runs only)
                with tracer.span("operators.plan"):
                    (a[1] if len(a) > 1 else k["df"])._jdf.queryExecution().executedPlan()
            with tracer.span(name) as s:
                out = f(*a, **k)
            if name == "writer.commit" and out:
                tracer._commit_files(a[0], k.get("snapshot_id", a[2] if len(a) > 2 else None), s)
            return out

        wrapped.__wrapped__ = f
        wrapped.__name__ = getattr(f, "__name__", name)
        return wrapped

    @staticmethod
    def _commit_files(w, snapshot_id, s: dict) -> None:
        d = os.path.join(w.data_path, f"snapshot_id={snapshot_id}")
        files = size = 0
        for root, _, names in os.walk(d):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(root, n))
        s["files"], s["bytes"] = files, size

    # -- event log -------------------------------------------------------------

    def _events(self):
        from tools.stage_report import app_files

        for path in app_files(self.log_dir):
            with open(path, encoding="utf-8", errors="replace") as f:
                for line in f:
                    try:
                        yield json.loads(line)
                    except json.JSONDecodeError:
                        continue

    def _decode(self) -> tuple[list[dict], list[dict]]:
        """Jobs (with their task metrics summed) and SQL executions."""
        jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        execs: dict[int, dict] = defaultdict(
            lambda: {"plan": "", "files_read": 0, "scans": 0, "t": 0})
        acc_names: dict[int, str] = {}

        def plan_metrics(info):
            for m in info.get("metrics", []):
                acc_names[m["accumulatorId"]] = m["name"]
            for c in info.get("children", []):
                plan_metrics(c)

        for ev in self._events():
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                j = jobs[ev["Job ID"]] = {
                    "id": ev["Job ID"], "submit": ev["Submission Time"] / 1000,
                    "end": None, "group": props.get("spark.jobGroup.id"),
                    "exec": int(props.get("spark.sql.execution.id", -1)),
                    "first_launch": None, "tasks": 0, "cpu_s": 0.0, "gc_s": 0.0,
                    "shuffle_bytes": 0, "spill_bytes": 0, "python_bytes": 0}
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, j["id"])
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
            elif kind == "SparkListenerTaskEnd":
                j = jobs.get(stage_job.get(ev["Stage ID"]))
                if j is None:
                    continue
                info, m = ev.get("Task Info") or {}, ev.get("Task Metrics") or {}
                launch = info.get("Launch Time", 0) / 1000
                j["first_launch"] = min(j["first_launch"] or launch, launch)
                j["tasks"] += 1
                j["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                j["gc_s"] += m.get("JVM GC Time", 0) / 1000
                j["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                j["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0)
                for a in info.get("Accumulables", []):
                    if str(a.get("Name", "")).startswith("data ") and "Python" in a["Name"]:
                        j["python_bytes"] += int(a.get("Update", 0) or 0)
            elif kind in (SQL + "SparkListenerSQLExecutionStart",
                          SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                e = execs[ev["executionId"]]
                e["plan"] += ev.get("physicalPlanDescription", "")
                e["t"] = e["t"] or ev.get("time", 0) / 1000
                plan_metrics(ev.get("sparkPlanInfo") or {})
            elif kind == SQL + "SparkListenerDriverAccumUpdates":
                e = execs[ev["executionId"]]
                for acc, v in ev.get("accumUpdates", []):
                    if acc_names.get(acc) == "number of files read":
                        e["files_read"] += int(v)
                        e["scans"] += 1
        for j in jobs.values():
            e = execs.get(j["exec"])
            j["window"] = e is not None and "Window" in e["plan"]
        return list(jobs.values()), list(execs.values())

    # -- per-layer metrics -----------------------------------------------------

    def _owner(self, t: float, group: str | None, by_id: dict) -> dict | None:
        if group and group.startswith("pb"):
            s = by_id.get(int(group[2:]))
            if s is not None:
                return s
        best = None
        for s in self.spans:
            if s["t0"] <= t <= s.get("t1", s["t0"]) and s["name"] != "op":
                if best is None or s["t0"] >= best["t0"]:
                    best = s
        return best

    def per_layer(self, ops: list[dict], wl, e2e: dict) -> dict:
        jobs, execs = self._decode()
        by_id = {s["id"]: s for s in self.spans}

        def ancestors(s):
            while s.get("parent") is not None:
                s = by_id[s["parent"]]
                yield s

        def op_of(t: float):
            for o in ops:
                if o.get("t0", 0) <= t <= o.get("t1", 0):
                    return o["i"]
            return None

        per_op: dict[int, dict] = defaultdict(lambda: defaultdict(float))
        covered: dict[int, float] = defaultdict(float)  # span id -> child time
        for s in self.spans:
            if "t1" in s and s["parent"] is not None:
                covered[s["parent"]] += s["t1"] - s["t0"]
        self_s: dict[int, dict] = defaultdict(lambda: defaultdict(float))
        # span times: each category counted at its outermost span
        for s in self.spans:
            if "t1" not in s:
                continue
            up = [a["name"] for a in ancestors(s)]
            if "check" in up or s["name"] == "check":
                continue
            dur = s["t1"] - s["t0"]
            i = op_of(s["t0"])
            if i is not None:
                self_s[i][s["name"]] += dur - covered[s["id"]]
            cat = None
            if s["name"] == "writer.commit":
                cat = "writer.commit_s"
            elif s["name"] in READ_NAMES and not any(
                    u == "writer.commit" or u in READ_NAMES for u in up):
                cat = "writer.read_s"
            elif s["name"] == "operators.plan":
                cat = "operators.plan_s"
            elif s["name"].startswith("operators.") and not any(
                    u.startswith("operators.") for u in up):
                cat = "operators.build_s"
            if cat and i is not None:
                p = per_op[i]
                p[cat] += dur
                if cat == "writer.commit_s":
                    p["writer.commits"] += 1
                    p["writer.files_per_commit"] += s.get("files", 0)
                    p["writer.bytes_per_commit"] += s.get("bytes", 0)
        # Spark jobs: owner span by job group, else by time
        for j in jobs:
            owner = self._owner(j["submit"], j["group"], by_id)
            names = [owner["name"], *[a["name"] for a in ancestors(owner)]] if owner else []
            if "check" in names:
                continue
            i = op_of(j["submit"])
            if i is None:
                continue
            p = per_op[i]
            p["jobs"] += 1
            p["tasks"] += j["tasks"]
            if "writer.commit" in names:
                p["writer.commit_jobs"] += 1
            elif any(n in READ_NAMES for n in names):
                p["writer.read_jobs"] += 1
            layer = "operators" if j["window"] or (owner and owner["name"].startswith(
                "operators.")) else (owner["name"].split(".")[0] if owner else wl.name)
            wait = (j["first_launch"] - j["submit"]) if j["first_launch"] else 0.0
            if layer in ("operators", "writer"):
                p[f"{layer}.sched_wait_s"] += max(0.0, wait)
            if layer == "operators":
                p["operators.executor_cpu_s"] += j["cpu_s"]
                p["operators.gc_s"] += j["gc_s"]
                p["operators.shuffle_bytes"] += j["shuffle_bytes"]
                p["operators.spill_bytes"] += j["spill_bytes"]
                p["operators.tasks"] += j["tasks"]
            p["streaming.python_bytes"] += j["python_bytes"]
            if j["end"]:
                p.setdefault("_intervals", []).append((j["submit"], j["end"]))
        for e in execs:
            i = op_of(e["t"])
            if i is not None:
                per_op[i]["writer.files_per_scan"] += e["files_read"]
                per_op[i]["writer.scans"] += e["scans"]

        for o in ops:
            p = per_op[o["i"]]
            t = o["t"]
            ivs = sorted(p.pop("_intervals", []))
            busy, end = 0.0, 0.0
            for a, b in ivs:
                a = max(a, end)
                if b > a:
                    busy += b - a
                    end = b
            p["op.exec_share"] = busy / t if t else 0.0
            p["op.build_plan_read_share"] = (p["operators.build_s"] + p["operators.plan_s"]
                                    + p["writer.read_s"]) / t if t else 0.0
            p["writer.commit_share"] = p["writer.commit_s"] / t if t else 0.0
            scans = p.pop("writer.scans", 0)
            if scans:
                p["writer.files_per_scan"] /= scans
            commits = p.pop("writer.commits", 0)
            if commits:
                p["writer.files_per_commit"] /= commits
                p["writer.bytes_per_commit"] /= commits
                p["writer.commit_jobs"] /= commits
            for k, v in (o.get("stream") or {}).items():
                p[f"streaming.{k}"] = v
            p["op.rows_in"], p["op.rows_out"] = o["rows_in"], o["rows_out"]

        warm = [o for o in ops if o["phase"] == "warm" and o["ok"]]
        names = sorted({n for o in warm for n in self_s[o["i"]]})
        self.self_times = {n: statistics.median(self_s[o["i"]].get(n, 0.0) for o in warm)
                           for n in names}
        keys = sorted({k for o in ops for k in per_op[o["i"]]} | set(LAYER_KEYS))
        med = {k: statistics.median([per_op[o["i"]].get(k, 0.0) for o in warm])
               if warm else 0.0 for k in keys}

        out = {k: med.get(k, 0.0) for k in LAYER_KEYS}
        setup = [s for s in self.spans if s["name"] in ("session.start", "synth.gen")]
        out["session.start_s"] = sum(s["t1"] - s["t0"] for s in setup
                                     if s["name"] == "session.start")
        gens = [s["t1"] - s["t0"] for s in setup if s["name"] == "synth.gen"]
        out["synth.gen_s"] = statistics.median(gens) if gens else 0.0
        cold = per_op[ops[0]["i"]]
        p50 = e2e["op_p50_s"]["value"]
        out["cold_excess_s"] = ops[0]["t"] - p50
        out["operators.cold_excess_s"] = sum(
            cold.get(k, 0.0) - med.get(k, 0.0)
            for k in ("operators.build_s", "operators.plan_s"))
        out["writer.cold_excess_s"] = sum(
            cold.get(k, 0.0) - med.get(k, 0.0) for k in ("writer.commit_s", "writer.read_s"))
        out["trace.op_p50_s"] = p50
        out["trace.cold_s"] = ops[0]["t"]
        # exact counts from the first warm round (op k does the same work in
        # every run of a seed, so these repeat exactly)
        rnd = [o for o in ops if o["phase"] == "warm"][:1]
        self.counts = {k: sum(per_op[o["i"]].get(k, 0) for o in rnd) for k in COUNT_KEYS}
        self.counts["ops"] = [o["i"] for o in rnd]
        return {k: {"value": float(v), "unit": UNITS[k]} for k, v in out.items()}


COUNT_KEYS = ("jobs", "tasks", "writer.commit_jobs", "writer.files_per_commit",
              "operators.shuffle_bytes", "streaming.state_rows", "op.rows_in",
              "op.rows_out")

LAYER_KEYS = (
    "operators.build_s", "operators.plan_s",
    "operators.executor_cpu_s", "operators.gc_s", "operators.shuffle_bytes",
    "operators.spill_bytes", "operators.tasks", "operators.sched_wait_s",
    "writer.commit_s", "writer.commit_jobs", "writer.files_per_commit",
    "writer.bytes_per_commit", "writer.read_s", "writer.read_jobs",
    "writer.files_per_scan", "writer.sched_wait_s",
    "streaming.add_batch_s", "streaming.query_planning_s", "streaming.checkpoint_s",
    "streaming.source_s", "streaming.state_rows", "streaming.state_bytes",
    "streaming.python_bytes",
    "op.build_plan_read_share", "op.exec_share", "writer.commit_share",
)


def _unit(k: str) -> str:
    if k.endswith("_s"):
        return "s"
    if k.endswith("_bytes") or k.startswith("writer.bytes"):
        return "bytes"
    if k.endswith("_share"):
        return "ratio"
    return "count"


UNITS = {k: _unit(k) for k in (
    *LAYER_KEYS, "session.start_s", "synth.gen_s", "cold_excess_s",
    "operators.cold_excess_s", "writer.cold_excess_s", "trace.op_p50_s",
    "trace.cold_s")}
