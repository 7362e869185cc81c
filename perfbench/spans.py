"""Traced-run machinery: spans around the calls into each layer's public
functions (installed from the benchmark side by rebinding the module
attributes, so the engine's sources stay untouched), Spark event-log
parsing, and the per-layer metrics computed from both.

A span records name, layer, start, end, parent span and the id of the
timed operation it ran under. Spans stay in memory and are written to
``.perfbench/out/spans-<workload>-seed<seed>.jsonl`` when the run ends.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import sys
import time

# (layer, module, public functions called on the driver). Functions the
# engine ships to executors are not wrapped; the codec layers
# (codecs.kernels/selector/blocks) run inside executors, so the traced run
# times them single-threaded in the driver instead (probes.py).
TARGETS = (
    ("session", "d6tstack_spark.session", ("get_spark",)),
    ("operators.encode", "d6tstack_spark.operators.encode", (
        "encode_parquet_files", "plan_parquet_splits",
        "build_shared_fsst_tables", "decode_parquet_blocks", "decode_where",
    )),
    ("operators.sinks", "d6tstack_spark.operators.sinks", ("write_blocks",)),
    ("plans.checkpoint", "d6tstack_spark.plans.checkpoint", (
        "encode_resume", "decode_state", "delete_where", "delete_keys",
    )),
    ("plans.maintenance", "d6tstack_spark.plans.maintenance", (
        "purge_deletes", "upsert_files",
    )),
    ("plans.explain", "d6tstack_spark.plans.explain", ("explain_decode",)),
    ("plans.metrics", "d6tstack_spark.plans.metrics", (
        "compression_rollup", "state_info",
    )),
)
SELF_TIME_LAYERS = (
    "operators.encode", "operators.sinks", "plans.checkpoint", "plans.maintenance",
)
READ_CLASSES = ("decode", "point", "range", "scan")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None
        self._patched: list[tuple] = []

    # -- spans --------------------------------------------------------------
    def open(self, name: str, layer: str) -> dict:
        s = {"id": len(self.spans), "name": name, "layer": layer,
             "parent": self._stack[-1] if self._stack else None,
             "op": self.op_id, "start": time.perf_counter(), "end": None}
        self.spans.append(s)
        self._stack.append(s["id"])
        return s

    def close(self, s: dict) -> None:
        s["end"] = time.perf_counter()
        self._stack.pop()

    def begin_op(self, op_id: int, cls: str) -> None:
        self.op_id = op_id
        self._op_span = self.open(f"op.{cls}", "op")

    def end_op(self) -> None:
        self.close(self._op_span)
        self.op_id = None

    def wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            s = tracer.open(name, layer)
            try:
                res = fn(*args, **kwargs)
            finally:
                tracer.close(s)
            if isinstance(res, dict):  # engine summaries (resume, purge, ...)
                s["ret"] = _scalars(res)
            return res

        return traced

    # -- installation -------------------------------------------------------
    def install(self) -> None:
        for layer, modname, names in TARGETS:
            mod = importlib.import_module(modname)
            for name in names:
                orig = getattr(mod, name)
                w = self.wrap(orig, f"{modname.rsplit('.', 1)[-1]}.{name}", layer)
                # rebind every module-level alias (from-imports included)
                for m in list(sys.modules.values()):
                    d = getattr(m, "__dict__", None)
                    if not d or not getattr(m, "__name__", "").startswith(
                        ("d6tstack_spark", "workloads", "harness", "probes")
                    ):
                        continue
                    for attr, val in list(d.items()):
                        if val is orig:
                            setattr(m, attr, w)
                            self._patched.append((m, attr, orig))

    def uninstall(self) -> None:
        for m, attr, orig in reversed(self._patched):
            setattr(m, attr, orig)
        self._patched.clear()

    # -- analysis -----------------------------------------------------------
    def self_times(self) -> None:
        """Self time = span duration minus the part its children cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        for s in self.spans:
            s["dur"] = s["end"] - s["start"]
            s["self"] = _uncovered(s["start"], s["end"],
                                   [(c["start"], c["end"]) for c in kids.get(s["id"], ())])

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _scalars(d: dict) -> dict:
    return {k: v for k, v in d.items()
            if isinstance(v, (int, float, str, bool)) or v is None}


def span_cost_s() -> float:
    """Measured cost of one span (open + close through a wrapper)."""
    t = Tracer()
    f = t.wrap(lambda: None, "noop", "noop")
    n = 20000
    t0 = time.perf_counter()
    for _ in range(n):
        f()
    return (time.perf_counter() - t0) / n


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def parse_event_log(log_dir: str) -> dict:
    """Per job group: jobs [(submit_s, end_s)], stages, tasks and task
    metrics. Times are epoch seconds."""
    # Spark 4 writes rolling logs: eventlog_v2_<app>/events_<n>_<app>
    files = sorted(
        os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs
        if not f.startswith("appstatus_") and not f.endswith(".crc")
    )
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}
    jobs: dict[int, dict] = {}

    def g(name: str) -> dict:
        return groups.setdefault(name, {
            "jobs": [], "stages": 0, "tasks": 0, "busy_s": 0.0, "cpu_s": 0.0,
            "sched_s": 0.0, "bytes_read": 0, "shuffle_bytes": 0, "gc_s": 0.0,
            "failed_tasks": 0,
        })

    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    grp = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                    jobs[ev["Job ID"]] = {"group": grp, "start": ev["Submission Time"] / 1e3}
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = grp
                elif kind == "SparkListenerJobEnd":
                    j = jobs.get(ev["Job ID"])
                    if j is not None:
                        g(j["group"])["jobs"].append((j["start"], ev["Completion Time"] / 1e3))
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    g(stage_group.get(sid, ""))["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    rec = g(stage_group.get(ev["Stage ID"], ""))
                    info = ev.get("Task Info", {})
                    m = ev.get("Task Metrics") or {}
                    rec["tasks"] += 1
                    if info.get("Failed") or info.get("Killed"):
                        rec["failed_tasks"] += 1
                    run_ms = m.get("Executor Run Time", 0)
                    dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    rec["busy_s"] += run_ms / 1e3
                    rec["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    rec["sched_s"] += max(0, dur - run_ms
                                          - m.get("Executor Deserialize Time", 0)
                                          - m.get("Result Serialization Time", 0)
                                          - info.get("Getting Result Time", 0)) / 1e3
                    rec["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    rec["bytes_read"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    rec["shuffle_bytes"] += (sr.get("Remote Bytes Read", 0)
                                             + sr.get("Local Bytes Read", 0)
                                             + sw.get("Shuffle Bytes Written", 0))
    return groups


def _uncovered(start: float, end: float, intervals: list[tuple]) -> float:
    """Length of [start, end] not covered by any interval."""
    covered, edge = 0.0, start
    for lo, hi in sorted(intervals):
        lo, hi = max(lo, edge), min(hi, end)
        if hi > lo:
            covered += hi - lo
            edge = hi
    return max(0.0, (end - start) - covered)


def spark_metrics(ctx) -> dict:
    groups = parse_event_log(ctx.path("eventlog"))
    ops = [o for o in ctx.ops if o["ok"]]
    out: dict[str, float] = {}
    agg = {k: 0.0 for k in ("jobs", "stages", "tasks", "busy_s", "cpu_s", "sched_s",
                            "bytes_read", "shuffle_bytes", "gc_s", "driver_s")}
    per_cls: dict[str, list[tuple[int, float]]] = {}
    failed = 0
    for o in ops:
        rec = groups.get(f"perfbench-op-{o['id']}", {})
        jobs = rec.get("jobs", [])
        driver_s = _uncovered(o["start"], o["end"], jobs)
        per_cls.setdefault(o["cls"], []).append((len(jobs), driver_s))
        agg["jobs"] += len(jobs)
        agg["driver_s"] += driver_s
        for k in ("stages", "tasks", "busy_s", "cpu_s", "sched_s", "bytes_read",
                  "shuffle_bytes", "gc_s"):
            agg[k] += rec.get(k, 0)
        failed += rec.get("failed_tasks", 0)
    n = max(len(ops), 1)
    out.update({
        "spark.jobs_per_op": agg["jobs"] / n,
        "spark.stages_per_op": agg["stages"] / n,
        "spark.tasks_per_op": agg["tasks"] / n,
        "spark.task_busy_s_per_op": agg["busy_s"] / n,
        "spark.task_cpu_frac": agg["cpu_s"] / agg["busy_s"] if agg["busy_s"] else 0.0,
        "spark.sched_delay_s_per_op": agg["sched_s"] / n,
        "spark.driver_s_per_op": agg["driver_s"] / n,
        "spark.bytes_read_per_op": agg["bytes_read"] / n,
        "spark.shuffle_bytes_per_op": agg["shuffle_bytes"] / n,
        "spark.gc_s_per_op": agg["gc_s"] / n,
        "spark.failed_tasks": float(failed),
    })
    for cls, xs in per_cls.items():
        out[f"spark.jobs_per_op.{cls}"] = sum(j for j, _ in xs) / len(xs)
        out[f"spark.driver_s_per_op.{cls}"] = sum(d for _, d in xs) / len(xs)
    ctx.report["spark_jobs_per_op"] = {
        cls: [j for j, _ in xs] for cls, xs in sorted(per_cls.items())
    }
    return out


# ---------------------------------------------------------------------------
# per-layer metrics from spans
# ---------------------------------------------------------------------------


def layer_metrics(ctx, e2e: dict) -> dict:
    tr = ctx.tracer
    tr.self_times()
    spans = tr.spans
    by_id = {s["id"]: s for s in spans}
    op_spans = {s["op"]: s for s in spans if s["layer"] == "op"}

    def named(name: str) -> list[dict]:
        return [s for s in spans if s["name"] == name]

    def top_level(s: dict) -> bool:
        p = by_id.get(s["parent"]) if s["parent"] is not None else None
        return p is None or p["layer"] == "op"

    def mean(xs: list[float]) -> float:
        return sum(xs) / len(xs) if xs else 0.0

    out: dict[str, float] = {
        "session.start_s": ctx.timings.get("session_start_s", 0.0),
        "session.warm_s": ctx.timings.get("session_warm_s", 0.0),
    }

    # operators.encode: planning per encode-bearing op, decode plan/job
    plan_by_op: dict[int, float] = {}
    for s in named("encode.plan_parquet_splits") + named("encode.build_shared_fsst_tables"):
        if s["op"] is not None:
            plan_by_op[s["op"]] = plan_by_op.get(s["op"], 0.0) + s["dur"]
    out["encode.plan_s"] = mean(list(plan_by_op.values()))
    out["decode.plan_s"] = mean([s["dur"] for s in named("encode.decode_parquet_blocks")
                                 if s["op"] is not None])
    job = []
    for op_id, s in op_spans.items():
        if s["name"][3:] in READ_CLASSES:
            kids = sum(c["dur"] for c in spans if c["parent"] == s["id"])
            job.append(s["dur"] - kids)
    out["decode.job_s"] = mean(job)

    # plans.checkpoint
    resumes = [s for s in named("checkpoint.encode_resume") if top_level(s)]
    out["checkpoint.encode_resume_s"] = mean([s["dur"] for s in resumes])
    planned = sum(s.get("ret", {}).get("planned", 0) for s in resumes)
    skipped = sum(s.get("ret", {}).get("skipped", 0) for s in resumes)
    out["checkpoint.splits_skipped_frac"] = skipped / planned if planned else 0.0
    out["checkpoint.decode_state_plan_s"] = mean([s["dur"] for s in named("checkpoint.decode_state")])
    out["checkpoint.delete_where_s"] = mean([s["dur"] for s in named("checkpoint.delete_where")])
    out["maintenance.purge_s"] = mean([s["dur"] for s in named("maintenance.purge_deletes")])

    # self time per timed op, by layer, and the op's own (action) time
    n_ops = max(len(op_spans), 1)
    for layer in SELF_TIME_LAYERS + ("op",):
        tot = sum(s["self"] for s in spans if s["layer"] == layer and s["op"] is not None)
        out[f"trace.{layer}.self_s_per_op"] = tot / n_ops

    # tracing overhead: the traced loop's end-to-end figures (compare with
    # an untraced run at the same seed) and the spans' own cost
    timed = [s for s in spans if s["op"] is not None]
    op_wall = sum(s["dur"] for s in op_spans.values()) or 1.0
    out["trace.write_s"] = e2e["write_s"]
    out["trace.read_s"] = e2e["read_s"]
    out["trace.spans"] = float(len(spans))
    out["trace.span_cost_frac"] = span_cost_s() * len(timed) / op_wall

    out.update(spark_metrics(ctx))
    path = os.path.join(ctx.out_dir, f"spans-{ctx.workload}-seed{ctx.seed}.jsonl")
    tr.write(path)
    ctx.report["span_file"] = os.path.relpath(path, os.path.dirname(ctx.out_dir.rstrip("/")))
    return out
