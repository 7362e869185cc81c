"""Run context, Spark session lifecycle, the closed-loop client and the
result line. Workloads (workloads.py) only describe their set-up, their
operations and their checks; everything they time goes through
:meth:`Context.op`."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# highest percentile reported beside each median, provided at least ten
# samples lie beyond it
PERCENTILES = (99.9, 99.0, 90.0, 50.0)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else 0.5 * (s[n // 2 - 1] + s[n // 2])


def tail_percentile(xs: list[float]) -> dict | None:
    """The highest of PERCENTILES with >= 10 samples beyond it, or None."""
    n = len(xs)
    for p in PERCENTILES:
        if n * (1 - p / 100.0) >= 10:
            s = sorted(xs)
            return {"p": p, "value": s[min(n - 1, int(p / 100.0 * n))]}
    return None


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@dataclass
class Context:
    workload: str
    seed: int
    seconds: float
    trace: bool
    cores: int
    work: str
    cache: str
    out_dir: str
    spark: object = None
    tracer: object = None
    samples: dict = field(default_factory=dict)  # op class -> [seconds]
    cpu: dict = field(default_factory=dict)  # op class -> [CPU seconds]
    ops: list = field(default_factory=list)  # {"id", "cls", "start", "end", "ok"}
    failed_ops: set = field(default_factory=set)
    failures: list = field(default_factory=list)
    timings: dict = field(default_factory=dict)  # named one-off timings (s)
    report: dict = field(default_factory=dict)  # extra detail-line fields
    layer: dict = field(default_factory=dict)  # per-layer metrics computed
    size_ratio: float | None = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def op(self, cls: str, fn, *args, **kwargs):
        """Time one operation of the closed loop. Returns (op id, result);
        result is None when the operation raised (counted as failed)."""
        op_id = len(self.ops)
        sc = self.spark.sparkContext
        if self.tracer is not None:
            sc.setJobGroup(f"perfbench-op-{op_id}", cls)
            self.tracer.begin_op(op_id, cls)
        cpu0 = tree_cpu_s()
        wall0 = time.time()
        t0 = time.perf_counter()
        res = None
        try:
            res = fn(*args, **kwargs)
            ok = True
        except Exception:  # an operation that raises is a failed op; keep going
            ok = False
            self.fail(op_id, f"{cls} raised:\n{traceback.format_exc()}")
        dt = time.perf_counter() - t0
        cpu = tree_cpu_s() - cpu0
        if self.tracer is not None:
            self.tracer.end_op()
            sc.setJobGroup("perfbench-untimed", "outside timed operations")
        self.ops.append({"id": op_id, "cls": cls, "start": wall0,
                         "end": wall0 + dt, "ok": ok})
        if ok:
            self.samples.setdefault(cls, []).append(dt)
            self.cpu.setdefault(cls, []).append(cpu)
        return op_id, res

    def fail(self, op_id: int, why: str) -> None:
        """Count op ``op_id`` as failed (a raise or a correctness mismatch)."""
        self.failed_ops.add(op_id)
        self.failures.append(why)
        log(f"FAILED op {op_id}: {why}")

    def check(self, op_id: int, ok: bool, what: str) -> None:
        if not ok:
            self.fail(op_id, f"mismatch: {what}")


_CLK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) of this
    process and every descendant: the driver, the JVM and its Python
    workers. It grows far less than wall time when the host steals the
    CPU or other tenants compete for it."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
        except OSError:
            continue  # exited meanwhile
        fields = st[st.rindex(")") + 2:].split()
        parent[int(d)] = int(fields[1])
        ticks[int(d)] = sum(int(x) for x in fields[11:15])
    me = os.getpid()
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p not in (me, 0, 1) and p in parent:
            p = parent[p]
        if p == me:
            total += t
    return total / _CLK


def host_steal() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs from /proc/stat. Read at
    the start and end of the measured loop: a high share marks a run taken
    in one of a shared host's slow epochs."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[7], sum(v)


def closed_loop(ctx: Context, once: list, steps: list, classes: tuple[str, ...]) -> None:
    """One client, one outstanding operation. The ``once`` steps run first.
    Whole rotations of ``steps`` then run until every op class has a sample
    and, untraced, ``ctx.seconds`` have passed since the loop began.
    Stopping only between rotations keeps every class's sample set the same
    from seed to seed, and two traced runs issue the same operations."""
    t0 = time.perf_counter()
    for step in once:
        step()
    rotations = 0
    while steps:
        sampled = all(ctx.samples.get(c) for c in classes)
        if sampled and (ctx.trace or time.perf_counter() - t0 >= ctx.seconds):
            break
        if not sampled and rotations >= 3:
            break  # a class that never succeeds
        for step in steps:
            step()
        rotations += 1
    ctx.timings["loop_s"] = time.perf_counter() - t0


# ---------------------------------------------------------------------------
# session layer
# ---------------------------------------------------------------------------


def start_session(ctx: Context) -> None:
    from d6tstack_spark import session

    def warm_worker(batches):  # nested: shipped by value, not by module name
        import pyarrow as pa

        from d6tstack_spark.codecs import blocks, kernels, selector  # noqa: F401
        from d6tstack_spark.operators import encode  # noqa: F401

        n = sum(b.num_rows for b in batches)
        yield pa.RecordBatch.from_pydict({"n": [n]})

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": ctx.work,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ctx.work}",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.sql.warehouse.dir": ctx.path("warehouse"),
    }
    if ctx.trace:
        os.makedirs(ctx.path("eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + ctx.path("eventlog"),
            "spark.eventLog.compress": "false",
        })
    t0 = time.perf_counter()
    ctx.spark = session.get_spark(
        app_name=f"perfbench-{ctx.workload}",
        master=f"local[{ctx.cores}]",
        extra_conf=conf,
    )
    ctx.spark.range(1).count()
    ctx.timings["session_start_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    n = ctx.cores * 2
    ctx.spark.range(0, n, 1, n).mapInArrow(warm_worker, "n long").count()
    ctx.timings["session_warm_s"] = time.perf_counter() - t0


def stop_session(ctx: Context) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it owns)."""
    if ctx.spark is None:
        return
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    ctx.spark.stop()
    ctx.spark = None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------------------
# result
# ---------------------------------------------------------------------------


def class_stats(ctx: Context) -> dict:
    return {
        c: {"median_s": median(xs), "n": len(xs), "tail": tail_percentile(xs),
            "cpu_median_s": median(ctx.cpu[c]),
            "samples_s": [round(x, 4) for x in xs],
            "cpu_s": [round(x, 3) for x in ctx.cpu[c]]}
        for c, xs in sorted(ctx.samples.items())
    }


def run(ctx: Context, workload) -> dict:
    """Set up, run and check ``workload``; returns the detail report and
    the result line."""
    spec = load_spec()
    classes = workload.WRITES + workload.READS
    if ctx.trace:
        import spans as tr

        ctx.tracer = tr.Tracer()
        ctx.tracer.install()
    try:
        t0 = time.perf_counter()
        workload.prepare_inputs(ctx)  # generated/cached; not part of setup_s
        ctx.timings["input_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        start_session(ctx)
        workload.setup(ctx)
        ctx.timings["setup_s"] = time.perf_counter() - t0
        log(f"setup {ctx.timings['setup_s']:.2f}s; measuring")
        steal0 = host_steal()
        closed_loop(ctx, workload.once(ctx), workload.steps(ctx), classes)
        steal1 = host_steal()
        ctx.report["host_steal_frac"] = round(
            (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1), 4)
        workload.verify(ctx)
        if ctx.trace:
            workload.trace_extras(ctx)
    finally:
        stop_session(ctx)
        if ctx.tracer is not None:
            ctx.tracer.uninstall()

    stats = class_stats(ctx)
    attempted = len(ctx.ops)
    failed = len(ctx.failed_ops)
    missing = [c for c in classes if c not in stats]
    correct = attempted > 0 and failed == 0 and not missing

    def side(cs, key="median_s"):
        return sum(stats[c][key] for c in cs if c in stats)

    e2e = {
        "setup_s": ctx.timings["setup_s"],
        "write_s": side(workload.WRITES),
        "read_s": side(workload.READS),
        "cpu_s": side(classes, "cpu_median_s"),
        "size_ratio": ctx.size_ratio,
    }
    if ctx.trace:
        import spans as tr

        ctx.layer.update(tr.layer_metrics(ctx, e2e))
        want = spec["per_layer"]
        unknown = set(ctx.layer) - {m["name"] for m in want}
        if unknown:
            raise RuntimeError(f"per-layer metrics not in BENCHMARK.json: {sorted(unknown)}")
        values = {m["name"]: float(ctx.layer.get(m["name"], 0.0)) for m in want}
    else:
        want = spec["end_to_end"]
        values = {m["name"]: e2e[m["name"]] for m in want}
    report = {
        "workload": ctx.workload, "seed": ctx.seed, "trace": ctx.trace,
        "cores": ctx.cores, "classes": stats,
        "timings": {k: round(v, 4) for k, v in ctx.timings.items()},
        "ops_attempted": attempted, "ops_failed": failed,
        "failed_op_frac": failed / max(attempted, 1),
        "failures": [f[:500] for f in ctx.failures[:5]],
        **ctx.report,
    }
    line = {
        "correct": bool(correct),
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in want
        },
    }
    return {"report": report, "line": line}
