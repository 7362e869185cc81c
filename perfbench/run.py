"""Repository benchmark for the d6tstack_spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload at ``local[<cores this process may use>]`` from a single
driver process with one closed-loop client (the next operation starts when
the previous one has returned), checks the outputs outside the timed region
and prints, as the LAST line of stdout, one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json; ``--trace 1``
is the separate traced run that reports the per-layer metrics (spans around
the calls into each layer plus Spark's event log). The line before it is a
detailed report (per-operation-class medians, sample counts, percentiles).
Progress goes to stderr. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _driver_mem_gb() -> int:
    """A quarter of the machine's memory, capped at 8 GiB: the engine's 24g
    default exceeds small boxes, and the inputs here are a few tens of MB."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return max(1, min(8, int(line.split()[1]) // (4 << 20)))
    except OSError:
        pass
    return 2


def pin_environment(work: str) -> int:
    """Pin what the engine reads from the environment, from this side only:
    cores, driver memory, Python path for the workers, temp dirs inside the
    run's own work dir. Returns the core count."""
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{_driver_mem_gb()}g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = work
    return cores


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import d6tstack_spark  # noqa: F401  (fails fast outside a full checkout)

    import harness
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cache = os.path.join(ROOT, ".perfbench", "inputs")
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(work)
    try:
        cores = pin_environment(work)
        ctx = harness.Context(
            workload=args.workload, seed=args.seed, seconds=args.seconds,
            trace=bool(args.trace), cores=cores, work=work, cache=cache,
            out_dir=os.path.join(ROOT, ".perfbench", "out"),
        )
        result = harness.run(ctx, workloads.WORKLOADS[args.workload]())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result["report"], sort_keys=True))
    print(json.dumps(result["line"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
