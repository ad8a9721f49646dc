"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload <serve_mixed|query_mix>
        --seed <n> --seconds <s> --trace <0|1> [--scale <f>] [--spans <file>]

Run from the repository root.  Human-readable detail lines come first;
the last line of standard output is the JSON result
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones.
``--scale`` shrinks the inputs for smoke tests (default 1); ``--spans``
writes a traced run's spans to a JSON file.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import tempfile
from dataclasses import dataclass, field
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))


def _driver_mem() -> str:
    """A quarter of physical memory, between 1 and 4 GiB: fmx's own
    default (16g) is larger than small machines hold."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f
                            if line.startswith("MemTotal:")).split()[1])
    return f"{max(1, min(4, total_kb // (4 * 1024 * 1024)))}g"


def pin_environment(work: Path) -> int:
    """Environment Spark and its Python workers run under; returns the
    core count (nproc).  Workers import ``fmx`` through PYTHONPATH, and
    every temporary file goes under ``work``."""
    cpus = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + prev if prev else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = _driver_mem()
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    return cpus


@dataclass
class Context:
    seed: int
    seconds: float
    trace: bool
    cpus: int
    work: Path
    scale: float = 1.0
    details: dict = field(default_factory=dict)
    spans: list = field(default_factory=list)


def main(argv=None) -> int:
    from perfbench import metrics

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=metrics.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--spans", type=Path,
                    help="write the traced run's spans here as JSON")
    args = ap.parse_args(argv)

    work = HERE / "_work" / f"run-{os.getpid()}"
    try:
        cpus = pin_environment(work)
        import fmx  # noqa: F401  (fails fast outside a checkout)

        from perfbench.harness import shutdown

        ctx = Context(seed=args.seed, seconds=args.seconds,
                      trace=bool(args.trace), cpus=cpus, work=work,
                      scale=args.scale)
        workload = importlib.import_module(f"perfbench.{args.workload}")
        try:
            res = workload.run(ctx)
        finally:
            shutdown()
        result = {"correct": res["failed"] == 0,
                  "attempted": int(res["attempted"]),
                  "failed": int(res["failed"]),
                  "metrics": metrics.render(res["values"], ctx.trace)}
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            (HERE / "_work").rmdir()
        except OSError:
            pass
    if args.spans is not None:
        args.spans.write_text(json.dumps(ctx.spans))
    for key, value in ctx.details.items():
        print(f"{args.workload}.{key} = {value}")
    for name, m in result["metrics"].items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
