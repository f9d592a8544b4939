"""The benchmark's one command.

    python3 perfbench/run.py --workload {mcp,engine_spark} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. It makes its inputs from the seed,
drives the engine through the workload's user surface, checks every
answer, and prints two JSON lines on stdout: a detail record (settings,
sample counts, tail percentiles, ambient probe, failure ratio), then
the result ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end set; with ``--trace 1`` the
per-layer set from a traced run. Work files live under
``.perfbench_work/`` in the checkout and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

END_TO_END = {
    "setup_s": "s",
    "query_p50_ms": "ms",
    "neighbors_p50_ms": "ms",
    "rss_mb": "MB",
}
SPARK_CPUS = 4  # capped at the CPUs this process may use
SPARK_DRIVER_MEM = "2g"


def settings(work: str) -> dict:
    """The environment of every process the benchmark starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = min(SPARK_CPUS, len(os.sched_getaffinity(0)))
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": SPARK_DRIVER_MEM,
        # pandas-UDF workers import the package by name
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        # one stdio client: BLAS and Arrow thread pools only spin
        "OMP_NUM_THREADS": "1",
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
    }


def _preflight() -> None:
    """Fail fast outside a checkout of the engine."""
    for need in ("mcp_local_rag_spark", "bench.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"perfbench: {need} not found under {ROOT}; "
                             "run from the root of a checkout")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["mcp", "engine_spark"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    _preflight()

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        env = settings(work)
        os.environ.update(env)
        ctx = SimpleNamespace(root=ROOT, work=work, env=dict(os.environ),
                              seed=args.seed, seconds=args.seconds,
                              trace=bool(args.trace))
        if args.workload == "mcp":
            import mcp_workload as workload
        else:
            import spark_workload as workload
        result = workload.run(ctx)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    ops = result["ops"]
    if args.trace:
        import layers

        metrics = {name: {"value": result["per_layer"][name], "unit": unit}
                   for name, unit in layers.PER_LAYER}
    else:
        metrics = {name: {"value": result["end_to_end"][name], "unit": unit}
                   for name, unit in END_TO_END.items()}
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "settings": env, **result["detail"],
        "ambient": result["ambient"],
        "failed_ops_ratio": {"value": ops.ratio, "unit": "ratio"},
        "errors": ops.errors,
    }
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
