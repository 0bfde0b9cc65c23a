"""Benchmark entry point.

    python3 perfbench/run.py --workload {full_suite,partition_resume}
                             --seed N --seconds S --trace {0,1}

Run from the root of a checkout. It generates its inputs from ``--seed``
under ``.perfbench_work/`` in the checkout, measures for ``--seconds``
seconds and prints, as the last line of standard output, one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` they are the per-layer metrics. The line before it is a
JSON object of diagnostics (host probe, lap walls, failed ratio and the
workload's own end-to-end figures).

Exits non-zero without printing a result when the package under test is
not importable from the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")


def _confine_to_checkout() -> None:
    """Point every scratch location of Python, the JVM and Spark into the
    work directory, before any of them starts."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.join(WORK, "events"), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def _stop_jvm() -> None:
    """End the py4j gateway JVM and wait for it."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()   # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — force it if it lingers
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["full_suite", "partition_resume"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the smoke test uses a tiny one)")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import schema_validata_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: package under test not importable: {e}",
              file=sys.stderr)
        return 2

    shutil.rmtree(WORK, ignore_errors=True)
    _confine_to_checkout()
    import workloads
    try:
        result, diag = workloads.execute(
            args.workload, args.seed, args.seconds, bool(args.trace),
            args.scale, WORK)
    finally:
        _stop_jvm()
        shutil.rmtree(WORK, ignore_errors=True)
    out = {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in result["metrics"].items()},
    }
    print(json.dumps({"diagnostics": diag}, default=str))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
