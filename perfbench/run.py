"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Generates the workload's inputs from the
seed (cached under ``.perfbench_work/inputs``), measures for ``--seconds``
seconds, checks every output, and prints one JSON object as the last
line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json, ``--trace
1`` the per-layer ones (see perfbench/workloads.py for how each is
measured). Everything the run writes stays under ``.perfbench_work``;
the per-run scratch directory is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

ROOT = os.getcwd()


def _isolate(scratch: str) -> None:
    """Keep every temporary file of this process, the JVM and the Python
    workers under ``scratch``, let the workers import the package from
    the checkout, give the driver a fixed 1 GB heap (a small footprint on
    a shared host, and a steadier peak RSS than a heap left to grow), and
    drop inherited PDFREDACT_* switches so each run executes the
    program's defaults."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = "1g"
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    for k in [k for k in os.environ if k.startswith("PDFREDACT_")]:
        del os.environ[k]


def _stop_jvm(timeout: float = 60.0) -> None:
    """End the Spark driver JVM this process launched (it exits when its
    stdin closes) and wait until it and every Python worker it started
    are gone."""
    import time

    from pyspark import SparkContext

    from perfbench.trace import descendants

    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from perfbench.trace import PeakRss
    from perfbench.workloads import E2E_UNITS, LAYER_UNITS, WORKLOADS, Run

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    if args.seconds <= 0:
        ap.error("--seconds must be positive")

    work = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(work, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="run-", dir=work)
    try:
        _isolate(scratch)
        with PeakRss() as rss:
            run = Run(work, scratch, args.seed, args.seconds, bool(args.trace), rss)
            WORKLOADS[args.workload](run)
    finally:
        _stop_jvm()
        shutil.rmtree(scratch, ignore_errors=True)

    if args.trace:
        values = {k: run.layer.get(k, 0) for k in LAYER_UNITS}
        units = LAYER_UNITS
    else:
        values = {k: run.e2e[k] for k in E2E_UNITS}
        units = E2E_UNITS
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
