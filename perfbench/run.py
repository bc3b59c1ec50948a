"""Benchmark entry point.

    python3 perfbench/run.py --workload store_ingest --seed 1 --seconds 12 --trace 0

Runs one workload (see README.md) in this process on ``local[4]`` and
prints, as the last line of stdout, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones (and writes the
spans to ``--spans`` if given).

The harness does not depend on the caller's cwd: the repo root is put
on ``PYTHONPATH`` for Spark's Python workers, and every file the run
writes (generated inputs, stores, Spark local dirs, warehouse, JVM and
DuckDB temp files) lives under one scratch dir inside the checkout,
removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

sys.dont_write_bytecode = True  # write nothing into the checkout but scratch

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRATCH_ROOT = os.path.join(REPO, ".perfbench_scratch")
sys.path.insert(0, REPO)

from perfbench import workloads  # noqa: E402  (imports no Spark)


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=list(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--spans", help="write the traced run's spans here (JSON lines)")
    return p.parse_args(argv)


def reap_stale_scratch() -> None:
    """Remove scratch dirs left by runs whose process is gone."""
    if not os.path.isdir(SCRATCH_ROOT):
        return
    for d in os.listdir(SCRATCH_ROOT):
        pid = d.rpartition("-")[2]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(SCRATCH_ROOT, d), ignore_errors=True)


def isolate(scratch: str) -> None:
    """Environment for this process, the JVM and Spark's Python workers."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = REPO + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = tmp
    # every JVM: spark-submit's launcher and the Spark driver
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = "4"
    # 15 GB box shared with the DuckDB oracle and Python workers
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    os.environ["GS_DUCK_SPILL_DIR"] = os.path.join(scratch, "duck-spill")
    os.environ["GS_ORACLE_DUCK_MEM"] = "2GB"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(REPO, "gibbon_spark")):
        print(f"perfbench: no gibbon_spark package under {REPO}", file=sys.stderr)
        return 2
    os.makedirs(SCRATCH_ROOT, exist_ok=True)
    reap_stale_scratch()
    scratch = os.path.join(SCRATCH_ROOT, f"run-{os.getpid()}")
    os.makedirs(scratch)
    try:
        isolate(scratch)
        result = workloads.run(args.workload, seed=args.seed, seconds=args.seconds,
                               trace=bool(args.trace), scratch=scratch, spans_path=args.spans)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
