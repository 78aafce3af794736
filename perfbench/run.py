#!/usr/bin/env python3
"""The tiler's benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload geotag_bulk --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The inputs are generated from
``--seed`` into ``.perfbench_work/`` (removed at exit), the workload
runs on a ``session.get_session`` session at ``local[<nproc/2>]`` for
``--seconds`` seconds, every output is checked after the timed window,
and the last line of standard output is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

holding the end-to-end metrics (``--trace 0``) or the per-layer
metrics (``--trace 1``). The exit code is 1 when any check failed.
See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
# Spark task threads: half the cores. Each task thread drives a Python
# worker process, so local[<nproc>] would keep about twice nproc threads
# and processes busy, and its times would follow the scheduler and the
# neighbouring load. On a 4-core host local[2] passes pages through
# geotag_bulk as fast as local[4] did, with a narrower run-to-run spread.
THREADS = max(1, len(os.sched_getaffinity(0)) // 2)
WORKLOADS = ("geotag_bulk", "spatial_requests", "text_dedup")
# The driver JVM's resident size, heap and non-heap together, peaks at
# 1.1-1.5 GB (spatial_requests) and 1.5-1.8 GB (geotag_bulk); a 2 GB heap
# limit leaves headroom without capping that peak.
DRIVER_MEMORY, YOUNG_GEN = "2g", "512m"


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="run at the tiny smoke-test size (sf0.001)")
    return p.parse_args(argv)


def configure_env(work: str, trace: bool) -> None:
    """Everything Spark and its Python workers write stays under
    ``work``; the event log is on only for the traced run."""
    for d in ("local", "tmp", "eventlog", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    confs = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": f"{work}/local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        # A fixed young generation: G1 otherwise grows eden with the heap
        # at a pace set by its GC-time ratio, which follows the host's
        # load, and the same run's peak RSS then lands in two modes 500 MB
        # apart. With eden fixed, the JVM's resident size past it follows
        # what survives collection.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work}/tmp -Xmn{YOUNG_GEN}",
    }
    if trace:
        confs["spark.eventLog.enabled"] = "true"
        confs["spark.eventLog.dir"] = f"{work}/eventlog"
        confs["spark.eventLog.compress"] = "false"
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_GRAFT_CPUS"] = str(THREADS)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    configure_env(work, bool(args.trace))
    try:
        # The engine must be importable from the checkout root; a bare
        # benchmark directory fails here, before any result is printed.
        import workloads

        bench = workloads.Bench(args, work)
        try:
            result = workloads.RUNNERS[args.workload](bench)
        finally:
            bench.shutdown()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    for line in result.pop("report"):
        print(line)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    try:
        code = main()
    except Exception:  # no result line: the run counts as failed
        import traceback

        traceback.print_exc()
        code = 2
    sys.exit(code)
