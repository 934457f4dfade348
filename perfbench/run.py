#!/usr/bin/env python3
"""The repository benchmark: reindex throughput and where its time goes.

Usage (from the repository root)::

    python3 perfbench/run.py --workload reindex_rollup --seed 1 --seconds 10 --trace 0

Workloads (why each exists: perfbench/README.md):

``reindex_rollup``
    A seeded daily log index rolled up into its month by a registered
    data mutator that also drops ~5% of documents and adds a field. The
    destination starts empty on every repetition.
``reindex_incremental``
    The rollup's output is the destination; each repetition restores it
    and re-delivers a seeded 2% delta through the same mutator.

Load shape: one client in one process, closed loop: one Spark session on
``local[nproc]``, one reindex at a time, ``run_task(parallelism=1)``,
``Engine(plan_concurrency=nproc)``. ``--seconds`` sets the number of timed
repetitions (as many as fit in ``seconds`` at the workload's nominal
repetition length on a 4-core host, at least one); every timed figure is
their median. Untimed repetitions warm the engine up first.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs a traced
and an untraced repetition and prints the per-layer metrics (spans
are written to ``.perfbench_out/``). The last stdout line is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``; the
line before it carries the host context and every metric with its unit.
Exits non-zero without that line if the engine cannot be imported.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")


def _prepare_environment(work: str, cpus: int) -> None:
    """Keep every file Spark and Python write inside ``work`` (created
    once the engine has imported)."""
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # every JVM, the spark-submit launcher included: no hsperfdata file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    _prepare_environment(work, cpus)

    # imports the engine: without it the run fails here, before any output
    import workloads  # noqa: E402 — needs the environment above

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    from chillastic_spark.session import calibrate, get_spark

    t0 = time.time()
    spark = get_spark("perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        spark.range(1).count()
        session_s = time.time() - t0
        wl = workloads.WORKLOADS[args.workload](spark, work, args, cpus)
        t = time.time()
        wl.prepare()
        prepare_s = time.time() - t
        calib = [calibrate(spark)]
        result = wl.measure(args.seconds, args.trace == 1)
        calib.append(calibrate(spark))
        context = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "nproc": cpus,
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "spark_version": spark.version,
            "session.calibrate_s": [round(c, 4) for c in calib],
            "session_start_s": round(session_s, 4),
            "prepare_s": round(prepare_s, 4),
            "repetitions": result["repetitions"],
            "all_metrics": {
                k: {"value": v, "unit": u} for k, (v, u) in result["all"].items()
            },
        }
        if args.trace == 1:
            result["metrics"]["session.calibrate_s"] = (statistics.median(calib), "s")
            os.makedirs(OUT_DIR, exist_ok=True)
            path = os.path.join(OUT_DIR, f"spans-{args.workload}-seed{args.seed}.json")
            with open(path, "w") as f:
                json.dump({"context": context, "spans": result["spans"]}, f)
            context["spans_file"] = os.path.relpath(path, ROOT)
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    failed = result["failed"]
    print("# context " + json.dumps(context, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": result["attempted"],
        "failed": failed,
        "metrics": {
            k: {"value": v, "unit": u} for k, (v, u) in result["metrics"].items()
        },
    }))
    return 0


def _stop(spark) -> None:
    """Stop the session and wait for the JVM the session launched."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 — the JVM may already be gone
            pass
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — subprocess.TimeoutExpired
            proc.kill()
            proc.wait(timeout=30)


if __name__ == "__main__":
    sys.exit(main())
