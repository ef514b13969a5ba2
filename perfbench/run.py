#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload {ingest,serve} --seed N \\
        --seconds S --trace {0,1}

Run from the repository root. Inputs are generated from ``--seed`` under
``perfbench/.work/`` (ignored by git), which also receives the trace
(``perfbench/.work/traces/``) and a per-run detail file. ``--seconds`` sets
the length of the workload's fixed operation sequence (see
``perfbench/README.md``). With ``--trace 0`` the result holds the
end-to-end metrics, with ``--trace 1`` the per-layer ones.

Exit status: 0 when the run completed (check ``correct``/``failed`` in
the result), 2 when the program under test is missing or set-up failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")
DRIVER_MEMORY = "2g"


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def _nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers)."""
    sc = spark.sparkContext
    proc = getattr(sc._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "bertopic_spark", "__init__.py")):
        print(f"perfbench: no bertopic_spark package under {ROOT}", file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # everything the run writes stays inside the checkout
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    sys.path.insert(0, ROOT)

    from perfbench.cpuclock import tree_cpu_s

    cpu0, t0 = tree_cpu_s(), time.perf_counter()
    from bertopic_spark import get_spark

    from perfbench import metrics
    from perfbench.trace import Tracer, jsonable
    from perfbench.workloads import WORKLOADS, Ctx, Timing, log

    n = _nproc()
    spark = get_spark(
        f"perfbench-{args.workload}", cpus=n, shuffle_partitions=n,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        })
    spark.sparkContext.setLogLevel("ERROR")
    session = Timing(time.perf_counter() - t0, round(tree_cpu_s() - cpu0, 6))
    log(f"session {session}")

    ctx = Ctx(spark=spark, tracer=Tracer(bool(args.trace), spark), work=run_dir,
              seed=args.seed, seconds=args.seconds, session=session)
    try:
        WORKLOADS[args.workload](ctx)
        res = metrics.result(ctx.attempted, ctx.failed,
                             ctx.layer if args.trace else ctx.e2e, bool(args.trace))
    except Exception:
        log(f"{args.workload} could not run:\n{traceback.format_exc()}")
        return 2
    finally:
        _stop(spark)
        log("stopped")
    meta = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": n, "detail": ctx.detail,
            "end_to_end": ctx.e2e, "per_layer": ctx.layer}
    ctx.tracer.write(os.path.join(WORK, "traces", f"{args.workload}-s{args.seed}.json"), meta)
    with open(os.path.join(WORK, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump({**meta, "result": res}, f, indent=1, default=jsonable)
    shutil.rmtree(run_dir, ignore_errors=True)
    log(json.dumps({k: v for k, v in ctx.detail.items()
                    if not isinstance(v, list)}, default=jsonable))
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
