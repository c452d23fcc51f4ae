"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 5 --trace 0

Run from the repository root.  Generates the workload's inputs from
``--seed``, sets up the engine, measures whole cycles or passes until the
window has lasted ``--seconds``, checks every output, and prints one
JSON object as the last line of standard output: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Run details (sample counts, workload breakdowns, failures) go to
standard error.  Everything the run writes lives under
``.perfbench/`` in the working directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("ingest", "curate")
#: JVM heap for the single-JVM local session (the engine's default
#: of 48g assumes a large host).  It is committed in full at start, as
#: a server deployment does, so peak RSS shows what the program adds to
#: a fixed heap rather than when the collector chose to grow it.
DRIVER_MEM = "2g"


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _prepare_env(work: str, cores: int) -> None:
    """Size the session to this host, run the program on its defaults
    (no ``SORTIFY_*`` knob), and keep every temp file under ``work``."""
    for key in [k for k in os.environ if k.startswith("SORTIFY_")]:
        del os.environ[key]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
    )
    tempfile.tempdir = tmp


def _session(work: str):
    from sortify_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # -XX:-UsePerfData: HotSpot would otherwise keep its counters
            # file in the system temp directory, outside the run directory
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEM} -XX:-UsePerfData "
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                f"-Dderby.system.home={os.path.join(work, 'derby')}"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _traced_summary(run) -> dict:
    import metrics
    from trace import session_metrics, spark_counters

    jobs, stages = spark_counters(run.spark)
    window = [run.tracer.spans[i] for i in run.requests]
    wall = sum(s.wall for s in window)
    offset = time.time() - time.perf_counter()
    session = session_metrics(
        run.tracer, jobs, stages, run.requests, wall, run.cores, offset
    )
    search_ids = [s.idx for s in window if s.name.startswith("search.")]
    per_search = session_metrics(
        run.tracer, jobs, stages, search_ids, 1.0, run.cores, offset
    )["session.jobs"] if search_ids else 0.0
    return metrics.layer_metrics(run, session, per_search)


def _stop(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit (the
    Python workers it forked exit with it)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, os.path.dirname(HERE))
    try:
        import pyspark  # noqa: F401

        import sortify_spark.facade  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable here: {exc}", file=sys.stderr)
        return 2

    import metrics
    import workloads
    from trace import Tracer

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(os.getcwd(), ".perfbench", f"run-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        _prepare_env(work, cores)
        spark = _session(work)
        tracer = Tracer(spark, bool(args.trace))
        tracer.install()
        run = workloads.Run(spark, args.seed, args.seconds, tracer, work, cores)
        e2e = getattr(workloads, args.workload)(run)
        if args.trace:
            values = _traced_summary(run)
            names = metrics.PER_LAYER
        else:
            values = e2e
            names = metrics.END_TO_END
        tracer.uninstall()
        details = metrics.workload_details(run)
        details["setup_runs_s"] = run.setup_s
        details["problems"] = run.problems[:20]
        print(json.dumps({"workload": args.workload, "seed": args.seed, **details},
                         default=str), file=sys.stderr)
        result = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {
                n: {"value": float(values[n]), "unit": u} for n, u, _ in names
            },
        }
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
