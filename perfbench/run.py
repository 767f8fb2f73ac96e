"""Pipeline benchmark: bulk CSV ingest through the reference DAG, and the curation DAG.

Usage (from the repository root)::

    python3 perfbench/run.py --workload csv_bulk --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the traced
probe, prints the per-layer metrics and writes the spans as JSON lines to
``.perfbench_spans/<workload>-seed<seed>.jsonl``. Progress and Spark's own logging go to stderr; the
last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
The exit code is non-zero when any output check failed.

Everything the run writes (warehouse, buckets, snapshot dirs, Spark local
dirs, JVM temp files) lives under ``.perfbench_tmp/`` in the repository
root and is removed before exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("csv_bulk", "curation_dag")


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(work: str) -> None:
    """Point every scratch location of Python, the JVM and Spark at ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # -XX:-UsePerfData: the JVM's perf counters file lives in /tmp whatever
    # java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    sys.dont_write_bytecode = True


def start_session(work: str):
    """get_spark with only the warehouse and console progress set, plus one
    trivial job. Returns (spark, start_s, first_job_s)."""
    from etl_workflows_spark import get_spark

    t0 = time.perf_counter()
    spark = get_spark(extra_conf={
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })
    t1 = time.perf_counter()
    spark.range(1).count()
    return spark, t1 - t0, time.perf_counter() - t1


def stop_spark() -> None:
    """Stop Spark, if it started, and wait for the gateway JVM (its Python
    workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        gateway.shutdown()
    finally:
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path[:0] = [ROOT, HERE]
    # fail before creating anything when the engine is not here
    import etl_workflows_spark  # noqa: F401
    import procstat

    base = os.path.join(ROOT, ".perfbench_tmp")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    traced = args.trace == 1
    try:
        isolate(work)
        # the RSS sampler's CPU would count in the untraced run's figures
        with procstat.PeakRss() if traced else contextlib.nullcontext() as rss:
            spark, start_s, first_job_s = start_session(work)
            session = {"setup_s": procstat.seconds_since_process_start(),
                       "start_s": start_s, "first_job_s": first_job_s}
            import report
            import workloads

            res = workloads.run(args.workload, spark, work, args.seed,
                                args.seconds, traced)
        out = report.metrics(res, session, rss.peak_mb if traced else None)
        if res.tracer is not None:
            spans_dir = os.path.join(ROOT, ".perfbench_spans")
            os.makedirs(spans_dir, exist_ok=True)
            path = os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.jsonl")
            res.tracer.dump(path)
            print(f"[perfbench] spans written to {path}", file=sys.stderr)
    finally:
        try:
            stop_spark()
        finally:
            shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run still uses it
    print(json.dumps(out))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
