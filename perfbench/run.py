"""Benchmark of the watcher tick and of the headline registry queries.

    python3 perfbench/run.py --workload watch-tree --seed 1 --seconds 20 --trace 0

Run it from the repository root. The last line of standard output is
one JSON object: ``correct``, ``attempted`` and ``failed`` ops, and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics (taken from a run with Spark's event log on and a job group
per span) with ``--trace 1``. Names and units are in
``BENCHMARK.json``. Everything the run writes goes under
``.perfbench_work/`` in the current directory and is removed at exit.
A metric the workload should report and recorded no sample for fails
the run (``correct`` is false).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class Context:
    """What a workload needs from the command line and the harness."""

    def __init__(self, args):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{os.getpid()}")
        self.layer: dict[str, float | None] = {}
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        self.log_dir = os.path.join(self.work, "eventlog")
        self.conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={self.work} -XX:-UsePerfData",
        }
        if self.trace:
            os.makedirs(self.log_dir)
            self.conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",  # one file, <dir>/<app id>
                "spark.eventLog.dir": "file://" + self.log_dir,
            })

    @staticmethod
    def driver_rss_mb(spark) -> float:
        """Peak resident memory (VmHWM) of the driver JVM, in MB."""
        pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    def event_log(self, spark):
        """Stop ``spark``, which completes its event log, and read it."""
        from perfbench.trace import read_event_log

        app = spark.sparkContext.applicationId
        spark.stop()
        return read_event_log(self.log_dir, app)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("watch-tree", "query-headline"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # Spark's Python workers import the engine and this package by name
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    ctx = Context(args)
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = os.path.join(ctx.work, "tmp")
    try:
        if args.workload == "watch-tree":
            from perfbench import watch as workload
        else:
            from perfbench import headline as workload
        res = workload.run(ctx)
    finally:
        _stop_spark()
        shutil.rmtree(ctx.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(ctx.work))  # only if no other run uses it
        except OSError:
            pass

    units = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if args.trace:
        # the traced run's end-to-end figures, to set against the
        # untraced runs': the difference is the tracing overhead
        values = dict(ctx.layer, **{f"trace.{k}": v for k, v in res["e2e"].items()})
        names = units["per_layer"]
        owned = workload.PER_LAYER | {f"trace.{k}" for k in res["e2e"]}
    else:
        values = res["e2e"]
        names = units["end_to_end"]
        owned = {m["name"] for m in names}  # every workload reports all of them
    # a metric of the other workload's layers is 0 here: this workload
    # never reaches that layer
    missing = sorted(m["name"] for m in names
                     if m["name"] in owned and values.get(m["name"]) is None)
    if missing:
        print(f"[perfbench] no sample for {', '.join(missing)}", file=sys.stderr)
        res["correct"] = False
    metrics = {m["name"]: {"value": float(values.get(m["name"]) or 0.0), "unit": m["unit"]}
               for m in names}
    print("[perfbench] " + json.dumps(values, sort_keys=True), file=sys.stderr)
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    return 0


def _stop_spark() -> None:
    """Stop the session and the driver JVM, and wait for the JVM to end."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
