"""One benchmark run inside a fresh process: build the session, warm
the Python workers, signal readiness, run one workload, write the
result as JSON.

Started by ``perfbench/run.py``, which times set-up from process start
to the readiness line. Run it through run.py, not directly.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import resource
import sys

from .trace import EventLog, Tracer, read_events, reduce_spans
from .workloads import WORKLOADS, Context

READY = "PERFBENCH_READY"


def warm_python_workers(spark, ncores: int) -> None:
    """A pandas-UDF job with one task per core: forks the worker pool
    and imports pandas/pyarrow in it, as bench.py does before timing."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def ident(s):
        return s

    spark.range(0, ncores * 64, 1, ncores).select(ident("id")).count()


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver's Python process plus its JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024


def session_conf(work: str, trace: bool, ncores: int) -> dict[str, str]:
    os.makedirs(f"{work}/spark-local")
    conf = {
        "spark.driver.memory": "4g",
        # session.py's sizing rule for a fixed core count: 2-3x cores
        "spark.sql.shuffle.partitions": str(2 * ncores),
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
    }
    if trace:
        os.makedirs(f"{work}/eventlog")
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def trace_layers(tracer: Tracer, res, work: str) -> None:
    """Reduce the event log to the per-layer metrics."""
    (path,) = glob.glob(f"{work}/eventlog/*")
    log = EventLog(read_events(path))
    records, failures = reduce_spans(tracer.spans, log)
    by_name: dict[str, list[dict]] = {}
    for s in tracer.spans:
        by_name.setdefault(s["name"], []).append(records[s["id"]])
    for name in ("session.get_spark", "session.worker_warm"):
        res.layers[f"{name}_s"] = (by_name[name][0]["wall_s"], "s")
    if res.reduce is not None:
        res.reduce(records, by_name, log)
    res.layers["trace.spans"] = (len(tracer.spans), "count")
    res.layers["trace.check_failures"] = (len(failures), "count")
    res.layers["trace.max_outside_frac"] = (
        max((r["outside_s"] / r["wall_s"] for r in records.values() if r["wall_s"] > 0),
            default=0.0), "ratio")
    for f in failures:
        res.fail(f"trace self-check: {f}")


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args(argv)

    from dbd_datawarehouse_scraper_spark import get_spark

    ncores = len(os.sched_getaffinity(0))  # what nproc reports
    tracer = Tracer(bool(args.trace))
    with tracer.span("session.get_spark"):
        spark = get_spark(
            app_name="perfbench", master=f"local[{ncores}]",
            **session_conf(args.work, bool(args.trace), ncores),
        )
    tracer.attach(spark)
    with tracer.span("session.worker_warm"):
        warm_python_workers(spark, ncores)
    print(READY, flush=True)

    ctx = Context(spark, tracer, args.seed, args.seconds, args.work, ncores)
    res = WORKLOADS[args.workload](ctx)
    rss = peak_rss_mb(spark)
    spark.stop()
    if args.trace:
        trace_layers(tracer, res, args.work)
        for key in ("throughput_per_s", "op_p50_s"):
            if key in res.metrics:
                res.layers[f"trace.{key}"] = res.metrics[key]
    res.layers["peak_rss_mb"] = (rss, "MB")
    res.layers["failed_frac"] = (res.failed / max(1, res.attempted), "ratio")
    with open(args.result, "w") as f:
        json.dump({
            "attempted": res.attempted,
            "failed": res.failed,
            "errors": res.errors,
            "metrics": res.metrics,
            "layers": res.layers,
        }, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
