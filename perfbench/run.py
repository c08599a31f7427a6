"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload scrape --seed 1 --seconds 5 --trace 0

Starts a fresh Python process for the workload (see child.py) with all
of its scratch, warehouse and event-log output in a temporary
directory under ``perfbench/_work/`` that is removed on exit, times
set-up from that process's start until its session is up and its
Python workers are warm, and prints one JSON object as the last line:
``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` they are its per-layer metrics,
reduced from Spark's event log. Exits non-zero, printing no result,
when the run cannot complete.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "dbd_datawarehouse_scraper_spark"
READY = "PERFBENCH_READY"
TIMEOUT_S = 170  # the whole run must end within 180 s


def _kill_group(pgid: int) -> None:
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        pass


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def _stop_group(proc: subprocess.Popen) -> None:
    """Wait for every process of the child's group (the JVM and the
    Python workers too); kill what is left after a grace period."""
    deadline = time.monotonic() + 15
    while _group_alive(proc.pid) and time.monotonic() < deadline:
        if proc.poll() is None:
            proc.wait(timeout=max(0.1, deadline - time.monotonic()))
        else:
            time.sleep(0.1)
    if _group_alive(proc.pid):
        _kill_group(proc.pid)
        while _group_alive(proc.pid):
            time.sleep(0.05)
    proc.wait()


def run_child(args, work: str) -> tuple[float, dict]:
    """(setup seconds, child result); raises RuntimeError on failure."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env.update(
        PYTHONDONTWRITEBYTECODE="1",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        # every JVM (spark-submit's launcher and the driver): temporary
        # files in the work directory, and no hsperfdata file in /tmp
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    )
    os.makedirs(env["TMPDIR"])
    result_path = os.path.join(work, "result.json")
    cmd = [
        sys.executable, "-m", "perfbench.child",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--result", result_path,
    ]
    log_path = os.path.join(work, "child.log")
    with open(log_path, "w") as log:
        t0 = time.perf_counter()
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                stderr=log, text=True, start_new_session=True)
        watchdog = threading.Timer(TIMEOUT_S, _kill_group, (proc.pid,))
        watchdog.start()
        setup_s = None
        try:
            for line in proc.stdout:
                if line.strip() == READY and setup_s is None:
                    setup_s = time.perf_counter() - t0
            proc.wait()
        except BaseException:
            _kill_group(proc.pid)
            raise
        finally:
            watchdog.cancel()
            _stop_group(proc)
    if proc.returncode != 0 or setup_s is None or not os.path.exists(result_path):
        with open(log_path) as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"workload process exited with {proc.returncode}:\n{tail}")
    with open(result_path) as f:
        return setup_s, json.load(f)


def _terminate(signum, _frame):
    # unwind through the finally blocks: stop the workload's process
    # group and remove the temporary directory
    raise SystemExit(128 + signum)


def main(argv: list[str]) -> int:
    signal.signal(signal.SIGTERM, _terminate)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found next to perfbench/: nothing to measure", file=sys.stderr)
        return 2

    base = os.path.join(HERE, "_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=base)
    try:
        setup_s, res = run_child(args, work)
    except RuntimeError as exc:
        print(exc, file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run is using it

    for err in res["errors"]:
        print(f"FAILED: {err}", file=sys.stderr)
    produced = dict(res["layers"]) if args.trace else dict(res["metrics"], setup_s=(setup_s, "s"))
    metrics = {}
    for m in spec["per_layer" if args.trace else "end_to_end"]:
        if m["name"] in produced:
            value = produced[m["name"]][0]
        elif args.trace:
            value = 0  # the layer is idle on this workload
        else:
            print(f"end-to-end metric {m['name']} was not measured", file=sys.stderr)
            return 1
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
