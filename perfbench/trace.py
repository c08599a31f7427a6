"""Spans around calls into the engine's layers, and a stdlib reducer of
Spark's event log that attributes jobs, stages and tasks to them.

A span records a name, its parent, and wall-clock start and end. While
a span is open, every Spark job the driver thread submits carries the
job description ``perfbench#<span id>``; jobs that run on other
threads (broadcasts, AQE sub-queries) are linked through the
``spark.sql.execution.id`` of their SQL execution. Streaming jobs carry
neither: they belong to the span open when they started, and to their
epoch through the streaming batch-id job property. With tracing off
the tracer does nothing, so the end-to-end numbers carry no tracing
cost.

The reducer reads one plain JSON-lines event log
(``spark.eventLog.compress=false``, ``spark.eventLog.rolling.enabled=false``).
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

TAG = "perfbench#"
BATCH_ID_PROP = "streaming.sql.batchId"
# A span's jobs must lie inside it: the job time falling outside the
# span's own interval may be at most this share of its wall time (plus
# the event log's 1 ms timestamp granularity per job).
TOLERANCE = 0.05


class Tracer:
    """Records spans; tags Spark jobs with the innermost open span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = None

    def attach(self, spark) -> None:
        self._sc = spark.sparkContext

    def _tag(self) -> None:
        if self._sc is not None:
            self._sc.setJobDescription(f"{TAG}{self._stack[-1]}" if self._stack else None)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._tag()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._tag()


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def read_events(path: str) -> list[dict]:
    with open(path, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


class EventLog:
    """Jobs, stages, tasks and SQL executions of one application."""

    def __init__(self, events: list[dict]):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        exec_desc: dict[int, str] = {}
        for e in events:
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                self.jobs[e["Job ID"]] = {
                    "start": e["Submission Time"],
                    "end": None,
                    "stage_ids": list(e["Stage IDs"]),
                    "desc": props.get("spark.job.description") or "",
                    "exec_id": props.get("spark.sql.execution.id"),
                    "batch_id": props.get(BATCH_ID_PROP),
                }
            elif ev == "SparkListenerJobEnd":
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
            elif ev == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                scopes = []
                for rdd in info.get("RDD Info", []):
                    if rdd.get("Scope"):
                        scopes.append(json.loads(rdd["Scope"])["name"])
                st = self.stages.setdefault(info["Stage ID"], _empty_stage())
                st["completed"] = True
                st["scopes"] = scopes
            elif ev == "SparkListenerTaskEnd":
                st = self.stages.setdefault(e["Stage ID"], _empty_stage())
                m = e.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                st["tasks"] += 1
                st["run_ms"] += m.get("Executor Run Time", 0)
                st["cpu_ns"] += m.get("Executor CPU Time", 0)
                st["gc_ms"] += m.get("JVM GC Time", 0)
                st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                st["spill"] += m.get("Disk Bytes Spilled", 0)
            elif ev.endswith("SparkListenerSQLExecutionStart"):
                exec_desc[e["executionId"]] = e.get("description") or ""
        # a job is linked to a span by its own description, or else by
        # the description its SQL execution started under
        for job in self.jobs.values():
            desc = job["desc"]
            if not desc.startswith(TAG) and job["exec_id"] is not None:
                desc = exec_desc.get(int(job["exec_id"]), "")
            job["span"] = int(desc[len(TAG):]) if desc.startswith(TAG) else None

    def job_totals(self, job_ids) -> dict:
        """Stage, task and executor totals over ``job_ids``."""
        t = {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
             "executor_cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
             "shuffle_read_bytes": 0, "spill_bytes": 0}
        seen = set()
        for j in job_ids:
            t["jobs"] += 1
            for sid in self.jobs[j]["stage_ids"]:
                st = self.stages.get(sid)
                if st is None or not st["completed"] or sid in seen:
                    continue  # skipped stages (reused shuffle output) ran no tasks
                seen.add(sid)
                t["stages"] += 1
                t["tasks"] += st["tasks"]
                t["executor_run_s"] += st["run_ms"] / 1e3
                t["executor_cpu_s"] += st["cpu_ns"] / 1e9
                t["gc_s"] += st["gc_ms"] / 1e3
                t["shuffle_write_bytes"] += st["shuffle_write"]
                t["shuffle_read_bytes"] += st["shuffle_read"]
                t["spill_bytes"] += st["spill"]
        return t

    def scope_totals(self, job_ids, scope: str) -> dict:
        """Run and CPU time of the stages of ``job_ids`` whose RDD scope
        names the physical operator ``scope``."""
        run = cpu = 0.0
        stages = set()
        for j in job_ids:
            for sid in self.jobs[j]["stage_ids"]:
                st = self.stages.get(sid)
                if st and st["completed"] and scope in st["scopes"] and sid not in stages:
                    stages.add(sid)
                    run += st["run_ms"] / 1e3
                    cpu += st["cpu_ns"] / 1e9
        return {"stages": len(stages), "run_s": run, "cpu_s": cpu}

    def covered_s(self, job_ids, lo: float | None = None, hi: float | None = None) -> float:
        """Seconds during which at least one of ``job_ids`` ran,
        clipped to [lo, hi] (epoch seconds) when given."""
        ivs = []
        for j in job_ids:
            job = self.jobs[j]
            s, e = job["start"], job["end"] if job["end"] is not None else job["start"]
            if lo is not None:
                s, e = max(s, int(lo * 1e3)), min(e, int(hi * 1e3))
            if e > s:
                ivs.append((s, e))
        return _union_ms(ivs) / 1e3


def _empty_stage() -> dict:
    return {"completed": False, "scopes": [], "tasks": 0, "run_ms": 0, "cpu_ns": 0,
            "gc_ms": 0, "shuffle_write": 0, "shuffle_read": 0, "spill": 0}


def reduce_spans(spans: list[dict], log: EventLog) -> tuple[dict[int, dict], list[str]]:
    """Per-span layer record, inclusive of child spans, and the list of
    spans that fail the self-check.

    Jobs belong to the span named by their description (or their SQL
    execution's); an untagged job belongs to the innermost span open
    when it started.

    Each record has ``wall_s``, ``self_s`` (wall minus the part covered
    by child spans), ``jobs``/``stages``/``tasks``, ``driver_gap_s``
    (wall minus the time covered by running jobs), executor run/CPU/GC
    seconds, shuffle and spill bytes, and ``job_ids``. The self-check:
    the jobs attributed to a span lie inside it, i.e. the job time
    outside the span's interval is within ``TOLERANCE`` of its wall;
    then job time + driver gap = wall holds with that tolerance.
    """
    children: dict[int | None, list[int]] = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s["id"])
    own: dict[int, list[int]] = {s["id"]: [] for s in spans}
    for jid, job in log.jobs.items():
        sid = job["span"]
        if sid is None:
            # an untagged job (a streaming query's) belongs to the
            # innermost span open when it started
            t = job["start"] / 1e3
            open_spans = [s for s in spans if s["start"] <= t <= s["end"]]
            if open_spans:
                sid = max(open_spans, key=lambda s: s["start"])["id"]
        if sid in own:
            own[sid].append(jid)

    def subtree_jobs(sid: int) -> list[int]:
        out = list(own[sid])
        for c in children.get(sid, []):
            out += subtree_jobs(c)
        return out

    records: dict[int, dict] = {}
    failures: list[str] = []
    for s in spans:
        sid = s["id"]
        wall = s["end"] - s["start"]
        jobs = subtree_jobs(sid)
        inside = log.covered_s(jobs, s["start"], s["end"])
        outside = log.covered_s(jobs) - inside
        child_wall = sum(spans[c]["end"] - spans[c]["start"] for c in children.get(sid, []))
        rec = log.job_totals(jobs)
        rec.update(
            wall_s=wall,
            self_s=wall - child_wall,
            job_s=inside,
            driver_gap_s=wall - inside,
            outside_s=outside,
            job_ids=jobs,
        )
        records[sid] = rec
        if outside > TOLERANCE * wall + 0.001 * max(1, len(jobs)):
            failures.append(f"{s['name']}#{sid}: {outside:.3f}s of job time outside a {wall:.3f}s span")
    return records, failures
