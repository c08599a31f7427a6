"""The benchmark's own checks catch what they are meant to catch, and
the event-log reducer's arithmetic holds on a hand-written log. No
Spark session is needed.

    python3 -m pytest perfbench/test_checks.py -q -p no:cacheprovider
"""

from __future__ import annotations

from perfbench.trace import EventLog, reduce_spans
from perfbench.workloads import STREAM_DOCS_PER_EPOCH, check_stream, tail


def _manifest():
    n = STREAM_DOCS_PER_EPOCH
    return {0: {"rows": n, "planted": []},
            1: {"rows": n, "planted": [n, n + 1]}}


def _export(drop_planted=True):
    n = STREAM_DOCS_PER_EPOCH
    e1 = list(range(n + 2, 2 * n)) if drop_planted else list(range(n, 2 * n))
    return {0: {"train": list(range(n - 5)), "val": list(range(n - 5, n))},
            1: {"train": e1}}


def test_stream_check_accepts_a_correct_export():
    assert check_stream(_manifest(), _export()) == []


def test_stream_check_flags_a_surviving_duplicate():
    problems = check_stream(_manifest(), _export(drop_planted=False))
    assert any("planted duplicates survived" in p for p in problems)


def test_stream_check_flags_a_row_in_two_splits():
    export = _export()
    export[0]["test"] = [0]
    assert any("more than one split" in p for p in check_stream(_manifest(), export))


def test_stream_check_flags_a_lost_row():
    export = _export()
    export[0]["val"].pop()
    assert check_stream(_manifest(), export)


def test_tail_has_ten_samples_beyond_it():
    xs = [float(i) for i in range(100)]
    value, pct = tail(xs)
    assert sum(x > value for x in xs) == 10
    assert pct == 90.0
    assert tail([float(i) for i in range(20)]) == (19.0, 100.0)


def _job(jid, start, end, desc, stage):
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": start,
         "Stage IDs": [stage], "Properties": {"spark.job.description": desc}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": stage, "RDD Info": [
             {"Scope": '{"id":"1","name":"MapInPandas"}'}]}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
            "Executor Run Time": 300, "Executor CPU Time": 200_000_000,
            "JVM GC Time": 10, "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 64},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 32}}},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end},
    ]


def test_reducer_attributes_jobs_and_splits_wall_time():
    spans = [
        {"id": 0, "name": "outer", "parent": None, "start": 10.0, "end": 12.0},
        {"id": 1, "name": "inner", "parent": 0, "start": 10.5, "end": 11.5},
    ]
    log = EventLog(_job(0, 10_100, 10_400, "perfbench#0", 0)
                   + _job(1, 10_600, 11_000, "perfbench#1", 1))
    records, failures = reduce_spans(spans, log)
    assert failures == []
    outer, inner = records[0], records[1]
    assert (outer["jobs"], inner["jobs"]) == (2, 1)
    assert abs(outer["job_s"] - 0.7) < 1e-9 and abs(outer["driver_gap_s"] - 1.3) < 1e-9
    assert abs(outer["self_s"] - 1.0) < 1e-9
    assert outer["shuffle_write_bytes"] == 128 and inner["executor_cpu_s"] == 0.2
    assert log.scope_totals([0, 1], "MapInPandas")["stages"] == 2


def test_reducer_flags_a_job_outside_its_span():
    spans = [{"id": 0, "name": "s", "parent": None, "start": 10.0, "end": 11.0}]
    log = EventLog(_job(0, 10_500, 12_000, "perfbench#0", 0))
    _, failures = reduce_spans(spans, log)
    assert failures
