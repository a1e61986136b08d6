"""Self-tests of the benchmark's own logic; no Spark session needed.

Run with: python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pytest  # noqa: E402

from layers import (  # noqa: E402
    Recorder, Span, attribute, call_metrics, layer_table, read_event_log, reconcile,
)
from oracle import digest  # noqa: E402
from run import fail_count, main, p90_supported, percentile  # noqa: E402


# -- percentile rule ---------------------------------------------------------


def test_percentile_nearest_rank():
    values = list(range(1, 101))  # 1..100
    assert percentile(values, 50) == 50
    assert percentile(values, 90) == 90
    assert percentile(values, 100) == 100
    assert percentile([7.0], 90) == 7.0
    assert percentile([3, 1, 2], 50) == 2  # unsorted input


def test_percentile_rejects_empty():
    with pytest.raises(ValueError):
        percentile([], 50)


def test_p90_needs_ten_samples_beyond_it():
    assert not p90_supported(99)
    assert p90_supported(100)
    assert not p90_supported(10)
    # at the threshold, exactly ten samples lie above the reported one
    values = list(range(100))
    p90 = percentile(values, 90)
    assert sum(v > p90 for v in values) == 10


# -- failure counting --------------------------------------------------------


def test_fail_count_counts_errors_and_mismatches():
    outcomes = [
        {"error": None, "match": True},
        {"error": "ValueError: boom", "match": False},
        {"error": None, "match": False},
        {"error": None, "match": True},
    ]
    assert fail_count(outcomes) == 2


def test_digest_is_order_insensitive_and_value_sensitive():
    a = digest(["x", "y"], [(1, "a"), (2, "b")])
    b = digest(["y", "x"], [("b", 2), ("a", 1)])
    assert a == b
    assert digest(["x", "y"], [(1, "a"), (2, "c")]) != a
    assert digest(["x"], [(1.0,), (None,)])[0] == 2


# -- trace attribution and reconciliation -----------------------------------


def _event_log(tmp_path, events) -> str:
    d = tmp_path / "eventlog" / "app-1"
    d.mkdir(parents=True)
    with open(d / "events_1_app-1", "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")
    return str(tmp_path / "eventlog")


def _job(job_id, group, start_s, end_s, stage):
    props = {"spark.jobGroup.id": group} if group else {}
    return [
        {"Event": "SparkListenerJobStart", "Job ID": job_id, "Submission Time": start_s * 1000,
         "Stage IDs": [stage], "Properties": props},
        {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
         "Task End Reason": {"Reason": "Success"},
         "Task Info": {"Accumulables": [
             {"Name": "data sent to Python workers", "Update": "100"},
             {"Name": "number of output rows", "Update": "7"}]},
         "Task Metrics": {"Executor Run Time": 300, "JVM GC Time": 10,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 64}}},
        {"Event": "SparkListenerJobEnd", "Job ID": job_id, "Completion Time": end_s * 1000},
    ]


def _spans():
    op = Span(0, "op", "ingest", 100.0, 101.0)
    c1 = Span(1, "call", "sources", 100.0, 100.6, parent=0, group="perfbench-1")
    c2 = Span(2, "call", "quality", 100.6, 101.0, parent=0, group="perfbench-2")
    return op, [c1, c2]


def test_jobs_attributed_by_group_then_by_time(tmp_path):
    events = (_job(0, "perfbench-1", 100.1, 100.5, 0)
              + _job(1, None, 100.7, 100.9, 1)       # untagged, inside call 2
              + _job(2, None, 99.0, 99.5, 2))        # before any call
    jobs = read_event_log(_event_log(tmp_path, events))
    op, calls = _spans()
    by_call, counts = attribute(jobs, calls)
    assert counts == {"tagged": 1, "untagged": 1, "unattributed": 1}
    assert [j.group for j in by_call[1]] == ["perfbench-1"]
    assert len(by_call[2]) == 1
    m = call_metrics(calls[0], by_call[1])
    assert m["jobs"] == 1 and m["tasks"] == 1
    assert m["executor_s"] == pytest.approx(0.3)
    assert m["python_bytes"] == 100
    assert m["shuffle_bytes"] == 64
    assert m["driver_gap_s"] == pytest.approx(0.6 - 0.4)


def _reconcile(tmp_path, events, ops, calls):
    jobs = read_event_log(_event_log(tmp_path, events))
    by_call, _ = attribute(jobs, calls)
    per_call = {c.id: call_metrics(c, by_call[c.id]) for c in calls}
    return reconcile(ops, calls, per_call, jobs), per_call


def test_reconcile_accepts_covered_op_and_flags_gaps(tmp_path):
    events = _job(0, "perfbench-1", 100.1, 100.5, 0) + _job(1, "perfbench-2", 100.7, 100.9, 1)
    op, calls = _spans()
    [row], per_call = _reconcile(tmp_path / "a", events, [op], calls)
    assert row["ok"] and row["err"] == pytest.approx(0.0)
    assert row["log_job_s"] == pytest.approx(0.6)
    table = layer_table(calls, per_call)
    assert table["sources"]["busy_s"] + table["quality"]["busy_s"] == pytest.approx(op.wall)

    # an op whose calls cover only 80% of its wall time does not reconcile
    long_op = Span(0, "op", "ingest", 100.0, 101.25)
    [row], _ = _reconcile(tmp_path / "b", events, [long_op], calls)
    assert not row["ok"] and row["err"] == pytest.approx(0.2)

    # a job running well outside its call does not reconcile either
    stray = _job(0, "perfbench-1", 100.1, 100.9, 0)
    [row], _ = _reconcile(tmp_path / "c", stray, [op], calls)
    assert not row["ok"] and row["overrun"] > 0.05


def test_reconcile_flags_a_job_given_to_another_op(tmp_path):
    # the job runs inside op 0 but carries the group of op 3's call
    op, calls = _spans()
    other = Span(3, "op", "write", 102.0, 103.0)
    calls.append(Span(4, "call", "sources", 102.0, 103.0, parent=3, group="perfbench-4"))
    events = _job(0, "perfbench-4", 100.1, 100.5, 0)
    rows, _ = _reconcile(tmp_path, events, [op, other], calls)
    assert not rows[0]["ok"] and rows[0]["err"] == pytest.approx(0.4)
    assert not rows[1]["ok"] and rows[1]["overrun"] > 0.05


def test_recorder_nests_calls_in_ops():
    rec = Recorder()
    with rec.op("step"):
        assert rec.call("quality", lambda x: x + 1, 1) == 2
    op, call = rec.spans
    assert call.parent == op.id and call.name == "quality"
    assert op.start <= call.start <= call.end <= op.end
    with pytest.raises(ValueError):
        rec.call("no.such.layer", lambda: None)


class _GroupLog:
    """Stands in for a SparkContext: records the job group set last."""

    def __init__(self):
        self.groups = []

    def setJobGroup(self, group, description):
        self.groups.append(group)


def test_nested_call_restores_outer_job_group():
    sc = _GroupLog()
    rec = Recorder(sc, traced=True)
    with rec.op("step"):
        rec.call("operators.similarity", lambda: rec.call("sources", lambda: None))
    op, outer, inner = rec.spans
    assert inner.parent == outer.id and outer.parent == op.id
    assert sc.groups == [outer.group, inner.group, outer.group]


# -- command line ------------------------------------------------------------


def test_refuses_to_run_without_the_package(tmp_path, monkeypatch, capsys):
    monkeypatch.chdir(tmp_path)
    assert main(["--workload", "lake_etl", "--seed", "1", "--seconds", "1"]) != 0
    assert capsys.readouterr().out == ""
