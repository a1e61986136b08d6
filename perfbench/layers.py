"""Spans kept by the benchmark and per-layer metrics from the Spark
event log.

The benchmark measures the engine from outside: it wraps every call it
makes into a layer's public function in a span and, in a traced run,
gives the call its own Spark job group. After the run the event log is
parsed and each job, with its stages and tasks, is attributed to the
call whose job group it carries. A job without a known group (started
on a thread the engine spawned, or by a streaming query) is attributed
to the call whose interval contains its submission; a single
closed-loop client makes that unambiguous.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

LAYERS = (
    "sources",
    "quality",
    "streaming",
    "pipelines.immigration",
    "pipelines.corpus",
    "operators.dedup",
    "operators.similarity",
    "operators.textstats",
    "operators.training",
    "operators.sampling",
    "plans",
)
LAYER_FIELDS = (
    "calls", "busy_s", "jobs", "tasks", "executor_s", "driver_gap_s",
    "shuffle_bytes", "python_bytes", "gc_s", "failed_tasks",
)
PYTHON_BYTES_ACCUMULABLES = (
    "data sent to Python workers",
    "data returned from Python workers",
)
RECONCILE_TOLERANCE = 0.05
# Event-log times have millisecond resolution at both ends of a job.
_CLOCK_SLACK_S = 0.002


@dataclass
class Span:
    id: int
    kind: str  # "op" or "call"
    name: str  # op name, or layer name for a call
    start: float
    end: float = 0.0
    parent: int | None = None
    pass_idx: int = 0
    part: str = ""  # "build" / "action" for plans calls
    group: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Recorder:
    """Spans of one run, held in memory until the run ends."""

    def __init__(self, sc=None, traced: bool = False):
        self.sc = sc
        self.traced = traced
        self.spans: list[Span] = []
        self._op: Span | None = None
        self._calls: list[Span] = []
        self.pass_idx = 0

    @contextmanager
    def op(self, name: str):
        span = Span(len(self.spans), "op", name, time.time(), pass_idx=self.pass_idx)
        self.spans.append(span)
        self._op = span
        try:
            yield span
        finally:
            span.end = time.time()
            self._op = None

    def call(self, layer: str, fn, *args, part: str = "", **kwargs):
        """Run ``fn(*args, **kwargs)`` as one call into ``layer``. A call
        made inside another is its child, and the outer call's job
        group is restored when it returns."""
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}")
        outer = self._calls[-1] if self._calls else self._op
        span = Span(len(self.spans), "call", layer, 0.0, parent=outer.id if outer else None,
                    pass_idx=self.pass_idx, part=part)
        if self.traced:
            span.group = f"perfbench-{span.id}"
            self.sc.setJobGroup(span.group, f"{layer} {part}".strip())
        self.spans.append(span)
        self._calls.append(span)
        span.start = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            span.end = time.time()
            self._calls.pop()
            if self.traced and self._calls:
                self.sc.setJobGroup(self._calls[-1].group, self._calls[-1].name)

    def ops(self) -> list[Span]:
        return [s for s in self.spans if s.kind == "op"]

    def calls(self) -> list[Span]:
        return [s for s in self.spans if s.kind == "call"]

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


@dataclass
class Job:
    id: int
    group: str | None
    start: float
    end: float = 0.0
    tasks: int = 0
    failed_tasks: int = 0
    executor_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    python_bytes: int = 0
    rows_written: int = 0


def read_event_log(log_dir: str) -> dict[int, Job]:
    """Jobs of every application logged under ``log_dir``, with their
    task totals. Reads plain (uncompressed) event-log files, rolled or
    single."""
    files = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")
    )
    jobs: dict[int, Job] = {}
    stage_job: dict[tuple[str, int], int] = {}
    for path in files:
        app = os.path.dirname(path)
        with open(path, encoding="utf-8") as f:
            for line in f:
                _apply_event(json.loads(line), app, jobs, stage_job)
    return jobs


def _apply_event(ev: dict, app: str, jobs: dict, stage_job: dict) -> None:
    kind = ev.get("Event")
    if kind == "SparkListenerJobStart":
        props = ev.get("Properties") or {}
        key = (app, ev["Job ID"])
        jid = len(jobs)
        jobs[jid] = Job(jid, props.get("spark.jobGroup.id"), ev["Submission Time"] / 1000)
        stage_job[key] = jid
        for sid in ev.get("Stage IDs", []):
            stage_job[(app, "stage", sid)] = jid
    elif kind == "SparkListenerJobEnd":
        jid = stage_job.get((app, ev["Job ID"]))
        if jid is not None:
            jobs[jid].end = ev["Completion Time"] / 1000
    elif kind == "SparkListenerTaskEnd":
        jid = stage_job.get((app, "stage", ev["Stage ID"]))
        if jid is None:
            return
        job = jobs[jid]
        job.tasks += 1
        if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
            job.failed_tasks += 1
        m = ev.get("Task Metrics") or {}
        job.executor_s += m.get("Executor Run Time", 0) / 1000
        job.gc_s += m.get("JVM GC Time", 0) / 1000
        job.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        job.rows_written += (m.get("Output Metrics") or {}).get("Records Written", 0)
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            if acc.get("Name") in PYTHON_BYTES_ACCUMULABLES:
                job.python_bytes += int(acc.get("Update") or 0)


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
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


def attribute(jobs: dict[int, Job], calls: list[Span]) -> tuple[dict[int, list[Job]], dict]:
    """Map each call's span id to its jobs. Returns (by_call, counts)."""
    by_group = {c.group: c for c in calls if c.group}
    ordered = sorted(calls, key=lambda c: c.start)
    by_call: dict[int, list[Job]] = {c.id: [] for c in calls}
    counts = {"tagged": 0, "untagged": 0, "unattributed": 0}
    for job in jobs.values():
        call = by_group.get(job.group)
        if call is not None:
            counts["tagged"] += 1
        else:
            call = next(
                (c for c in ordered
                 if c.start - _CLOCK_SLACK_S <= job.start <= c.end + _CLOCK_SLACK_S),
                None,
            )
            if call is None:
                counts["unattributed"] += 1
                continue
            counts["untagged"] += 1
        by_call[call.id].append(job)
    return by_call, counts


def call_metrics(call: Span, jobs: list[Job]) -> dict:
    """The per-layer fields of one call; ``job_s`` is the union of its
    jobs' intervals clipped to the call, ``overrun_s`` how far the
    unclipped jobs reach outside the call."""
    clipped = [(max(j.start, call.start), min(j.end or call.end, call.end)) for j in jobs]
    job_s = _union_s([iv for iv in clipped if iv[1] > iv[0]])
    overrun = max(
        [0.0] + [max(call.start - j.start, (j.end or call.end) - call.end) for j in jobs]
    )
    return {
        "calls": 1,
        "busy_s": call.wall,
        "jobs": len(jobs),
        "tasks": sum(j.tasks for j in jobs),
        "executor_s": sum(j.executor_s for j in jobs),
        "driver_gap_s": call.wall - job_s,
        "job_s": job_s,
        "overrun_s": overrun,
        "shuffle_bytes": sum(j.shuffle_bytes for j in jobs),
        "python_bytes": sum(j.python_bytes for j in jobs),
        "gc_s": sum(j.gc_s for j in jobs),
        "failed_tasks": sum(j.failed_tasks for j in jobs),
        "rows_written": sum(j.rows_written for j in jobs),
    }


def reconcile(ops: list[Span], calls: list[Span], per_call: dict[int, dict],
              jobs: dict[int, Job], tolerance: float = RECONCILE_TOLERANCE) -> list[dict]:
    """Per op, check the attribution against the event log on its own.

    ``log_job_s`` is the union of the intervals of every logged job,
    whatever its group, clipped to the op; ``job_s`` is the same for the
    jobs attributed to the op's calls. They differ when a job is lost or
    given to another op's call. ``outside_s`` is op wall time spent
    outside any layer call. So the op's wall time must equal
    ``log_job_s`` plus its calls' driver gaps within ``tolerance``:
    ``err`` is the share of wall time the two miss by, plus
    ``outside_s``. ``overrun`` is the largest share of a call's wall
    time its jobs ran outside it."""
    rows = []
    for op in ops:
        mine = [c for c in calls if c.parent == op.id]
        busy_s = sum(c.wall for c in mine)
        job_s = sum(per_call[c.id]["job_s"] for c in mine)
        log_job_s = _union_s([
            (max(j.start, op.start), min(j.end or op.end, op.end)) for j in jobs.values()
            if j.start < op.end and (j.end or op.end) > op.start
        ])
        outside_s = max(op.wall - busy_s, 0.0)
        err = (abs(log_job_s - job_s) + outside_s) / op.wall if op.wall > 0 else 0.0
        overrun = max([0.0] + [
            per_call[c.id]["overrun_s"] / max(c.wall, _CLOCK_SLACK_S / tolerance)
            for c in mine
        ])
        rows.append({
            "op": op.name, "pass": op.pass_idx, "wall_s": op.wall, "busy_s": busy_s,
            "job_s": job_s, "log_job_s": log_job_s, "driver_gap_s": busy_s - job_s,
            "outside_s": outside_s, "err": err, "overrun": overrun,
            "ok": err <= tolerance and overrun <= tolerance,
        })
    return rows


def layer_table(calls: list[Span], per_call: dict[int, dict]) -> dict[str, dict]:
    table = {lay: {f: 0 for f in LAYER_FIELDS} | {"rows_written": 0} for lay in LAYERS}
    for c in calls:
        row = table[c.name]
        for k, v in per_call[c.id].items():
            if k in row:
                row[k] += v
    return table
