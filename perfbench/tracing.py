"""Spans, job-group tagging and the Spark event-log reader of the traced run.

Spans are kept in memory (name, start, end, parent, op id) and written out
when the run ends. Every operation runs under its own Spark job group, so
the event log (enabled only in the traced run) attributes jobs, stages,
task time, shuffle, spill and scan metrics to the operation that caused
them.
"""

from __future__ import annotations

import contextlib
import glob
import json
import math
import statistics
import time
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    op: str | None


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes ``span`` a bare
    timer, so the untraced run pays only a clock read."""

    def __init__(self, enabled: bool = False):
        self.enabled = enabled
        self.sc = None  # the SparkContext job groups are set on
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op: str | None = None
        self._n_ops = 0

    @contextlib.contextmanager
    def op(self, name: str):
        """A top-level operation: opens a job group and a root span."""
        self._n_ops += 1
        op_id = f"op{self._n_ops:05d}"
        if self.enabled:
            self.sc.setJobGroup(op_id, name, interruptOnCancel=False)
        self._op = op_id
        try:
            with self.span(name) as box:
                yield box
        finally:
            self._op = None
            if self.enabled:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextlib.contextmanager
    def span(self, name: str):
        """Time a block; yields a one-item list that receives the duration."""
        box = [0.0]
        t0 = time.time()
        if self.enabled:
            idx = len(self.spans)
            self.spans.append(
                Span(name, t0, t0, self._stack[-1] if self._stack else None, self._op)
            )
            self._stack.append(idx)
        try:
            yield box
        finally:
            t1 = time.time()
            box[0] = t1 - t0
            if self.enabled:
                self._stack.pop()
                self.spans[idx].end = t1

    def self_times(self) -> list[float]:
        """Per span: duration minus the part of it its children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append((s.start, s.end))
        return [
            (s.end - s.start) - covered(kids.get(i, []), s.start, s.end)
            for i, s in enumerate(self.spans)
        ]

    def records(self) -> list[dict]:
        """Every span with its self time, for writing out."""
        return [{**s.__dict__, "self_s": st} for s, st in zip(self.spans, self.self_times())]


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def tail(samples: list[float], beyond: int = 10):
    """The highest whole percentile p >= 50 with at least ``beyond``
    samples above its nearest-rank value: (p, value, n), or None when the
    sample is too small for any."""
    xs = sorted(samples)
    n = len(xs)
    for p in range(99, 49, -1):
        k = math.ceil(p / 100 * n)
        if k >= 1 and n - k >= beyond:
            return p, xs[k - 1], n
    return None


# ------------------------------------------------------------------ event log


@dataclass
class JobStats:
    """One Spark job from the event log, with the work of its stages."""

    group: str | None
    start: float  # epoch seconds
    end: float
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    output_rows: int = 0
    scan_rows: int = 0
    files_read: int = 0


_SCAN_METRICS = {"number of output rows": "scan_rows", "number of files read": "files_read"}


def read_event_logs(log_dir: str) -> list[JobStats]:
    """Every job of every event log in ``log_dir``: its job group, start
    and end, stage and task counts, executor run time, shuffle written,
    spill, input and output bytes, rows written, and the rows and files
    its scans read (from the scan nodes' SQL metrics)."""
    jobs: list[JobStats] = []
    for path in sorted(glob.glob(f"{log_dir}/*")):
        by_id: dict[int, JobStats] = {}
        stage_job: dict[int, JobStats] = {}
        exec_job: dict[int, JobStats] = {}  # SQL execution -> its first job
        scan_acc: dict[int, str] = {}  # accumulator id -> JobStats field
        accum_updates: list[tuple[int, list]] = []
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    t0 = ev["Submission Time"] / 1000.0
                    job = by_id[ev["Job ID"]] = JobStats(props.get("spark.jobGroup.id"), t0, t0)
                    jobs.append(job)
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = job
                    eid = props.get("spark.sql.execution.id")
                    if eid is not None:
                        exec_job.setdefault(int(eid), job)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in by_id:
                        by_id[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    job = stage_job.get(ev["Stage Info"]["Stage ID"])
                    if job is not None:
                        job.stages += 1
                elif kind == "SparkListenerTaskEnd":
                    job = stage_job.get(ev["Stage ID"])
                    if job is None:
                        continue
                    job.tasks += 1
                    m = ev.get("Task Metrics") or {}
                    job.task_s += m.get("Executor Run Time", 0) / 1000.0
                    job.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    job.spill_bytes += m.get("Disk Bytes Spilled", 0)
                    job.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    om = m.get("Output Metrics") or {}
                    job.output_bytes += om.get("Bytes Written", 0)
                    job.output_rows += om.get("Records Written", 0)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        fld = scan_acc.get(acc.get("ID"))
                        if fld is not None and acc.get("Update") is not None:
                            setattr(job, fld, getattr(job, fld) + int(acc["Update"]))
                elif kind.endswith(("SparkListenerSQLExecutionStart",
                                    "SparkListenerSQLAdaptiveExecutionUpdate")):
                    _collect_scan_accs(ev.get("sparkPlanInfo") or {}, scan_acc)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    accum_updates.append((ev["executionId"], ev["accumUpdates"]))
        for eid, updates in accum_updates:
            job = exec_job.get(eid)
            for acc_id, value in updates:
                if job is not None and scan_acc.get(acc_id) == "files_read":
                    job.files_read += int(value)
    return jobs


def _collect_scan_accs(node: dict, out: dict) -> None:
    if node.get("nodeName", "").startswith("Scan "):
        for m in node.get("metrics", []):
            fld = _SCAN_METRICS.get(m.get("name"))
            if fld is not None:
                out[m["accumulatorId"]] = fld
    for child in node.get("children", []):
        _collect_scan_accs(child, out)


# ------------------------------------------------------------------ per-operation view

COUNTERS = ("jobs", "stages", "tasks", "task_s", "shuffle_bytes", "spill_bytes",
            "input_bytes", "output_bytes", "output_rows", "scan_rows", "files_read")


def op_records(tracer: Tracer, jobs: list[JobStats]) -> list[dict]:
    """One record per top-level span: name, duration, self time, the
    duration of each child span, job-covered time and Spark counters.

    A job belongs to the operation whose job group it carries. Jobs of a
    group the tracer did not set (a streaming query runs under its own)
    belong to the operation that was running when they were submitted;
    with one client, that is the operation that caused them."""
    selfs = tracer.self_times()
    kids: dict[int, dict[str, float]] = {}
    for s in tracer.spans:
        if s.parent is not None:
            k = kids.setdefault(s.parent, {})
            k[s.name] = k.get(s.name, 0.0) + (s.end - s.start)
    ours = {s.op for s in tracer.spans}
    out = []
    for i, s in enumerate(tracer.spans):
        if s.parent is not None:
            continue
        mine = [j for j in jobs if j.group == s.op
                or (j.group not in ours and s.start <= j.start <= s.end)]
        rec = {
            "name": s.name,
            "s": s.end - s.start,
            "self_s": selfs[i],
            "job_s": covered([(j.start, j.end) for j in mine], s.start, s.end),
            "kids": kids.get(i, {}),
            "jobs": len(mine),
        }
        for f in COUNTERS[1:]:
            rec[f] = sum(getattr(j, f) for j in mine)
        out.append(rec)
    return out


def summarize(records: list[dict]) -> dict:
    """Median time, median child times and mean Spark counters per call."""
    if not records:
        return {"n": 0}
    n = len(records)
    kid_names = sorted({k for r in records for k in r["kids"]})
    return {
        "n": n,
        "s_p50": statistics.median(r["s"] for r in records),
        "self_s_p50": statistics.median(r["self_s"] for r in records),
        **{f"{k}_s_p50": statistics.median(r["kids"].get(k, 0.0) for r in records) for k in kid_names},
        **{f"{f}_per_call": sum(r[f] for r in records) / n for f in COUNTERS},
    }


def by_name(records: list[dict]) -> dict[str, dict]:
    names = sorted({r["name"] for r in records})
    return {nm: summarize([r for r in records if r["name"] == nm]) for nm in names}
