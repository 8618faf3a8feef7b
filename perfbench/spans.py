"""In-memory spans around every call the benchmark makes into a layer, plus
the Spark event log read back as child spans and per-op-kind task metrics.

A span is (id, parent, name, start, end). While a span is open the Spark job
group is set to its id, so every job it submits can be tied back to it
through the event log. Spans are written out only when the run ends.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: str
    parent: str | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; when disabled `span` only yields."""

    def __init__(self, sc=None, enabled: bool = True):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(f"s{len(self.spans)}", parent.id if parent else None, name, time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(s.id, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(parent.id, parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def record(self, name: str, parent: str, start: float, end: float) -> None:
        """Add a closed span measured elsewhere (no job group is set)."""
        if self.enabled:
            self.spans.append(Span(f"s{len(self.spans)}", parent, name, start, end))


def _union_length(intervals) -> float:
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


def self_times(spans) -> dict[str, float]:
    """Span id -> its duration minus the part of it its children cover.
    Children may overlap each other (parallel jobs); the covered part is
    the union of their intervals clipped to the parent."""
    kids = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out = {}
    for s in spans:
        covered = _union_length(
            (max(c.start, s.start), min(c.end, s.end))
            for c in kids[s.id]
            if c.end > s.start and c.start < s.end
        )
        out[s.id] = s.dur - covered
    return out


def self_time_by_name(spans) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.name] += st[s.id]
    return dict(out)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

# SQL metric names of the Python plan nodes (PythonSQLMetrics)
_PY_METRICS = {
    "data sent to Python workers": "python_sent_bytes",
    "data returned from Python workers": "python_received_bytes",
    "time to run Python workers": "python_exec_s",
    "time to start Python workers": "python_boot_s",
}
_PY_TIMES = {"python_exec_s", "python_boot_s"}


def read_event_log(log_dir: str) -> list[dict]:
    """Events of every log under `log_dir`: plain logs and the directories
    of rolled `events_*` files; checksum and status files are skipped."""
    events = []
    for root, dirs, files in os.walk(log_dir):
        dirs.sort()
        for name in sorted(files):
            if not name.startswith((".", "appstatus_")):
                events.extend(_read_lines(os.path.join(root, name)))
    return events


def _read_lines(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def engine_spans_and_metrics(events, spans):
    """Turn event-log jobs and stages into child spans of the benchmark span
    that submitted them, and sum task metrics per op kind (the name of the
    top-level span the job ran under).

    Returns (extra_spans, {kind: {metric: value}}, {stage id: [task run
    times]})."""
    by_id = {s.id: s for s in spans}

    def top(sid):
        s = by_id[sid]
        while s.parent is not None:
            s = by_id[s.parent]
        return s

    job_group, job_stages, job_start, job_end = {}, {}, {}, {}
    stage_job, stage_span = {}, {}
    stage_tasks = defaultdict(list)
    task_metrics = defaultdict(lambda: defaultdict(float))
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if gid in by_id:
                job_group[jid] = gid
                job_stages[jid] = ev.get("Stage IDs", [])
                job_start[jid] = ev["Submission Time"] / 1000.0
                for st in job_stages[jid]:
                    stage_job.setdefault(st, jid)
        elif kind == "SparkListenerJobEnd":
            job_end[ev["Job ID"]] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            if sid in stage_job and "Submission Time" in info:
                stage_span[sid] = (info["Submission Time"] / 1000.0, info["Completion Time"] / 1000.0)
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            jid = stage_job.get(sid)
            if jid is None:
                continue
            op = top(job_group[jid]).name
            tm = ev.get("Task Metrics") or {}
            m = task_metrics[op]
            m["tasks"] += 1
            m["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            run_s = tm.get("Executor Run Time", 0) / 1000.0
            m["task_run_s"] += run_s
            m["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
            m["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            m["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            m["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
            m["output_bytes"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                key = _PY_METRICS.get(acc.get("Name"))
                if key is not None:
                    v = float(acc.get("Update", 0) or 0)
                    m[key] += v / 1000.0 if key in _PY_TIMES else v
            stage_tasks[sid].append(run_s)

    extra = []
    for jid, gid in job_group.items():
        if jid not in job_end:
            continue
        jspan = Span(f"j{jid}", gid, "spark.job", job_start[jid], job_end[jid])
        extra.append(jspan)
        for st in job_stages[jid]:
            if st in stage_span:
                extra.append(
                    Span(f"j{jid}st{st}", jspan.id, "spark.stage", *stage_span[st], attrs={"stage": st})
                )
    for op, m in task_metrics.items():
        jobs = {j for j, g in job_group.items() if top(g).name == op}
        m["jobs"] = len(jobs)

    return extra, {k: dict(v) for k, v in task_metrics.items()}, dict(stage_tasks)
