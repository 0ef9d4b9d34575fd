"""Spans around the jobs' layer calls, and Spark counters per span.

Spans are recorded from the benchmark's side only: ``Tracer.wrap``
replaces a module-level name that a job calls (``jobs.run_scrub
.write_with_checkpoints`` …) with a timed wrapper for the length of
one traced run, then puts the original back. Spans stay in memory and
are written once, after the run.

Spark's own counters come from its event log (enabled at JVM launch,
uncompressed, so it survives the session restart inside
``jobs/run_scrub.py main()``). Each Spark job is assigned to the
innermost span whose wall-clock interval contains its submission
time; a span's counters are those of its jobs and its children's.
"""

from __future__ import annotations

import functools
import json
import statistics
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

MB = 2**20

# Spark 4.1 PythonSQLMetrics, by display name
PY_RUN = "time to run Python workers"
PY_BOOT = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_SENT = "data sent to Python workers"
PY_ROWS = "number of output rows"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    probe: bool = False  # benchmark-only work, excluded from job time
    rows: int | None = None
    counters: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple] = []

    @contextmanager
    def span(self, name: str, probe: bool = False):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.time(), parent=parent, probe=probe)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()

    def wrap(self, owner, attr: str, name, after=None) -> None:
        """Time every call of ``owner.attr`` as a span. ``name`` is a
        string or a zero-argument callable (per-call names);
        ``after(result, args)`` runs once the span has closed."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name() if callable(name) else name):
                out = fn(*args, **kwargs)
            if after is not None:
                after(out, args)
            return out

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, fn))

    def restore(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    def children(self, i: int | None) -> list[int]:
        return [k for k, s in enumerate(self.spans) if s.parent == i]

    def self_time(self, i: int) -> float:
        return self.spans[i].dur - sum(self.spans[k].dur for k in self.children(i))


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

def read_events(event_dir: Path) -> list[list[dict]]:
    """The events of each application logged under ``event_dir``
    (rolling v2 directories or single files, uncompressed). Job, stage
    and SQL execution ids restart with every SparkContext, so events
    stay grouped by application."""
    def order(p: Path):
        head = p.name.split("_")
        return int(head[1]) if len(head) > 2 and head[1].isdigit() else 0

    apps = defaultdict(list)
    for p in event_dir.rglob("events_*"):
        if p.is_file():
            apps[p.parent if p.parent != event_dir else p].append(p)
    out = []
    for files in apps.values():
        events = []
        for p in sorted(files, key=order):
            with open(p) as f:
                events.extend(json.loads(line) for line in f if line.strip())
        out.append(events)
    return out


def _walk(plan: dict):
    yield plan
    for c in plan.get("children", []):
        yield from _walk(c)


def _plan_metrics(events: list[dict], input_path: str) -> dict[int, str]:
    """accumulator id → role, for the SQL metrics the layers report:
    rows out of a scan of the benchmark input, and the Python UDF
    metrics."""
    roles: dict[int, str] = {}
    for e in events:
        info = e.get("sparkPlanInfo")
        if info is None:
            continue
        for node in _walk(info):
            name = node.get("nodeName", "")
            is_input_scan = (name.startswith("Scan") and input_path in
                             node.get("metadata", {}).get("Location", ""))
            # every Python-executing node (ArrowEvalPython, MapInPandas, …)
            # carries the PythonSQLMetrics
            is_python = any(m["name"] == PY_RUN for m in node.get("metrics", []))
            for m in node.get("metrics", []):
                mid, mname, mtype = m["accumulatorId"], m["name"], m["metricType"]
                if is_input_scan and mname == "number of output rows":
                    roles[mid] = "scan_rows"
                elif is_input_scan and mname == "size of files read":
                    roles[mid] = "scan_bytes"
                elif is_python and mname in (PY_RUN, PY_BOOT, PY_INIT, PY_SENT):
                    roles[mid] = f"{mname}|{mtype}"
                elif is_python and mname == PY_ROWS:
                    roles[mid] = "py_rows"
    return roles


def _metric_value(role: str, v: float) -> float:
    """Normalise a SQL metric to seconds or bytes."""
    mtype = role.rsplit("|", 1)[-1]
    return v / 1e9 if mtype == "nsTiming" else v / 1e3 if mtype == "timing" else v


def _task_counters(c: Counter, e: dict, roles: dict[int, str]) -> None:
    info, tm = e["Task Info"], e.get("Task Metrics") or {}
    c["tasks"] += 1
    c["failed_tasks"] += int(e["Task End Reason"]["Reason"] != "Success")
    c["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
    c["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
    c["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
    c["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / MB
    sr, sw = tm.get("Shuffle Read Metrics", {}), tm.get("Shuffle Write Metrics", {})
    c["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB
    c["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
    c["rows_written"] += tm.get("Output Metrics", {}).get("Records Written", 0)
    for acc in info.get("Accumulables", []):
        role = roles.get(acc["ID"])
        if role is not None and role != "scan_bytes":
            c[role.split("|")[0]] += _metric_value(role, float(acc["Update"]))


def attribute(tracer: Tracer, apps: list[list[dict]], input_path: str) -> None:
    """Fill ``Span.counters`` with each span's inclusive Spark counters."""
    spans = tracer.spans

    def owner(t: float) -> int | None:
        best = None
        for k, s in enumerate(spans):
            if s.start <= t <= s.end and (best is None or s.start >= spans[best].start):
                best = k
        return best

    roles = _plan_metrics([e for app in apps for e in app], input_path)
    stage_span: dict[tuple, int | None] = {}
    stage_times: dict[tuple, tuple[float, float]] = {}
    own = defaultdict(Counter)
    task_durs = defaultdict(list)
    for a, events in enumerate(apps):
        exec_span = {}
        for e in events:
            ev = e["Event"]
            if ev.endswith("SQLExecutionStart"):
                k = exec_span[e["executionId"]] = owner(e["time"] / 1e3)
                own[k]["queries"] += 1
            elif ev.endswith("DriverAccumUpdates"):
                for mid, v in e["accumUpdates"]:
                    if roles.get(mid) == "scan_bytes":
                        own[exec_span.get(e["executionId"])]["input_mb"] += v / MB
            elif ev == "SparkListenerJobStart":
                k = owner(e["Submission Time"] / 1e3)
                for sid in e["Stage IDs"]:
                    stage_span[a, sid] = k
                own[k]["jobs"] += 1
            elif ev == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                if "Submission Time" in si and "Completion Time" in si:
                    stage_times[a, si["Stage ID"]] = (si["Submission Time"], si["Completion Time"])
            elif ev == "SparkListenerTaskEnd":
                _task_counters(own[stage_span.get((a, e["Stage ID"]))], e, roles)
                info = e["Task Info"]
                task_durs[a, e["Stage ID"]].append(info["Finish Time"] - info["Launch Time"])

    # inclusive counters: a span's own jobs plus its descendants'
    # (probe work stays out of its parents' totals)
    for k in reversed(range(len(spans))):
        total = Counter(own.get(k, {}))
        for ch in tracer.children(k):
            if not spans[ch].probe:
                total.update(spans[ch].counters)
        spans[k].counters = dict(total)
    # task skew: max/median task time in the span's slowest stage
    stages_of = defaultdict(list)
    for sid, k in stage_span.items():
        while k is not None:
            stages_of[k].append(sid)
            k = spans[k].parent
    for k, sids in stages_of.items():
        timed = [s for s in sids if s in stage_times and task_durs.get(s)]
        if timed:
            slow = max(timed, key=lambda s: stage_times[s][1] - stage_times[s][0])
            med = statistics.median(task_durs[slow])
            spans[k].counters["task_skew"] = max(task_durs[slow]) / med if med > 0 else 1.0


def dump(tracer: Tracer, path: Path, extra: dict) -> None:
    """Write the spans (with self time) once, after the run."""
    rows = [{"name": s.name, "start": s.start, "end": s.end, "dur_s": s.dur,
             "self_s": tracer.self_time(k), "parent": s.parent, "probe": s.probe,
             "rows": s.rows, "counters": s.counters}
            for k, s in enumerate(tracer.spans)]
    path.write_text(json.dumps({"spans": rows, **extra}, indent=1))
