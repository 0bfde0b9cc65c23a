"""Tracing for the traced benchmark run: nested spans around calls into
each layer's public functions, a Spark job group per span, job/task
counts from ``statusTracker()`` and per-layer task counters from the
Spark event log.

Spans are recorded from the benchmark's own files: ``Tracer.patch``
replaces each layer function at the module (or class) attribute the
orchestrator looks it up through, and ``uninstall`` puts the originals
back. Nothing under ``schema_validata_spark/`` is edited.

A span is ``{id, name, parent, start, end, group, lap, attrs}``. Spans
opened on a thread with no open span (``validate``'s thread pool) take
as parent the latest open container span (``validate`` and the entry
points that call it), which is exact for the single-dataset workloads
this benchmark runs.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import statistics
import threading
import time
from collections import defaultdict

CONTAINERS = ("validate", "validate_datasets", "validate_files",
              "validate_partitioned")
# layers whose Spark jobs the event-log counters are reported for
COUNTER_LAYERS = ("profile", "uniqueness", "integrity", "violations",
                  "report", "partition_verdicts", "fingerprints",
                  "manifest", "readers")


def layer_of(span_name: str) -> str:
    return span_name.split(".", 1)[0]


class Tracer:
    """In-memory span recorder; one per benchmark run."""

    def __init__(self):
        self.sc = None            # set once a SparkContext exists
        self.spans: list[dict] = []
        self.lap: int | None = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._open_containers: list[dict] = []
        self._patches: list[tuple] = []

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str) -> dict:
        stack = self._stack()
        with self._lock:
            if stack:
                parent = stack[-1]["id"]
            elif self._open_containers:
                parent = self._open_containers[-1]["id"]
            else:
                parent = None
            sid = next(self._ids)
        rec = {"id": sid, "name": name, "parent": parent,
               "start": time.perf_counter(), "end": None,
               "group": f"{layer_of(name)}#L{self.lap}#{sid}",
               "lap": self.lap, "attrs": {}, "_prev_group": None}
        if self.sc is not None:
            # job groups are thread-local, so spans on validate's pool
            # threads tag their own jobs
            rec["_prev_group"] = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(rec["group"], name)
        stack.append(rec)
        with self._lock:
            self.spans.append(rec)
            if name in CONTAINERS:
                self._open_containers.append(rec)
        return rec

    def close(self, rec: dict) -> None:
        rec["end"] = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] is rec:
            stack.pop()
        with self._lock:
            if rec in self._open_containers:
                self._open_containers.remove(rec)
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", rec["_prev_group"])
            if rec["_prev_group"] is None:
                self.sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def span(self, name: str):
        rec = self.open(name)
        try:
            yield rec
        finally:
            self.close(rec)

    # -- installing wrappers -------------------------------------------
    def patch(self, owner, attr: str, name: str, *, lazy_action=None,
              rows=None, classmethod_: bool = False) -> None:
        """Replace ``owner.attr`` with a traced wrapper.

        ``lazy_action`` names the DataFrame action the caller runs on the
        returned frame (``count``/``collect``): that action gets a second
        span of the same name, so the layer's time is plan building plus
        its action. A frame the caller transforms further instead (as
        ``partition_verdicts`` does with ``referential_violations``)
        leaves its jobs to the caller's span. ``rows(args, value)``
        records a count on the span from the call's arguments and its
        result (the action's result for a lazy call)."""
        original = owner.__dict__[attr] if classmethod_ \
            else getattr(owner, attr)
        target = original.__func__ if classmethod_ else original
        tracer = self

        def traced(call, args, count):
            rec = tracer.open(name)
            try:
                out = call()
                if count and rows is not None:
                    rec["attrs"]["rows"] = rows(args, out)
                return out
            finally:
                tracer.close(rec)

        def wrapper(*args, **kwargs):
            out = traced(lambda: target(*args, **kwargs), args,
                         lazy_action is None)
            if lazy_action is not None and out is not None:
                action = getattr(out, lazy_action)
                setattr(out, lazy_action, lambda *a, **k: traced(
                    lambda: action(*a, **k), args, True))
            return out

        setattr(owner, attr, classmethod(wrapper) if classmethod_ else wrapper)
        self._patches.append((owner, attr, original))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    # -- statusTracker -------------------------------------------------
    def record_job_counts(self, spans: list[dict]) -> None:
        """Jobs, stages and completed tasks per span from the status
        tracker (works with the UI off)."""
        st = self.sc.statusTracker()
        for rec in spans:
            jobs = st.getJobIdsForGroup(rec["group"])
            stages = set()
            for jid in jobs:
                info = st.getJobInfo(jid)
                if info is not None:
                    stages.update(info.stageIds)
            tasks = 0
            for sid in stages:
                si = st.getStageInfo(sid)
                if si is not None:
                    tasks += si.numCompletedTasks
            rec["attrs"]["jobs"] = len(jobs)
            rec["attrs"]["stages"] = len(stages)
            rec["attrs"]["tasks"] = tasks


def self_time(spans: list[dict], rec: dict) -> float:
    """Span duration minus the part of its interval its children cover."""
    lo, hi = rec["start"], rec["end"]
    ivs = sorted((max(lo, c["start"]), min(hi, c["end"]))
                 for c in spans
                 if c["parent"] == rec["id"] and c["end"] is not None)
    covered, cur_lo, cur_hi = 0.0, None, None
    for a, b in ivs:
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (hi - lo) - covered


def event_log_counters(event_dir: str) -> dict[tuple[str, int], dict]:
    """Per (layer, lap) task counters from every event log in
    ``event_dir``: input bytes and records, shuffle bytes written, bytes
    spilled, failed tasks and the task skew (max ÷ median task time) of
    the layer's longest stage in that lap. Job groups name the layer and
    lap (``layer#L<lap>#<span id>``); untagged jobs are ignored."""
    stage_group: dict[tuple[str, int], str] = {}
    tasks: dict[tuple[str, int], list] = defaultdict(list)
    for path in sorted(glob.glob(os.path.join(event_dir, "*"))):
        app = os.path.basename(path)   # one log file per SparkContext
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id")
                    if group:
                        stage_group[(app, ev["Stage Info"]["Stage ID"])] = group
                elif kind == "SparkListenerTaskEnd":
                    tasks[(app, ev["Stage ID"])].append(ev)
    out: dict[tuple[str, int], dict] = {}
    longest: dict[tuple[str, int], tuple[float, float]] = {}
    for key, group in stage_group.items():
        layer, lap, _ = group.split("#")
        if lap == "LNone":
            continue
        k = (layer, int(lap[1:]))
        acc = out.setdefault(k, {"input_bytes": 0, "input_records": 0,
                                 "shuffle_write_bytes": 0,
                                 "spill_bytes": 0, "failed_tasks": 0,
                                 "task_skew": 1.0})
        durs = []
        first, last = None, None
        for ev in tasks.get(key, []):
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            inp = m.get("Input Metrics") or {}
            acc["input_bytes"] += inp.get("Bytes Read", 0)
            acc["input_records"] += inp.get("Records Read", 0)
            acc["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics")
                                           or {}).get("Shuffle Bytes Written", 0)
            acc["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                   + m.get("Disk Bytes Spilled", 0))
            if info.get("Failed") or info.get("Killed"):
                acc["failed_tasks"] += 1
            launch, finish = info.get("Launch Time"), info.get("Finish Time")
            if launch and finish:
                durs.append(max(1, finish - launch))
                first = launch if first is None else min(first, launch)
                last = finish if last is None else max(last, finish)
        if durs:
            wall = last - first
            if wall > longest.get(k, (-1, 0))[0]:
                longest[k] = (wall, max(durs) / statistics.median(durs))
    for k, (_, skew) in longest.items():
        out[k]["task_skew"] = skew
    return out
