"""Spans recorded from the benchmark process, and Spark's event log
attributed to them.

A span is (id, parent, name, start, end).  Entering a span sets the
Spark job group to the span id, so every job, stage and SQL metric in
the event log carries the innermost open span.  Child spans come from
wrapping, in this process, the module attributes the program calls
(``pipeline.extract`` and friends, ``snapshot_table.append``); the
package itself is not edited.  Spans live in memory and are folded into
layer metrics once the session has stopped and the log is complete.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: str
    parent: str | None
    name: str
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op,
    so the untraced run pays nothing for it."""

    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    def _set_group(self, span: Span | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", span.sid if span else None)
        self.sc.setLocalProperty("spark.job.description", span.name if span else None)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(f"s{len(self.spans)}", parent.sid if parent else None,
                  name, time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def wrap(self, module, attr: str, name: str, after=None) -> None:
        """Replace ``module.attr`` with a version that runs inside a span.
        ``after(span)`` runs once the span has closed (outside its time)."""
        if not self.enabled or not hasattr(module, attr):
            return
        orig = getattr(module, attr)
        tracer = self

        def traced(*a, **kw):
            with tracer.span(name) as sp:
                out = orig(*a, **kw)
            if after is not None:
                after(sp)
            return out

        traced.__wrapped__ = orig
        self._patched.append((module, attr, orig))
        setattr(module, attr, traced)

    def count(self, module, attr: str, on_result) -> None:
        """Wrap ``module.attr`` to report each result to ``on_result``."""
        if not self.enabled or not hasattr(module, attr):
            return
        orig = getattr(module, attr)

        def counted(*a, **kw):
            try:
                out = orig(*a, **kw)
            except BaseException as exc:
                on_result(exc)
                raise
            on_result(out)
            return out

        self._patched.append((module, attr, orig))
        setattr(module, attr, counted)

    def restore(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    # ------------------------------------------------------------ analysis

    def children(self) -> dict[str | None, list[Span]]:
        kids: dict[str | None, list[Span]] = defaultdict(list)
        for sp in self.spans:
            kids[sp.parent].append(sp)
        return kids

    def self_time(self, sp: Span, kids) -> float:
        """Duration minus the part of it that child spans cover."""
        ivs = sorted((c.start, c.end) for c in kids.get(sp.sid, ()))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return sp.dur - covered

    def subtree(self, sp: Span, kids) -> list[Span]:
        out, todo = [], [sp]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.sid, ()))
        return out


# ---------------------------------------------------------------- event log

_PY_METRICS = {
    "time to run Python workers": "python_s",
    "data sent to Python workers": "to_python_mb",
    "data returned from Python workers": "from_python_mb",
}
_TASK_METRICS = {
    "internal.metrics.executorRunTime": ("task_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("task_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_mb", 1e-6),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_mb", 1e-6),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_mb", 1e-6),
    "internal.metrics.memoryBytesSpilled": ("spill_mb", 1e-6),
    "internal.metrics.diskBytesSpilled": ("spill_mb", 1e-6),
}
_UNIT_SCALE = {"nsTiming": 1e-9, "timing": 1e-3, "size": 1e-6}


def _plan_metrics(info: dict, out: dict) -> None:
    for m in info.get("metrics", ()):
        if m.get("name") in _PY_METRICS:
            out[m["accumulatorId"]] = (
                _PY_METRICS[m["name"]], _UNIT_SCALE.get(m.get("metricType"), 1.0)
            )
    for c in info.get("children", ()):
        _plan_metrics(c, out)


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    job_intervals: list = field(default_factory=list)
    m: dict = field(default_factory=lambda: defaultdict(float))


def read_event_log(log_dir: str) -> dict[str, GroupStats]:
    """Per job group: jobs, completed stages, tasks, job wall intervals
    (epoch seconds), task metrics and Python-boundary SQL metrics."""
    # Spark 4 writes a rolling log: <dir>/eventlog_v2_<app>/events_<n>_<app>
    files = sorted(
        glob.glob(os.path.join(log_dir, "*", "events_*")),
        key=lambda f: int(os.path.basename(f).split("_")[1]),
    )
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    py_acc: dict[int, tuple[str, float]] = {}
    stage_accs: list[tuple[str, list]] = []
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "-"
                    jid = ev["Job ID"]
                    job_group[jid] = g
                    job_start[jid] = ev["Submission Time"] / 1e3
                    groups[g].jobs += 1
                    for s in ev.get("Stage IDs", ()):
                        stage_group[s] = g
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_group:
                        groups[job_group[jid]].job_intervals.append(
                            (job_start[jid], ev["Completion Time"] / 1e3)
                        )
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    g = stage_group.get(info["Stage ID"], "-")
                    groups[g].stages += 1
                    groups[g].tasks += info.get("Number of Tasks", 0)
                    stage_accs.append((g, info.get("Accumulables", ())))
                elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    _plan_metrics(ev.get("sparkPlanInfo") or {}, py_acc)
    # SQL metric ids are only known once every plan (and AQE re-plan) is read
    for g, accs in stage_accs:
        gm = groups[g].m
        for a in accs:
            name, val = a.get("Name"), a.get("Value")
            if not isinstance(val, (int, float)) and not (
                isinstance(val, str) and val.lstrip("-").isdigit()
            ):
                continue
            val = float(val)
            if name in _TASK_METRICS:
                key, scale = _TASK_METRICS[name]
                gm[key] += val * scale
            elif a.get("ID") in py_acc:
                key, scale = py_acc[a["ID"]]
                gm[key] += val * scale
    return groups


def busy_time(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
