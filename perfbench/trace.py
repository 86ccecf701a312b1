"""Spans recorded around calls into the program's public functions, and
the Spark event-log reader that turns a traced run into per-layer costs.

Each span sets its id as the Spark job group, so every job, stage and
task in the event log can be attributed to the innermost span that was
open when it was submitted. Spans live in memory until the run ends.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from time import perf_counter, time


@dataclass
class Span:
    sid: str
    parent: str | None
    name: str
    start: float  # epoch seconds, the clock the event log uses
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Nested spans over one SparkContext; ``enabled=False`` makes every
    span a no-op, so untraced runs pay nothing."""

    def __init__(self, sc, enabled: bool) -> None:
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sp = Span(f"pb{len(self.spans)}", self._stack[-1].sid if self._stack else None,
                  name, 0.0, attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.sid, name)
        # wall clock for joining with event-log times; perf_counter for the span length
        sp.start, t0 = time(), perf_counter()
        try:
            yield sp
        finally:
            sp.end = sp.start + (perf_counter() - t0)
            self._stack.pop()
            outer = self._stack[-1] if self._stack else None
            self.sc.setJobGroup(outer.sid if outer else "pb-untraced",
                                outer.name if outer else "untraced")

    def wrap(self, module, attr: str, name_of) -> None:
        """Replace ``module.attr`` with a version that runs inside a span
        named ``name_of(args, kwargs)``; callers that look the function up
        through the module see the wrapped one."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name_of(args, kwargs)):
                return orig(*args, **kwargs)

        setattr(module, attr, traced)

    def subtree(self, root: Span) -> set[str]:
        ids = {root.sid}
        for sp in self.spans:  # children are appended after their parents
            if sp.parent in ids:
                ids.add(sp.sid)
        return ids

    def named(self, name: str) -> list[Span]:
        return [sp for sp in self.spans if sp.name == name]


# --- event log ---------------------------------------------------------------

_PIN_STAGE = re.compile(r"^(localCheckpoint|checkpoint|persist|cache) at ")


@dataclass
class GroupCost:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    python_worker_s: float = 0.0
    source_rows: int = 0
    pin_jobs: int = 0
    job_spans: list = field(default_factory=list)  # (start, end) epoch s
    pin_spans: list = field(default_factory=list)


class EventLog:
    """Per-job-group costs from one uncompressed Spark event log."""

    def __init__(self, log_dir: str) -> None:
        files = [f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
                 if os.path.isfile(f) and not os.path.basename(f).startswith(".")
                 and "appstatus" not in os.path.basename(f)]
        if not files:
            raise RuntimeError(f"no Spark event log under {log_dir}")
        self.groups: dict[str, GroupCost] = defaultdict(GroupCost)
        acc_meta: dict[int, tuple[str, str]] = {}
        stage_group: dict[int, str] = {}
        jobs: dict[int, dict] = {}
        stage_acc: list[tuple[str, list]] = []
        for path in sorted(files, key=_rolled_index):
            with open(path) as fh:
                for line in fh:
                    self._event(json.loads(line), acc_meta, stage_group, jobs, stage_acc)
        self._sql_metrics(acc_meta, stage_acc)
        self._jobs(jobs)

    def _event(self, ev, acc_meta, stage_group, jobs, stage_acc) -> None:
        kind = ev["Event"]
        if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            for node in _walk(ev["sparkPlanInfo"]):
                for m in node["metrics"]:
                    acc_meta[m["accumulatorId"]] = (node["nodeName"], m["name"])
        elif kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {
                "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                "sql": (ev.get("Properties") or {}).get("spark.sql.execution.id"),
                "start": ev["Submission Time"] / 1000.0,
                "pin": any(_PIN_STAGE.match(s["Stage Name"]) for s in ev["Stage Infos"]),
            }
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            stage_group[ev["Stage Info"]["Stage ID"]] = (
                (ev.get("Properties") or {}).get("spark.jobGroup.id"))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            group = stage_group.get(info["Stage ID"])
            self.groups[group].stages += 1
            stage_acc.append((group, info.get("Accumulables") or []))
        elif kind == "SparkListenerTaskEnd":
            g = self.groups[stage_group.get(ev["Stage ID"])]
            tm = ev.get("Task Metrics") or {}
            g.tasks += 1
            g.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
            g.gc_s += tm.get("JVM GC Time", 0) / 1000.0
            g.shuffle_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            g.spill_bytes += tm.get("Disk Bytes Spilled", 0)

    def _sql_metrics(self, acc_meta, stage_acc) -> None:
        for group, accs in stage_acc:
            g = self.groups[group]
            for a in accs:
                node, metric = acc_meta.get(a.get("ID"), ("", ""))
                # every node that runs Python UDF workers (ArrowEvalPython,
                # BatchEvalPython[UDTF], MapInPandas, FlatMapGroupsInPandas, ...)
                # reports this metric
                if metric == "time to run Python workers":
                    g.python_worker_s += float(a["Value"]) / 1000.0
                elif node.startswith("BatchScan fhir_bundles") and metric == "number of output rows":
                    g.source_rows += int(a["Value"])

    def _jobs(self, jobs) -> None:
        pin_execs = {j["sql"] for j in jobs.values() if j["pin"] and j["sql"] is not None}
        for j in jobs.values():
            g = self.groups[j["group"]]
            g.jobs += 1
            span = (j["start"], j.get("end", j["start"]))
            g.job_spans.append(span)
            if j["pin"] or (j["sql"] is not None and j["sql"] in pin_execs):
                g.pin_jobs += 1
                g.pin_spans.append(span)

    def total(self, group_ids) -> GroupCost:
        out = GroupCost()
        for gid in group_ids:
            g = self.groups.get(gid)
            if g is None:
                continue
            for f in ("jobs", "stages", "tasks", "cpu_s", "gc_s", "shuffle_bytes",
                      "spill_bytes", "python_worker_s", "source_rows", "pin_jobs"):
                setattr(out, f, getattr(out, f) + getattr(g, f))
            out.job_spans += g.job_spans
            out.pin_spans += g.pin_spans
        return out


def covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def _walk(node):
    yield node
    for c in node.get("children", []):
        yield from _walk(c)


def _rolled_index(path: str) -> tuple:
    m = re.match(r"events_(\d+)_", os.path.basename(path))
    return (int(m.group(1)) if m else 0, path)
