"""Spans recorded around the engine's public functions, from outside the
engine, plus the Spark event-log fold that attributes stage metrics to
them.

A span is ``(id, name, start, end, parent, op)``; ``op`` names the
benchmark operation (one rep, one read) the span belongs to. Each span
sets the Spark job group ``<id>`` for its duration, so every Spark job
that runs inside it (lazy plans execute at the action, inside the
innermost span that triggered them) folds into that span's stage
metrics. Spans live in memory and are summarised when the run ends.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

GROUP_PROP = "spark.jobGroup.id"


class Tracer:
    """Records spans while ``enabled``; a disabled tracer costs one
    attribute check per wrapped call."""

    def __init__(self, sc=None):
        self.sc = sc
        self.enabled = False
        self.op = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "op": self.op,
               "parent": parent["id"] if parent else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(str(rec["id"]))
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(str(parent["id"]) if parent else None)

    def _set_group(self, gid: str | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(GROUP_PROP, gid)

    def wrap(self, module, attr: str, name=None) -> None:
        """Replace ``module.attr`` with a spanning wrapper. ``name`` is the
        span name, or a function of the call's arguments giving it."""
        fn = getattr(module, attr)
        label = name or f"{module.__name__.rsplit('.', 1)[-1]}.{attr}"
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kw):
            if not tracer.enabled:
                return fn(*args, **kw)
            with tracer.span(label(*args, **kw) if callable(label)
                             else label):
                return fn(*args, **kw)

        setattr(module, attr, wrapper)
        self._patched.append((module, attr, fn))

    def unwrap_all(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()

    # ---------------------------------------------------------- summaries

    def op_spans(self, ops) -> list[dict]:
        ops = set(ops)
        return [s for s in self.spans if s["op"] in ops]

    @staticmethod
    def self_times(spans: list[dict]) -> dict[int, float]:
        """Span id -> duration minus the part its children cover."""
        kids: dict[int, list[dict]] = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s)
        out = {}
        for s in spans:
            covered, cur = 0.0, s["start"]
            for c in sorted(kids[s["id"]], key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur = hi
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out


def _plan_metric_names(node: dict, out: dict) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for child in node.get("children", []):
        _plan_metric_names(child, out)


#: task-level accumulables summed per job group, by event-log name
_SQL_ACCUMS = {
    "time to run Python workers": "python_worker_ms",
    "time to start Python workers": "python_worker_ms",
    "time to initialize Python workers": "python_worker_ms",
    "data sent to Python workers": "to_python_bytes",
    "data returned from Python workers": "from_python_bytes",
}


def fold_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Job group -> summed stage metrics, from the one uncompressed
    event-log file Spark wrote under ``log_dir``."""
    files = [f for f in os.listdir(log_dir)
             if not f.endswith(".inprogress") and not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, "
                           f"found {sorted(os.listdir(log_dir))}")
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    accum_name: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with open(os.path.join(log_dir, files[0])) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                gid = ev.get("Properties", {}).get(GROUP_PROP)
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = gid
            elif kind == "SparkListenerTaskEnd":
                gid = stage_group.get(ev["Stage ID"])
                if gid is None or "Task Metrics" not in ev:
                    continue
                m, acc = ev["Task Metrics"], out[gid]
                acc["tasks"] += 1
                acc["executor_run_ms"] += m["Executor Run Time"]
                acc["executor_cpu_ns"] += m["Executor CPU Time"]
                acc["gc_ms"] += m["JVM GC Time"]
                acc["spill_bytes"] += m["Disk Bytes Spilled"]
                sw, sr = m["Shuffle Write Metrics"], m["Shuffle Read Metrics"]
                acc["shuffle_write_bytes"] += sw["Shuffle Bytes Written"]
                acc["shuffle_read_bytes"] += (sr["Remote Bytes Read"]
                                              + sr["Local Bytes Read"])
                acc["fetch_wait_ms"] += sr["Fetch Wait Time"]
                acc["output_bytes"] += m["Output Metrics"]["Bytes Written"]
                for a in ev["Task Info"].get("Accumulables", []):
                    key = _SQL_ACCUMS.get(a.get("Name"))
                    if key:
                        acc[key] += float(a.get("Update") or 0)
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                exec_group[ev["executionId"]] = ev.get("jobGroupId")
                _plan_metric_names(ev.get("sparkPlanInfo", {}), accum_name)
            elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                _plan_metric_names(ev.get("sparkPlanInfo", {}), accum_name)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                gid = exec_group.get(ev["executionId"])
                if gid is None:
                    continue
                for aid, val in ev["accumUpdates"]:
                    if accum_name.get(aid) == "number of written files":
                        out[gid]["output_files"] += val
    return {g: dict(v) for g, v in out.items()}
