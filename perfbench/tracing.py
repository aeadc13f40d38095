"""Tracing from outside the program: spans around calls into the engine's
layers, and per-layer Spark work read back from the event log.

Wrappers are installed only for a traced run. Each records a span
(name, start, end, parent, op id) in memory and sets the Spark job group
to the span name while it runs, so every job the layer submits can be
attributed to it from the event log. Operators that only build a lazy
plan submit no job inside their span: their work runs, and is counted,
under the span of whoever executes the plan.
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import sys
import time
from contextlib import contextmanager

ROOT_GROUP = "client"


class Tracer:
    def __init__(self, active: bool):
        self.active = active  # a traced run: wrappers installed, spans recorded
        self.sc = None
        self.enabled = False
        self.op_id: int | None = None
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.counters: dict[str, float] = {}

    def _set_group(self, name: str) -> None:
        if self.sc is not None:
            self.sc.setJobGroup(name, name)

    def count(self, name: str, value: float = 1) -> None:
        if self.enabled:
            self.counters[name] = self.counters.get(name, 0) + value

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._set_group(name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self.spans[self._stack[-1]]["name"] if self._stack else ROOT_GROUP)

    def wrap(self, fn, name: str):
        if inspect.isgeneratorfunction(fn):

            @functools.wraps(fn)
            def gen_wrapper(*a, **kw):
                it = fn(*a, **kw)
                while True:
                    with self.span(name):
                        try:
                            item = next(it)
                        except StopIteration:
                            return
                    yield item

            return gen_wrapper

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        return wrapper

    # ------------------------------------------------------------ reports

    def totals(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
        return out

    def n_spans(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [dict(s, start=s["start"] - t0, end=s["end"] - t0) for s in self.spans]
        with open(path, "w") as fh:
            json.dump({"spans": spans, "counters": self.counters, **extra}, fh)


def install(tracer: Tracer, targets: list[tuple[str, str, str]]) -> None:
    """Replace each ``(module, attribute, span name)`` target with a traced
    wrapper. ``attribute`` is ``func`` or ``Class.method``. A function is
    also replaced in every loaded engine module that imported it by name,
    so calls through ``from x import f`` are traced too."""
    import importlib

    for mod_name, attr, span in targets:
        mod = importlib.import_module(mod_name)
        if "." in attr:
            cls_name, meth = attr.split(".")
            cls = getattr(mod, cls_name)
            setattr(cls, meth, tracer.wrap(cls.__dict__[meth], span))
            continue
        orig = getattr(mod, attr)
        wrapped = tracer.wrap(orig, span)
        for other in list(sys.modules.values()):
            name = getattr(other, "__name__", "") or ""
            if name.startswith("etl_migrate_api_spark") and getattr(other, attr, None) is orig:
                setattr(other, attr, wrapped)


# ------------------------------------------------------------- event log

SPARK_FIELDS = (
    "jobs",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: Spark job/task counts, executor run and CPU seconds,
    shuffle and spill bytes, output bytes, collect jobs, and the files and
    partitions the scans listed (driver-side SQL metrics)."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if not files:
        raise RuntimeError(f"no event log in {log_dir}")
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    acc_name: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def add(group: str, key: str, v: float) -> None:
        d = out.setdefault(group, {})
        d[key] = d.get(key, 0) + v

    def walk_plan(info: dict) -> None:
        for m in info.get("metrics", ()):
            acc_name[int(m["accumulatorId"])] = m["name"]
        for ch in info.get("children", ()):
            walk_plan(ch)

    pending_driver: list[tuple[int, list]] = []
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id") or ROOT_GROUP
                    for sid in ev.get("Stage IDs", ()):
                        stage_group[int(sid)] = group
                    add(group, "jobs", 1)
                    names = [s.get("Stage Name", "") for s in ev.get("Stage Infos", ())]
                    if names and max(names, key=len).startswith("collect"):
                        add(group, "collect_jobs", 1)
                    eid = props.get("spark.sql.execution.id")
                    if eid is not None:
                        exec_group.setdefault(int(eid), group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(int(ev["Stage ID"]), ROOT_GROUP)
                    tm = ev.get("Task Metrics") or {}
                    add(group, "tasks", 1)
                    add(group, "executor_run_s", tm.get("Executor Run Time", 0) / 1e3)
                    add(group, "executor_cpu_s", tm.get("Executor CPU Time", 0) / 1e9)
                    sr = tm.get("Shuffle Read Metrics") or {}
                    add(group, "shuffle_read_bytes", sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0))
                    sw = tm.get("Shuffle Write Metrics") or {}
                    add(group, "shuffle_write_bytes", sw.get("Shuffle Bytes Written", 0))
                    add(group, "spill_bytes", tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0))
                    om = tm.get("Output Metrics") or {}
                    add(group, "output_bytes", om.get("Bytes Written", 0))
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    walk_plan(ev.get("sparkPlanInfo") or {})
                    gid = ev.get("jobGroupId")
                    if gid and "executionId" in ev:
                        exec_group.setdefault(int(ev["executionId"]), gid)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    pending_driver.append((int(ev["executionId"]), ev.get("accumUpdates") or []))
    for eid, updates in pending_driver:
        group = exec_group.get(eid, ROOT_GROUP)
        for acc_id, value in updates:
            name = acc_name.get(int(acc_id))
            if name == "number of files read":
                add(group, "files_read", value)
            elif name == "number of partitions read":
                add(group, "partitions_read", value)
    return out
