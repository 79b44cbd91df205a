"""Spans, layer self time, plan-shape counts and event-log stage metrics.

A ``Tracer`` records spans around calls into the engine's layers: the
benchmark opens spans around its own calls, and in a traced run it also
wraps public functions inside the package (``Tracer.wrap``) so calls the
package makes between its own layers get spans too. An untraced run uses
a disabled tracer, so its timed regions carry no wrappers and no span
bookkeeping. Spans stay in memory and are written once, at exit.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import re
import threading
import time


class Tracer:
    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Record ``name`` around the block. A span opened on a worker
        thread with no open span of its own is parented to the span open
        on the main thread (the fan-out that started the worker)."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        rec = {"name": name, "run": self.run_id, "parent": parent, "start": time.time(),
               "end": None, **attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a spanned wrapper until ``restore``."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def closed(self, t0: float = 0.0, t1: float = float("inf")) -> list[dict]:
        return [s for s in self.spans if s["end"] is not None and t0 <= s["start"] <= t1]

    def self_times(self, t0: float = 0.0, t1: float = float("inf")) -> dict[str, float]:
        """Self time per layer (the span name's first dotted part): each
        span's duration minus the union of its children's intervals."""
        spans = self.closed(t0, t1)
        children: dict[int, list[tuple[float, float]]] = {}
        for s in spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in spans:
            covered = _union(children.get(s["id"], []), s["start"], s["end"])
            layer = s["name"].split(".")[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - covered
        return out

    def total(self, name: str, t0: float = 0.0, t1: float = float("inf")) -> float:
        return sum(s["end"] - s["start"] for s in self.closed(t0, t1) if s["name"] == name)

    def count(self, name: str, t0: float = 0.0, t1: float = float("inf")) -> int:
        return sum(1 for s in self.closed(t0, t1) if s["name"] == name)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _union(ivs: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in ivs):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


_NODE = re.compile(r"^[\s:+\-|]*(?:\*\(\d+\)\s*)?(\w+)")
_PYTHON_NODES = ("Python", "ArrowEval", "InPandas", "InArrow")


def plan_counts(df) -> dict[str, int]:
    """Exchange, broadcast-join and Python-evaluation node counts of the
    DataFrame's executed plan (the final adaptive plan once it has run)."""
    text = df._jdf.queryExecution().executedPlan().toString()
    names = [m.group(1) for m in map(_NODE.match, text.splitlines()) if m]
    return {
        "exchanges": sum(n in ("Exchange", "ShuffleExchange") for n in names),
        "broadcast_joins": sum(n == "BroadcastHashJoin" for n in names),
        "python_nodes": sum(any(p in n for p in _PYTHON_NODES) for n in names),
    }


def _events(evdir: str):
    for path in sorted(glob.glob(os.path.join(evdir, "*"))):
        if os.path.isdir(path):
            continue
        with open(path) as f:
            for line in f:
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    continue


def stage_metrics(evdir: str, windows: list[tuple[float, float]], cores: int) -> list[dict]:
    """Per-window task totals from a Spark event log: for each (t0, t1)
    wall window (seconds since the epoch) the tasks of stages submitted
    inside it, their run, scheduler-delay and GC time, input, shuffle
    and spill bytes, peak execution memory, the first job's submission
    time, and core utilization (task run time over window x cores)."""
    stage_sub: dict[int, float] = {}
    tasks: list[tuple[int, dict, dict]] = []
    jobs: list[float] = []
    for ev in _events(evdir):
        kind = ev.get("Event")
        if kind == "SparkListenerStageSubmitted":
            sub = ev["Stage Info"].get("Submission Time")
            if sub is not None:
                stage_sub[ev["Stage Info"]["Stage ID"]] = sub / 1e3
        elif kind == "SparkListenerStageCompleted":
            sub = ev["Stage Info"].get("Submission Time")
            if sub is not None:
                stage_sub.setdefault(ev["Stage Info"]["Stage ID"], sub / 1e3)
        elif kind == "SparkListenerTaskEnd":
            tasks.append((ev["Stage ID"], ev.get("Task Info") or {}, ev.get("Task Metrics") or {}))
        elif kind == "SparkListenerJobStart":
            jobs.append(ev["Submission Time"] / 1e3)
    out = []
    for t0, t1 in windows:
        acc = {"tasks": 0, "task_s": 0.0, "scheduler_delay_s": 0.0, "gc_s": 0.0,
               "input_bytes": 0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
               "spill_bytes": 0, "peak_exec_mem_bytes": 0}
        for sid, ti, tm in tasks:
            sub = stage_sub.get(sid)
            if sub is None or not (t0 <= sub <= t1):
                continue
            run = tm.get("Executor Run Time", 0)
            deser = tm.get("Executor Deserialize Time", 0)
            ser = tm.get("Result Serialization Time", 0)
            wall = ti.get("Finish Time", 0) - ti.get("Launch Time", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            acc["tasks"] += 1
            acc["task_s"] += run / 1e3
            acc["scheduler_delay_s"] += max(0, wall - run - deser - ser) / 1e3
            acc["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            acc["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
            acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            acc["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            acc["peak_exec_mem_bytes"] = max(acc["peak_exec_mem_bytes"], tm.get("Peak Execution Memory", 0))
        acc["core_util"] = acc["task_s"] / max(1e-9, (t1 - t0) * cores)
        acc["first_job"] = min((j for j in jobs if t0 <= j <= t1), default=None)
        out.append(acc)
    return out
