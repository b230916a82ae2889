"""Spans, process-tree memory, and the Spark event-log join.

Spans are recorded by the benchmark around each call into a layer and
kept in memory until the run ends.  Spans nest pass -> step ->
build/action/check and all carry the run's ID; a step span's ID doubles
as the Spark job group of every job the step runs, which is how the event
log's stage and task metrics are joined back to the step (and so to the
layer) that caused them.
"""

from __future__ import annotations

import itertools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path
from typing import Iterator

MB = 1024 * 1024


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    run_id: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[Span | None]:
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        sp = Span(f"{self.run_id}.{next(self._ids)}", name, parent, self.run_id, time.time(), attrs=attrs)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self.spans.append(sp)

    def self_times(self) -> dict[str, float]:
        """Span duration minus the time its children cover."""
        child = defaultdict(float)
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] += sp.end - sp.start
        return {sp.id: (sp.end - sp.start) - child[sp.id] for sp in self.spans}

    def write(self, path: Path) -> None:
        selft = self.self_times()
        with path.open("w") as fh:
            for sp in self.spans:
                rec = {
                    "id": sp.id, "name": sp.name, "parent": sp.parent,
                    "run_id": sp.run_id, "start": sp.start, "end": sp.end,
                    "self_s": selft[sp.id], **sp.attrs,
                }
                fh.write(json.dumps(rec) + "\n")


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:
        pass
    return out


def descendants(root: int | None = None) -> list[int]:
    """This process and all its descendants (the driver JVM is a child,
    the Python workers are the JVM's children)."""
    out, todo = [], [root or os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of the machine so far, in clock ticks.  Steal
    is time the hypervisor gave this VM's CPUs to other guests; a run whose
    timed passes saw much of it ran on a loaded host."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7] if len(ticks) > 7 else 0, sum(ticks)


def tree_rss_mb() -> float:
    """Resident memory of this process and all its descendants."""
    total_kb = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


# -- event log -------------------------------------------------------------

_PY = {
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "python_sent_mb",
    "data returned from Python workers": "python_recv_mb",
}


@dataclass
class _Stage:
    group: str | None = None
    submit_ms: int = 0
    done_ms: int = 0
    tasks: int = 0
    task_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    input_bytes: int = 0
    input_rows: int = 0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    py: dict = field(default_factory=lambda: defaultdict(float))


def read_event_log(log_dir: Path) -> tuple[dict[int, _Stage], dict[str, list[float]]]:
    """Per-stage task totals (keyed by stage ID, tagged with the job group
    that submitted the stage) and the sorted SQL-execution start times
    (epoch seconds) of each job group."""
    stages: dict[int, _Stage] = defaultdict(_Stage)
    exec_start: dict[int, float] = {}
    exec_group: dict[int, str] = {}
    # Spark 4 writes a directory of rolled event files per application
    for path in sorted(p for p in log_dir.rglob("*") if p.is_file() and "events" in p.name):
        with path.open() as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerStageSubmitted":
                    st = stages[ev["Stage Info"]["Stage ID"]]
                    st.group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages[info["Stage ID"]]
                    st.submit_ms = info.get("Submission Time", 0)
                    st.done_ms = info.get("Completion Time", 0)
                elif kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    eid, grp = props.get("spark.sql.execution.id"), props.get("spark.jobGroup.id")
                    if eid is not None and grp:
                        exec_group.setdefault(int(eid), grp)
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    exec_start[int(ev["executionId"])] = ev["time"] / 1000
                elif kind == "SparkListenerTaskEnd":
                    _add_task(stages[ev["Stage ID"]], ev)
    starts: dict[str, list[float]] = defaultdict(list)
    for eid, grp in exec_group.items():
        if eid in exec_start:
            starts[grp].append(exec_start[eid])
    return dict(stages), {g: sorted(ts) for g, ts in starts.items()}


def _add_task(st: _Stage, ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    st.tasks += 1
    st.task_ms += m.get("Executor Run Time", 0)
    st.cpu_ns += m.get("Executor CPU Time", 0)
    st.gc_ms += m.get("JVM GC Time", 0)
    inp = m.get("Input Metrics") or {}
    st.input_bytes += inp.get("Bytes Read", 0)
    st.input_rows += inp.get("Records Read", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    st.spill += m.get("Disk Bytes Spilled", 0)
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        key = _PY.get(acc.get("Name"))
        if key is not None:
            try:
                st.py[key] += float(acc.get("Update", 0))
            except (TypeError, ValueError):
                pass


LAYER_STATS = (
    "build_s", "plan_s", "exec_s", "task_s", "cpu_s", "gc_s", "core_idle_frac",
    "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "stages", "tasks",
    "python_run_s", "python_sent_mb", "python_recv_mb",
)


def layer_metrics(
    tracer: Tracer,
    stages: dict[int, _Stage],
    exec_starts: dict[str, list[float]],
    layers: list[str],
    cores: int,
    passes: int,
) -> dict[str, float]:
    """Per-layer totals per traced pass.  A step span carries its layer,
    and its ID is the job group of every stage the step ran (in the query
    function's call as well as in the action); plan and execution time are
    split at the first SQL execution that starts after the action call."""
    group_layer = {
        sp.id: sp.attrs["layer"]
        for sp in tracer.spans
        if sp.name == "step" and sp.attrs.get("layer") in layers
    }
    acc: dict[str, dict[str, float]] = {l: defaultdict(float) for l in layers}
    wall: dict[str, float] = defaultdict(float)
    for sp in tracer.spans:
        layer = group_layer.get(sp.parent or "")
        if layer is None:
            continue
        if sp.name == "build":
            acc[layer]["build_s"] += sp.end - sp.start
        elif sp.name == "action":
            # event times are whole milliseconds
            t_exec = next((t for t in exec_starts.get(sp.parent, []) if t >= sp.start - 1e-3), None)
            if t_exec is not None:
                acc[layer]["plan_s"] += max(t_exec - sp.start, 0.0)
                acc[layer]["exec_s"] += max(sp.end - t_exec, 0.0)
    io = defaultdict(float)
    for st in stages.values():
        layer = group_layer.get(st.group or "")
        if layer is None:
            continue
        if st.input_bytes > 0:
            io["input_mb"] += st.input_bytes / MB
            io["input_rows"] += st.input_rows
            io["scan_task_s"] += st.task_ms / 1000
        a = acc[layer]
        a["stages"] += 1
        a["tasks"] += st.tasks
        a["task_s"] += st.task_ms / 1000
        a["cpu_s"] += st.cpu_ns / 1e9
        a["gc_s"] += st.gc_ms / 1000
        a["shuffle_write_mb"] += st.shuffle_write / MB
        a["shuffle_read_mb"] += st.shuffle_read / MB
        a["spill_mb"] += st.spill / MB
        a["python_run_s"] += st.py.get("python_run_s", 0.0) / 1000
        a["python_sent_mb"] += st.py.get("python_sent_mb", 0.0) / MB
        a["python_recv_mb"] += st.py.get("python_recv_mb", 0.0) / MB
        wall[layer] += max(st.done_ms - st.submit_ms, 0) / 1000
    out: dict[str, float] = {}
    n = max(passes, 1)
    for layer in layers:
        a = acc[layer]
        for stat in LAYER_STATS:
            out[f"{layer}.{stat}"] = a[stat] / n
        cap = wall[layer] * cores
        out[f"{layer}.core_idle_frac"] = 1 - a["task_s"] / cap if cap > 0 else 0.0
    for stat in ("input_mb", "input_rows", "scan_task_s"):
        out[f"io.{stat}"] = io[stat] / n
    return out
