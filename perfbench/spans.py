"""Spans around calls into the engine's layers, joined with the Spark
event log.

A span records (name, start, end, parent, cycle). Each span also sets
the Spark job group ``pb-<span id>`` in its own thread and, on exit,
puts back its parent's group, so every job a wrapped call launches --
from the caller's thread or from the pipeline's tile pool -- lands on
the innermost open span. Work a pool thread does between wrapped calls
is charged to the phase the pool serves (the open top-level span).
Spans stay in memory; ``EventLog`` reads the uncompressed event log
written when the session stops and attributes jobs, tasks, executor
time, shuffle, output, spill, GC and SQL metrics to spans by group.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "pb-"
GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    parent: Span | None
    cycle: int | None
    start: float
    end: float = 0.0
    children: list[Span] = field(default_factory=list)

    @property
    def group(self) -> str:
        return f"{GROUP_PREFIX}{self.id}"

    @property
    def wall(self) -> float:
        return self.end - self.start

    def self_time(self) -> float:
        """Duration minus the part of it the direct children cover
        (children of one span can run at once on the tile pool)."""
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in sorted((max(c.start, self.start), min(c.end, self.end))
                           for c in self.children):
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return self.wall - covered


class Tracer:
    """Records spans while ``enabled``; a disabled tracer only forwards."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.enabled = False
        self.cycle: int | None = None
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        # the open top-level span: the parent of spans opened by pool
        # threads that have no open span of their own
        self._top: Span | None = None

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        parent = stack[-1] if stack else self._top
        with self._lock:
            sp = Span(next(self._ids), name, parent, self.cycle, time.time())
            self.spans.append(sp)
            if parent is not None:
                parent.children.append(sp)
        top_level = parent is None
        if top_level:
            self._top = sp
        stack.append(sp)
        self.sc.setLocalProperty(GROUP_KEY, sp.group)
        try:
            yield
        finally:
            sp.end = time.time()
            stack.pop()
            self.sc.setLocalProperty(GROUP_KEY, parent.group if parent else None)
            if top_level:
                self._top = None

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def wrap_methods(self, obj, prefix: str, methods: list[str]) -> None:
        """Shadow bound methods on one instance with traced ones."""
        for m in methods:
            setattr(obj, m, self.wrap(getattr(obj, m), f"{prefix}.{m}"))

    def dump(self, path: str, ev: EventLog) -> None:
        """Write every span with its self time and its own Spark cost."""
        rows = [{"id": sp.id, "name": sp.name, "parent": sp.parent and sp.parent.id,
                 "cycle": sp.cycle, "start": sp.start, "end": sp.end,
                 "self_s": sp.self_time(), **vars(ev.cost([sp]))}
                for sp in self.spans]
        with open(path, "w") as f:
            json.dump(rows, f)


# -- event log ---------------------------------------------------------------

@dataclass
class Cost:
    jobs: int = 0
    tasks: int = 0
    exec_run_ms: float = 0.0
    exec_cpu_ms: float = 0.0
    gc_ms: float = 0.0
    spill_bytes: int = 0
    shuffle_bytes: int = 0  # read + written
    input_bytes: int = 0
    output_bytes: int = 0
    output_records: int = 0
    python_worker_boot_ms: float = 0.0

    def add(self, o: Cost) -> None:
        for k, v in vars(o).items():
            setattr(self, k, getattr(self, k) + v)


PY_BOOT_METRIC = "time to start Python workers"
SCAN_SIZE_METRIC = "size of files read"


class EventLog:
    """One application's event log, folded per job group."""

    def __init__(self, log_dir: str, source_path: str | None = None):
        files = [f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
                 if os.path.isfile(f) and not os.path.basename(f).startswith((".", "appstatus"))]
        if not files:
            raise RuntimeError(f"no event log under {log_dir}")
        self.source_path = source_path.rstrip("/") if source_path else None
        self.jobs: dict[int, dict] = {}  # id -> group, submitted (s), SQL action
        self.by_group: dict[str | None, Cost] = defaultdict(Cost)
        # distinct source scans that read data, and their bytes, per group
        self.source_scans: dict[str | None, set[int]] = defaultdict(set)
        self.source_read_bytes: dict[str | None, int] = defaultdict(int)
        stage_group: dict[int, str | None] = {}
        exec_group: dict[int, str | None] = {}
        exec_action: dict[str, str] = {}  # SQL execution id -> "count at ..."
        scan_acc: dict[int, str | None] = {}  # 'size of files read' id -> group
        for path in sorted(files):
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev["Event"]
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        g = props.get(GROUP_KEY)
                        self.jobs[ev["Job ID"]] = {
                            "group": g, "submitted": ev["Submission Time"] / 1000.0,
                            "action": exec_action.get(props.get("spark.sql.execution.id"), "")}
                        self.by_group[g].jobs += 1
                        for s in ev["Stage IDs"]:
                            stage_group.setdefault(s, g)
                    elif kind == "SparkListenerTaskEnd":
                        self._task(ev, stage_group.get(ev["Stage ID"]))
                    elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                        eid = ev["executionId"]
                        if kind.endswith("Start"):
                            exec_group[eid] = ev.get("jobGroupId")
                            exec_action[str(eid)] = ev.get("description", "")
                        for acc in self._source_scans(ev["sparkPlanInfo"]):
                            scan_acc.setdefault(acc, exec_group.get(eid))
                    elif kind.endswith("DriverAccumUpdates"):
                        for acc, value in ev["accumUpdates"]:
                            if acc in scan_acc:
                                self.source_scans[scan_acc[acc]].add(acc)
                                self.source_read_bytes[scan_acc[acc]] += value

    def _source_scans(self, node: dict) -> list[int]:
        """Accumulator ids of 'size of files read' for every parquet scan
        over the source directory in an SQL execution's plan. A scan
        under a cached relation shares its ids with the execution that
        filled the cache, so it counts once."""
        out = []
        if self.source_path is not None and node.get("nodeName", "").startswith("Scan"):
            loc = node.get("metadata", {}).get("Location", "")
            here = f"file:{self.source_path}"
            if f"{here}]" in loc or f"{here}," in loc:
                out += [m["accumulatorId"] for m in node.get("metrics", [])
                        if m["name"] == SCAN_SIZE_METRIC]
        for c in node.get("children", []):
            out += self._source_scans(c)
        return out

    def _task(self, ev: dict, group: str | None) -> None:
        m = ev.get("Task Metrics") or {}
        c = self.by_group[group]
        c.tasks += 1
        c.exec_run_ms += m.get("Executor Run Time", 0)
        c.exec_cpu_ms += m.get("Executor CPU Time", 0) / 1e6
        c.gc_ms += m.get("JVM GC Time", 0)
        c.spill_bytes += m.get("Disk Bytes Spilled", 0)
        sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
        c.shuffle_bytes += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                            + sw.get("Shuffle Bytes Written", 0))
        c.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
        out = m.get("Output Metrics", {})
        c.output_bytes += out.get("Bytes Written", 0)
        c.output_records += out.get("Records Written", 0)
        for a in ev.get("Task Info", {}).get("Accumulables", []):
            if a.get("Name") == PY_BOOT_METRIC:
                c.python_worker_boot_ms += float(a.get("Update", 0))

    def cost(self, spans: list[Span]) -> Cost:
        """Summed cost of the jobs tagged with these spans' own groups."""
        total = Cost()
        for sp in spans:
            if sp.group in self.by_group:
                total.add(self.by_group[sp.group])
        return total

    def untagged_jobs(self, windows: list[tuple[float, float]]) -> int:
        """Jobs submitted inside the windows that carry no span group."""
        return sum(1 for j in self.jobs.values()
                   if not (j["group"] or "").startswith(GROUP_PREFIX)
                   and any(s <= j["submitted"] <= e for s, e in windows))

    def jobs_in(self, spans: list[Span], action: str) -> int:
        """Jobs tagged with these spans that belong to an SQL execution
        whose action starts with ``action`` (e.g. ``"count at"``)."""
        groups = {sp.group for sp in spans}
        return sum(1 for j in self.jobs.values()
                   if j["group"] in groups and j["action"].startswith(action))
