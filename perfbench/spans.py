"""Outside-in tracing for the benchmark: spans, action probes, event-log reader.

Nothing here reaches into ``miru_spark``. Spans wrap the benchmark's own calls
into the library's public functions; every span runs under its own Spark job
group, so the event log (``spark.eventLog.enabled``) can attribute task
metrics back to the span that caused them.

* :class:`Tracer` records spans ``(id, name, start, end, parent, rid)`` in
  memory. With tracing off it records nothing and sets no job group.
* :class:`ActionProbe` wraps PySpark's ``DataFrame.collect`` / ``count`` and
  ``DataFrameWriter.parquet`` while a build runs, opening one child span per
  Spark action. The span notes the statement in ``index_store.py`` that issued
  the action, found from the Python stack.
* :func:`read_event_log` folds the JSON event log into per-group job, stage
  and task sums plus the SQL executions' plan descriptions.
"""

from __future__ import annotations

import ast
import glob
import json
import os
import re
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    rid: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; ``enabled=False`` makes every span a no-op."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def group_id(self, span_id: int) -> str:
        return f"perfbench-{span_id}"

    @contextmanager
    def span(self, name: str, rid: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans), name=name, start=time.time(),
            parent=parent.id if parent else None,
            rid=rid if rid is not None else (parent.rid if parent else None),
            attrs=dict(attrs),
        )
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(self.group_id(s.id), name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(self.group_id(parent.id), parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """Duration minus the union of the intervals its children cover."""
        return span.dur - union_length(
            [(c.start, c.end) for c in self.children(span)], span.start, span.end
        )

    def subtree(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "start": s.start, "end": s.end,
                    "self": self.self_time(s), "parent": s.parent, "rid": s.rid,
                    **s.attrs,
                }) + "\n")


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
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


def _statement_names(path: str) -> dict[int, str]:
    """line -> name of the innermost assignment statement covering it
    (``frow = docs.agg(...).collect()[0]`` → ``frow``); expression
    statements map to ``expr``."""
    with open(path) as f:
        tree = ast.parse(f.read())
    out: dict[int, str] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and isinstance(node.targets[0], ast.Name):
            name = node.targets[0].id
        elif isinstance(node, ast.Expr):
            name = "expr"
        else:
            continue
        for ln in range(node.lineno, node.end_lineno + 1):
            # ast.walk is breadth-first: inner statements overwrite outer
            out[ln] = name
    return out


class ActionProbe:
    """Opens a child span around every Spark action issued from ``module``.

    Used only in traced runs: the wrappers add a stack walk per action. Each
    span carries ``callsite`` (``index_store.py:LINE``) and ``stmt`` (the
    assigned name of the issuing statement); writes are attributed later
    from the plan's output path in the event log.
    """

    def __init__(self, tracer: Tracer, module):
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        self.tracer = tracer
        self.path = os.path.abspath(module.__file__)
        self.stmts = _statement_names(self.path)
        self.targets = [(DataFrame, "collect"), (DataFrame, "count"),
                        (DataFrameWriter, "parquet")]
        self.saved: list = []

    def _callsite(self) -> int | None:
        f = sys._getframe(2)
        while f is not None:
            if os.path.abspath(f.f_code.co_filename) == self.path:
                return f.f_lineno
            f = f.f_back
        return None

    def __enter__(self):
        probe, where = self, os.path.basename(self.path)
        for cls, meth in self.targets:
            orig = getattr(cls, meth)
            self.saved.append((cls, meth, orig))

            def wrapper(*a, _orig=orig, _meth=meth, **kw):
                line = probe._callsite()
                if line is None:
                    return _orig(*a, **kw)
                with probe.tracer.span(
                    f"action.{_meth}", callsite=f"{where}:{line}",
                    stmt=probe.stmts.get(line, "?"),
                ):
                    return _orig(*a, **kw)

            setattr(cls, meth, wrapper)
        return self

    def __exit__(self, *exc):
        for cls, meth, orig in reversed(self.saved):
            setattr(cls, meth, orig)
        self.saved.clear()
        return False


# ---------------------------------------------------------------- event log

# "(48) Execute InsertIntoHadoopFsRelationCommand\nInput: []\nArguments: file:/x/segments/wave=0, false, ..."
_INSERT_PATH = re.compile(
    r"Execute InsertIntoHadoopFsRelationCommand\n(?:Input: .*\n)?Arguments: (?:file:)?([^,\s]+),"
)


@dataclass
class GroupSums:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_ms: float = 0.0
    executor_cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: float = 0.0
    fetch_wait_ms: float = 0.0
    spill_bytes: float = 0.0
    records_read: float = 0.0
    bytes_read: float = 0.0
    job_intervals: list = field(default_factory=list)  # (start_s, end_s)
    write_paths: list = field(default_factory=list)


def read_event_log(log_dir: str) -> dict[str, GroupSums]:
    """Per job group: job/stage/task counts, TaskEnd metric sums, job
    intervals (seconds since epoch) and the output paths of SQL writes."""
    files = sorted(glob.glob(os.path.join(log_dir, "*", "events_*"))) or sorted(
        p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)
    )
    groups: dict[str, GroupSums] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    gid = props.get("spark.jobGroup.id") or ""
                    g = groups.setdefault(gid, GroupSums())
                    g.jobs += 1
                    g.stages += len(e["Stage IDs"])
                    job_group[e["Job ID"]] = gid
                    job_start[e["Job ID"]] = e["Submission Time"] / 1e3
                    for sid in e["Stage IDs"]:
                        stage_group[sid] = gid
                elif ev == "SparkListenerJobEnd":
                    gid = job_group.get(e["Job ID"])
                    if gid is not None:
                        groups[gid].job_intervals.append(
                            (job_start[e["Job ID"]], e["Completion Time"] / 1e3)
                        )
                elif ev == "SparkListenerTaskEnd":
                    gid = stage_group.get(e["Stage ID"])
                    m = e.get("Task Metrics")
                    if gid is None or not m:
                        continue
                    g = groups[gid]
                    g.tasks += 1
                    g.executor_run_ms += m.get("Executor Run Time", 0)
                    g.executor_cpu_ns += m.get("Executor CPU Time", 0)
                    g.gc_ms += m.get("JVM GC Time", 0)
                    g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    g.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    g.fetch_wait_ms += sr.get("Fetch Wait Time", 0)
                    im = m.get("Input Metrics") or {}
                    g.records_read += im.get("Records Read", 0)
                    g.bytes_read += im.get("Bytes Read", 0)
                elif ev.endswith("SQLExecutionStart"):
                    paths = _INSERT_PATH.findall(e.get("physicalPlanDescription", ""))
                    if paths:
                        g = groups.setdefault(e.get("jobGroupId") or "", GroupSums())
                        g.write_paths.extend(paths)
    return groups
