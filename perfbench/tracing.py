"""Layer tracing from outside the program: wrapped calls and Spark's event log.

Two sources, both attached by the benchmark without touching the package:

* ``Tracer`` replaces public functions of a module (module attributes) with
  wrappers that count calls and measure inclusive and self time per layer.
  Self time excludes the time spent in nested wrapped calls, so an operator
  that calls another wrapped operator is not charged twice. On every change
  of the innermost layer it calls ``on_change(layer)``; the benchmark uses it
  to set the Spark local property ``perfbench.layer``, so each job records
  the layer that fired it.
* ``EventLog`` parses an uncompressed, non-rolling Spark event log into one
  ``Job`` record per job: its job group, the ``perfbench.pass`` and
  ``perfbench.layer`` properties, its wall interval, and the stage, task,
  executor, shuffle, I/O and Python-worker totals of the tasks it ran.
"""

from __future__ import annotations

import functools
import inspect
import json
import statistics
import time
from collections.abc import Callable, Iterable
from dataclasses import dataclass, field
from types import ModuleType

LAYER_PROPERTY = "perfbench.layer"
PASS_PROPERTY = "perfbench.pass"
GROUP_PROPERTY = "spark.jobGroup.id"

# SQL metric names Spark gives every Python-evaluation node
# (ArrowEvalPython, MapInPandas, FlatMapGroupsInPandas, ...).
_PY_SENT = "data sent to Python workers"
_PY_RECEIVED = "data returned from Python workers"
_ROWS = "number of output rows"


@dataclass
class LayerStats:
    calls: int = 0
    total_s: float = 0.0  # outermost calls of the layer only
    self_s: float = 0.0


class Tracer:
    """Call counts, inclusive and self time per layer, for wrapped functions."""

    def __init__(self, clock: Callable[[], float] = time.perf_counter,
                 on_change: Callable[[str | None], None] | None = None):
        self._clock = clock
        self._on_change = on_change
        self._stack: list[list] = []  # [layer, child seconds]
        self._installed: list[tuple[ModuleType, str, Callable]] = []
        self.stats: dict[str, LayerStats] = {}

    def reset(self) -> None:
        self.stats = {}

    def wrap(self, layer: str, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            frame = [layer, 0.0]
            outermost = all(f[0] != layer for f in self._stack)
            self._stack.append(frame)
            if self._on_change:
                self._on_change(layer)
            t0 = self._clock()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = self._clock() - t0
                self._stack.pop()
                if self._on_change:
                    self._on_change(self._stack[-1][0] if self._stack else None)
                st = self.stats.setdefault(layer, LayerStats())
                st.calls += 1
                st.self_s += dt - frame[1]
                if outermost:
                    st.total_s += dt
                if self._stack:
                    self._stack[-1][1] += dt
        return traced

    def install(self, module: ModuleType, layer: str,
                names: Iterable[str] | None = None) -> None:
        """Wrap ``names`` on ``module``, or every public function the module
        defines itself (imported helpers keep their own layer)."""
        if names is None:
            names = [n for n, f in vars(module).items()
                     if not n.startswith("_") and inspect.isfunction(f)
                     and f.__module__ == module.__name__]
        for name in names:
            original = getattr(module, name)
            self._installed.append((module, name, original))
            setattr(module, name, self.wrap(layer, original))

    def uninstall(self) -> None:
        for module, name, original in reversed(self._installed):
            setattr(module, name, original)
        self._installed.clear()


@dataclass
class Job:
    job_id: int
    group: str | None
    pass_no: str | None
    layer: str | None
    submitted_ms: int
    completed_ms: int | None = None
    stages: int = 0
    tasks: int = 0
    task_retries: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_read_b: int = 0
    shuffle_write_b: int = 0
    spill_b: int = 0
    input_b: int = 0
    output_b: int = 0
    python_rows: int = 0
    python_sent_b: int = 0
    python_received_b: int = 0

    @property
    def phase(self) -> str | None:
        """``build`` or ``action`` from a ``<query>|<phase>`` job group."""
        if self.group and "|" in self.group:
            return self.group.rsplit("|", 1)[1]
        return None


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)

    @classmethod
    def parse(cls, lines: Iterable[str]) -> EventLog:
        log = cls()
        stage_job: dict[int, int] = {}
        python_accs: dict[int, str] = {}
        for line in lines:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(ev["Job ID"], props.get(GROUP_PROPERTY),
                          props.get(PASS_PROPERTY), props.get(LAYER_PROPERTY),
                          ev["Submission Time"])
                log.jobs[job.job_id] = job
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, job.job_id)
            elif kind == "SparkListenerJobEnd":
                log.jobs[ev["Job ID"]].completed_ms = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                if sid in stage_job:
                    log.jobs[stage_job[sid]].stages += 1
            elif kind == "SparkListenerTaskEnd":
                if ev["Stage ID"] in stage_job:
                    _add_task(log.jobs[stage_job[ev["Stage ID"]]], ev,
                              python_accs)
            elif kind.endswith(("SparkListenerSQLExecutionStart",
                                "SparkListenerSQLAdaptiveExecutionUpdate")):
                _collect_python_accs(ev["sparkPlanInfo"], python_accs)
        return log

    @classmethod
    def read(cls, path: str) -> EventLog:
        with open(path) as f:
            return cls.parse(f)


def _collect_python_accs(node: dict, out: dict[int, str]) -> None:
    metrics = {m["name"]: m["accumulatorId"] for m in node.get("metrics", [])}
    if _PY_SENT in metrics:
        out[metrics[_PY_SENT]] = "sent"
        out[metrics[_PY_RECEIVED]] = "received"
        if _ROWS in metrics:
            out[metrics[_ROWS]] = "rows"
    for child in node.get("children", []):
        _collect_python_accs(child, out)


def _add_task(job: Job, ev: dict, python_accs: dict[int, str]) -> None:
    info = ev["Task Info"]
    job.tasks += 1
    if info.get("Attempt", 0) > 0:
        job.task_retries += 1
    m = ev.get("Task Metrics") or {}
    job.run_ms += m.get("Executor Run Time", 0)
    job.cpu_ns += m.get("Executor CPU Time", 0)
    job.gc_ms += m.get("JVM GC Time", 0)
    read = m.get("Shuffle Read Metrics") or {}
    job.shuffle_read_b += (read.get("Remote Bytes Read", 0)
                           + read.get("Local Bytes Read", 0))
    job.shuffle_write_b += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0)
    job.spill_b += m.get("Disk Bytes Spilled", 0)
    job.input_b += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    job.output_b += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    for acc in info.get("Accumulables", []):
        kind = python_accs.get(acc.get("ID"))
        if kind and "Update" in acc:
            v = int(float(acc["Update"]))
            if kind == "rows":
                job.python_rows += v
            elif kind == "sent":
                job.python_sent_b += v
            else:
                job.python_received_b += v


def closure(traced: list[tuple[float, float, float]],
            untraced_s: list[float]) -> dict[str, float]:
    """Check that measured build and action time account for a pass.

    ``traced`` holds (build s, action s, wall s) of each traced pass, each
    timed on its own; ``untraced_s`` the wall times of the untraced passes.
    The overhead is what tracing adds to a pass; the unaccounted time is the
    part of a traced pass outside both build and action. Build plus action
    closes against the untraced pass time when they differ by no more than
    the overhead, or the spread of the untraced passes if that is larger.
    """
    med = statistics.median
    traced_s = med(w for _, _, w in traced)
    untraced = med(untraced_s)
    overhead = traced_s - untraced
    build_action = med(b + a for b, a, _ in traced)
    gap = build_action - untraced
    noise = 0.0
    if len(untraced_s) > 1:
        q = statistics.quantiles(untraced_s, n=4, method="inclusive")
        noise = q[2] - q[0]
    return {
        "trace.run_s": traced_s,
        "trace.untraced_run_s": untraced,
        "trace.overhead_s": overhead,
        "trace.build_action_s": build_action,
        "trace.unaccounted_s": med(w - b - a for b, a, w in traced),
        "trace.closure_gap_s": gap,
        "trace.closes": float(abs(gap) <= max(abs(overhead), noise)),
    }


def busy_seconds(jobs: Iterable[Job]) -> float:
    """Wall seconds covered by at least one of ``jobs`` (overlaps merged)."""
    spans = sorted((j.submitted_ms, j.completed_ms) for j in jobs
                   if j.completed_ms is not None)
    total, end = 0, None
    for s, e in spans:
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total / 1000.0
