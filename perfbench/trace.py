"""Spans around the package's public functions, installed from outside.

``Tracer.install`` replaces chosen functions with timing wrappers in every
loaded module of the package that holds a reference to them (modules bind
``from x import f`` at import time, so patching the defining module alone
would miss those callers). Nothing in the package is edited.

Each span records (name, start, end, parent, run id, thread) and runs its
Spark jobs under its own job group, so ``statusTracker()`` attributes jobs
to the innermost span, and the event log attributes stages and task
counters the same way.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import DataFrame

PACKAGE = "ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark"
PROBE = "trace.probe"


class Span:
    __slots__ = ("sid", "name", "start", "end", "wall_start", "parent", "run", "thread", "group",
                 "jobs", "returned_frame")

    def __init__(self, sid, name, parent, run, group):
        self.sid, self.name, self.parent, self.run, self.group = sid, name, parent, run, group
        self.thread = threading.get_ident()
        self.wall_start = time.time()  # event-log job times are wall clock
        self.start = time.perf_counter()
        self.end = None
        self.jobs: list[int] = []
        self.returned_frame = False  # a DataFrame came back: its jobs ran before any action


class Tracer:
    """In-memory span store for one benchmark run."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._main_stack: list[Span] = []
        self._installed: list[tuple[object, str, object]] = []
        self._lock = threading.Lock()

    # -- spans -----------------------------------------------------------
    def _stack(self) -> list[Span]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        # a callback thread (foreachBatch) has no stack of its own: its
        # spans hang under whatever the main thread has open
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sid = next(self._ids)
        group = f"{self.run_id}/{sid}"
        s = Span(sid, name, parent.sid if parent else None, self.run_id, group)
        self.sc.setJobGroup(group, name)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            if stack:
                self.sc.setJobGroup(stack[-1].group, stack[-1].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(s)

    def probe(self, fn, *args):
        """Run a measurement-only action (row counts the layer does not
        report itself) under its own span, which the parent's self time
        excludes and the report lists as tracing cost."""
        with self.span(PROBE):
            return fn(*args)

    # -- wrappers --------------------------------------------------------
    def wrap(self, fn, name: str, before=None, after=None):
        """``before(tracer, args, kwargs)`` runs before the span opens and
        ``after(tracer, args, kwargs, result, state)`` after it closes
        (``state`` is what ``before`` returned), for counters that need the
        call's inputs or result."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            state = before(self, args, kwargs) if before else None
            with self.span(name) as s:
                result = fn(*args, **kwargs)
                s.returned_frame = isinstance(result, DataFrame)
            if after:
                after(self, args, kwargs, result, state)
            return result

        return traced

    def install(self, targets: dict[str, tuple], extra_modules=()) -> None:
        """``targets``: span name -> (defining module, attribute, before,
        after). Every package module (and ``extra_modules``) that binds the
        same function object gets the wrapper."""
        mods = [m for n, m in list(sys.modules.items()) if n == PACKAGE or n.startswith(PACKAGE + ".")]
        mods += list(extra_modules)
        for name, (module, attr, before, after) in targets.items():
            original = getattr(module, attr)
            wrapper = self.wrap(original, name, before, after)
            for m in mods:
                for a, v in list(vars(m).items()):
                    if v is original:
                        setattr(m, a, wrapper)
                        self._installed.append((m, a, original))

    def uninstall(self) -> None:
        for m, a, original in reversed(self._installed):
            setattr(m, a, original)
        self._installed.clear()

    # -- attribution -----------------------------------------------------
    def collect_jobs(self) -> None:
        """Fill each span's job ids from statusTracker (stage and task
        totals come from the event log, which also sees jobs outside any
        span)."""
        st = self.sc.statusTracker()
        for s in self.spans:
            s.jobs = sorted(st.getJobIdsForGroup(s.group))

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the part of each span's interval
        its children cover (children on any thread)."""
        children = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append((s.start, s.end))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(children.get(s.sid, [])):
                lo, hi = max(lo, s.start), min(hi, s.end)
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s.name] += (s.end - s.start) - covered
        return dict(out)


# -- event log -------------------------------------------------------------

PYTHON_RUN_TIME = "time to run Python workers"  # SQL metric, milliseconds
JOB_COUNTERS = ("stages", "tasks", "executor_run_s", "executor_cpu_s", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes", "python_s")


def read_event_log(directory: str) -> dict:
    """One record per job from Spark's JSON-lines event log (written only
    when the launch configuration enables it): job group, submission time
    (epoch seconds), stages, tasks, executor run and CPU seconds, shuffle
    read and write bytes, spill bytes and Python-worker run seconds.
    ``python_metric_names`` lists the Python-worker metrics this Spark
    version exposed, so a missing one can be reported as missing."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    py_names: set[str] = set()
    # Spark 4 writes a rolling log: eventlog_v2_<app>/events_<n>_<app>
    files = sorted(
        os.path.join(d, f) for d, _, fs in os.walk(directory) for f in fs if f.startswith("events")
    )
    for f in files:
        with open(f) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    j = dict.fromkeys(JOB_COUNTERS, 0.0)
                    j["group"] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    j["submitted"] = ev.get("Submission Time", 0) / 1e3
                    j["stages"] = float(len(ev.get("Stage IDs", [])))
                    jobs[ev["Job ID"]] = j
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerTaskEnd":
                    j = jobs.get(stage_job.get(ev.get("Stage ID")))
                    if j is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    j["tasks"] += 1
                    j["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    j["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    sr = m.get("Shuffle Read Metrics") or {}
                    j["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    j["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    j["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    for u in (ev.get("Task Info") or {}).get("Accumulables", []):
                        name = u.get("Name") or ""
                        if "Python" in name:
                            py_names.add(name)
                        if name == PYTHON_RUN_TIME:
                            j["python_s"] += float(u.get("Update", 0)) / 1e3
    return {"jobs": list(jobs.values()), "python_metric_names": sorted(py_names)}
