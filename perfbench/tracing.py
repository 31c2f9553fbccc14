"""Traced-run instrumentation, installed from outside the engine.

Nothing in ``snapflow_spark`` knows about it: :func:`instrument`
replaces layer entry points with timing wrappers in every loaded
module that references them, and counts py4j round trips by wrapping
py4j's ``send_command``.  Spans are kept in memory and written once,
by :meth:`Tracer.dump`.  Spark's own job, stage and task figures come
from the event log, which only a traced run enables, keyed by the job
group each timed operation runs under.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import pkgutil
import sys
import time
from collections import Counter
from contextlib import contextmanager, nullcontext
from pathlib import Path


class Tracer:
    """Spans and per-layer counters of one benchmark process.

    A span is ``(name, start, end, parent, invocation)``; ``parent`` is
    the index of the enclosing span, ``invocation`` the id of the timed
    operation it belongs to.  Layer seconds and calls are summed only
    for the outermost span of each layer, so an operator that calls
    another operator is not counted twice.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.secs: Counter = Counter()
        self.counts: Counter = Counter()
        self.py4j = 0
        self.invocation: str | None = None
        self._stack: list[int] = []
        self._depth: Counter = Counter()
        self.t0 = time.perf_counter()

    def __reduce__(self):
        # A wrapped function that ends up inside a UDF closure is pickled
        # to Python workers; there it gets a disabled tracer, not a copy
        # of every span recorded so far.
        return (Tracer, (False,))

    def span(self, name: str, layer: str | None = None, **attrs):
        if not self.enabled:
            return nullcontext()
        return self._span(name, layer, attrs)

    @contextmanager
    def _span(self, name: str, layer: str | None, attrs: dict):
        rec = {
            "name": name,
            "start": time.perf_counter() - self.t0,
            "parent": self._stack[-1] if self._stack else None,
            "invocation": self.invocation,
            "py4j_start": self.py4j,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        if layer:
            self._depth[layer] += 1
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            rec["py4j"] = self.py4j - rec.pop("py4j_start")
            self._stack.pop()
            if layer:
                self._depth[layer] -= 1
                if self._depth[layer] == 0 and self.invocation is not None:
                    self.secs[layer] += rec["end"] - rec["start"]
                    self.counts[layer] += 1

    @contextmanager
    def operation(self, invocation_id: str, sc, name: str):
        """Attribute everything inside to one timed operation: its spans
        carry the id, and its Spark jobs run in a job group of that id."""
        prev = self.invocation
        self.invocation = invocation_id
        if self.enabled:
            sc.setJobGroup(invocation_id, name)
        try:
            with self.span(name, kind="operation"):
                yield
        finally:
            if self.enabled:
                sc.setLocalProperty("spark.jobGroup.id", None)
            self.invocation = prev

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def timed(*a, **k):
            with self.span(name, layer):
                return fn(*a, **k)

        return timed

    def dump(self, path: Path, extra: dict) -> None:
        path.write_text(json.dumps({"spans": self.spans, **extra}))


def _replace_everywhere(orig, new) -> None:
    """Point every ``snapflow_spark`` module global that is ``orig`` at
    ``new`` (modules import layer functions by name)."""
    for mod in list(sys.modules.values()):
        if mod is None or not mod.__name__.startswith("snapflow_spark"):
            continue
        for key, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, key, new)


def _patch_py4j(tracer: Tracer) -> None:
    import py4j.clientserver as cs
    import py4j.java_gateway as jg

    for cls in (cs.ClientServerConnection, jg.GatewayClient):
        real = cls.send_command

        def counted(self, *a, _real=real, **k):
            tracer.py4j += 1
            return _real(self, *a, **k)

        cls.send_command = counted


#: (module, attribute, layer) of each library entry point a traced run
#: times; methods are given as ``Class.method``.
ENTRY_POINTS = [
    ("snapflow_spark.catalog", "load_table", "catalog.load_table"),
    ("snapflow_spark.incremental.pipeline", "Pipeline.produce", "pipeline.produce"),
    ("snapflow_spark.incremental.store", "SnapshotStore.append", "store.append"),
    ("snapflow_spark.incremental.store", "SnapshotStore.read", "store.read"),
    ("snapflow_spark.incremental.store", "SnapshotStore.read_latest", "store.read"),
    ("snapflow_spark.sources.delta", "write_delta", "delta.append"),
    ("snapflow_spark.sources.delta", "merge_delta", "delta.merge"),
    ("snapflow_spark.sources.delta", "read_delta", "delta.read"),
    ("snapflow_spark.sources.iceberg", "write_iceberg", "iceberg.append"),
    ("snapflow_spark.sources.iceberg", "upsert_iceberg", "iceberg.upsert"),
    ("snapflow_spark.sources.iceberg", "read_iceberg", "iceberg.read"),
]


def instrument(tracer: Tracer) -> None:
    """Install the py4j counter and the layer wrappers: the entry points
    above, and every public function of every ``snapflow_spark.operators``
    module (layer ``operators.construct``)."""
    _patch_py4j(tracer)
    for modname, attr, layer in ENTRY_POINTS:
        mod = importlib.import_module(modname)
        if "." in attr:
            cls_name, meth = attr.split(".")
            cls = getattr(mod, cls_name)
            setattr(cls, meth, tracer.wrap(getattr(cls, meth), attr, layer))
        else:
            orig = getattr(mod, attr)
            _replace_everywhere(orig, tracer.wrap(orig, f"{modname}.{attr}", layer))
    import snapflow_spark.operators as ops

    for info in pkgutil.iter_modules(ops.__path__):
        mod = importlib.import_module(f"{ops.__name__}.{info.name}")
        for attr, fn in list(vars(mod).items()):
            if (
                inspect.isfunction(fn)
                and not attr.startswith("_")
                and fn.__module__ == mod.__name__
            ):
                _replace_everywhere(
                    fn, tracer.wrap(fn, f"{mod.__name__}.{attr}", "operators.construct")
                )


_PY_EVAL = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInPandas",
    "MapInArrow",
    "PythonMapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas",
    "FlatMapCoGroupsInArrow",
    "AggregateInPandas",
    "WindowInPandas",
    "BatchEvalPythonUDTF",
    "ArrowEvalPythonUDTF",
)


def python_eval_nodes(plan_text: str) -> int:
    """Python/Arrow evaluation operators in a physical plan's text."""
    n = 0
    for line in plan_text.splitlines():
        head = line.lstrip(" :+-*!()0123456789")
        n += head.startswith(_PY_EVAL)
    return n


def spark_figures(event_log_dir: Path, groups: set[str], cores: int) -> dict:
    """Job, stage, task, shuffle and spill figures for the jobs run in
    ``groups``, read from the event log(s) under ``event_log_dir``."""
    events = []
    for f in sorted(event_log_dir.rglob("*")):
        if f.is_file() and f.name.startswith("events_"):
            with f.open() as fh:
                events.extend(json.loads(line) for line in fh)
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_submit: dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group in groups:
                jobs[ev["Job ID"]] = {"start": ev["Submission Time"]}
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = ev["Job ID"]
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            stage_submit.setdefault(info["Stage ID"], info.get("Submission Time"))
    for ev in events:
        if ev.get("Event") == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
    tasks = [ev for ev in events
             if ev.get("Event") == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_job]
    busy = wait = shuffle_w = shuffle_r = spill = failed = 0
    stages = set()
    for ev in tasks:
        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
        stages.add(ev["Stage ID"])
        failed += bool(info.get("Failed"))
        busy += info["Finish Time"] - info["Launch Time"]
        submitted = stage_submit.get(ev["Stage ID"])
        if submitted is not None:
            wait += max(0, info["Launch Time"] - submitted)
        sr = m.get("Shuffle Read Metrics") or {}
        shuffle_r += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        shuffle_w += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    # wall time with at least one job of the groups running
    exec_ms, cursor = 0, None
    for start, end in sorted((j["start"], j.get("end", j["start"])) for j in jobs.values()):
        if cursor is None or start > cursor:
            exec_ms += end - start
            cursor = end
        elif end > cursor:
            exec_ms += end - cursor
            cursor = end
    mb = 1024 * 1024
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": len(tasks),
        "spark.failed_tasks": failed,
        "spark.exec_s": exec_ms / 1000,
        "spark.task_busy_s": busy / 1000,
        "spark.core_util": busy / (exec_ms * cores) if exec_ms else 0.0,
        "spark.sched_wait_s": wait / 1000,
        "spark.shuffle_write_mb": shuffle_w / mb,
        "spark.shuffle_read_mb": shuffle_r / mb,
        "spark.spill_mb": spill / mb,
    }
