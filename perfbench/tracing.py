"""Tracing for the per-layer run (``--trace 1``), measured from outside
the program: nothing under ``sparkgraft/`` is edited.

- Spans are kept in memory (name, start, end, parent, attributes) and
  written as one JSON file when the run ends.
- A span opened with the session also tags its Spark jobs with a job
  group and reads the status tracker when it closes, so it carries the
  jobs, stages and tasks launched inside it.
- ``instrument()`` wraps the public functions of ``sparkgraft.sources``,
  ``.operators``, ``.sinks`` and ``.streaming`` (plus
  ``FilePipeline.run_available``) and the ``__spark_entry__`` queries,
  and counts calls and inclusive seconds of the outermost call per
  family.
- ``event_log_stats()`` reads the Spark event log (enabled through
  ``get_spark(extra_conf=...)`` in the traced run only) and sums task
  seconds, shuffle writes and spill per job group.

With tracing off every hook is a no-op, so the untraced run executes
exactly the benchmark's own calls.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import inspect
import itertools
import json
import os
import pkgutil
import threading
import time
from collections import defaultdict

FAMILIES = ("sources", "operators", "sinks", "streaming")
_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.calls: dict[str, list] = defaultdict(lambda: [0, 0.0])
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self.drain_id: int | None = None

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, spark=None, parent: int | None = None, **attrs):
        """Open a span (``None`` when tracing is off).  With ``spark``
        given, the Spark jobs launched until ``end`` are tagged with a
        fresh job group and their job, stage and task counts are
        attached to the span.  ``parent`` overrides the enclosing span
        of this thread, for spans opened on another thread."""
        if not self.enabled:
            return None
        stack = self._stack()
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent if parent is not None else (stack[-1] if stack else None),
            **attrs,
        }
        if spark is not None:
            sc = spark.sparkContext
            rec["_saved"] = [sc.getLocalProperty(k) for k in _GROUP_KEYS]
            rec["_spark"] = spark
            rec["group"] = f"pb-{rec['id']}"
            sc.setJobGroup(rec["group"], name)
        stack.append(rec["id"])
        rec["wall_start"] = time.time()
        rec["start"] = time.perf_counter()
        return rec

    def end(self, rec) -> None:
        if rec is None:
            return
        rec["end"] = time.perf_counter()
        rec["wall_end"] = time.time()
        stack = self._stack()
        if stack and stack[-1] == rec["id"]:
            stack.pop()
        spark = rec.pop("_spark", None)
        saved = rec.pop("_saved", None)
        if spark is not None:
            sc = spark.sparkContext
            rec.update(job_counts(sc, rec["group"]))
            # Restore the caller's group: a foreachBatch callback runs
            # on the stream's own thread, whose group must survive it.
            for k, v in zip(_GROUP_KEYS, saved):
                sc.setLocalProperty(k, v)
        with self._lock:
            self.spans.append(rec)

    @contextlib.contextmanager
    def span(self, name: str, spark=None, **attrs):
        rec = self.begin(name, spark, **attrs)
        try:
            yield rec
        finally:
            self.end(rec)

    # -- module call counters --------------------------------------------------

    def instrument(self) -> None:
        """Wrap every public function of the four sparkgraft families
        and every ``q_*`` query of ``__spark_entry__``."""
        if not self.enabled:
            return
        for fam in FAMILIES:
            pkg = importlib.import_module(f"sparkgraft.{fam}")
            for info in pkgutil.iter_modules(pkg.__path__):
                mod = importlib.import_module(f"{pkg.__name__}.{info.name}")
                for name, obj in list(vars(mod).items()):
                    if (
                        not name.startswith("_")
                        and inspect.isfunction(obj)
                        and obj.__module__ == mod.__name__
                    ):
                        self._patch(mod, name, fam)
        from sparkgraft.streaming.pipeline import FilePipeline

        self._patch(FilePipeline, "run_available", "streaming")
        entry = importlib.import_module("__spark_entry__")
        for name, obj in list(vars(entry).items()):
            if name.startswith("q_") and inspect.isfunction(obj):
                self._patch(entry, name, "entry")
        # queries() hands out the functions it captured at import.
        entry.QUERIES.update(
            {k: getattr(entry, v.__name__) for k, v in entry.QUERIES.items()
             if hasattr(entry, v.__name__)}
        )

    def _patch(self, owner, name: str, family: str) -> None:
        fn = getattr(owner, name)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            depth = getattr(tracer._local, family, 0)
            if depth:
                return fn(*args, **kwargs)
            setattr(tracer._local, family, 1)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                setattr(tracer._local, family, 0)
                with tracer._lock:
                    c = tracer.calls[family]
                    c[0] += 1
                    c[1] += dt

        setattr(owner, name, wrapper)

    def reset_calls(self) -> None:
        with self._lock:
            self.calls.clear()

    # -- output ---------------------------------------------------------------

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "calls": dict(self.calls)}, fh)


def job_counts(sc, group: str) -> dict:
    """Jobs, stages and tasks the status tracker holds for ``group``.
    Skipped stages (their shuffle output reused) have no stage info and
    are not counted."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in info.stageIds if info else ():
            sinfo = st.getStageInfo(sid)
            if sinfo is not None and sinfo.numTasks:
                stages += 1
                tasks += sinfo.numTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def cached_mb(sc) -> float:
    """Memory plus disk held by persisted and checkpointed RDDs."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def event_log_stats(log_dir: str) -> tuple[dict[str, dict], list[tuple[float, str | None]]]:
    """Per job group: task seconds (executor run time), shuffle bytes
    written, bytes spilled and the longest task's run time; plus every
    job's submission time (epoch seconds) and group."""
    stage_group: dict[int, str] = {}
    jobs: list[tuple[float, str | None]] = []
    out: dict[str, dict] = defaultdict(
        lambda: {"task_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0, "max_task_s": 0.0}
    )
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    jobs.append((ev.get("Submission Time", 0) / 1000.0, g))
                    for sid in ev.get("Stage IDs", ()) if g else ():
                        stage_group[sid] = g
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    g = stage_group.get(ev.get("Stage ID"))
                    if g is None:
                        continue
                    met = ev.get("Task Metrics") or {}
                    run_s = met.get("Executor Run Time", 0) / 1000.0
                    rec = out[g]
                    rec["task_s"] += run_s
                    rec["max_task_s"] = max(rec["max_task_s"], run_s)
                    rec["shuffle_write_bytes"] += (met.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    rec["spill_bytes"] += met.get("Memory Bytes Spilled", 0) + met.get(
                        "Disk Bytes Spilled", 0
                    )
    return dict(out), jobs
