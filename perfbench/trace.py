"""Per-layer tracing for the benchmark.

A :class:`Tracer` keeps spans (name, layer, start, end, parent) in memory
and writes them out once, at the end of a run.  :func:`install` wraps the
engine's public layer functions so every call becomes a span; it must run
before the operator modules are imported, because some of them bind
``fan_out`` and ``load_table`` by name at import.  The wrappers stay in
place for the whole run and record only while ``tracer.enabled`` is set,
so one process can time the same operation traced and untraced.

:class:`SparkCounters` reads Spark's own counters around a call: job ids,
stages, tasks, task time, shuffle bytes and storage memory, from the
status store after the listener bus has drained.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JError

from perfbench.stats import dir_bytes


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        # innermost open span of the thread that drives the workload; a
        # span opened on another thread (an operator's own thread pool)
        # with nothing open on that thread is parented here
        self._main_stack: list[int] = []
        self._main = threading.get_ident()

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, layer: str | None = None, **attrs):
        """Record one span; yields its dict so the caller may add attrs."""
        if not self.enabled:
            yield {}
            return
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        rec = {
            "name": name,
            "layer": layer or name.split(".", 1)[0],
            "start": time.perf_counter(),
            "end": None,
            "parent": parent,
            **attrs,
        }
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        stack.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def wrap(self, owner, attr: str, name: str, on_return=None) -> None:
        """Replace ``owner.attr`` with a spanning wrapper.  ``on_return``
        (span dict, args, result) may add attributes after the call."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name) as rec:
                try:
                    out = fn(*args, **kwargs)
                except Exception as exc:
                    rec["error"] = type(exc).__name__
                    raise
                if on_return is not None:
                    on_return(rec, args, out)
                return out

        setattr(owner, attr, traced)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s}, default=str) + "\n")


def _count_files(rec, args, adds) -> None:
    """Files and bytes one ``BTable._write_files`` call left on disk."""
    table = args[0].path
    rec["files"] = len(adds)
    rec["bytes"] = sum(
        dir_bytes(os.path.join(table, d))
        for d in {os.path.dirname(a["path"]) for a in adds}
    )


def install(tracer: Tracer) -> None:
    """Wrap the layer entry points.  Call before importing op modules."""
    import biggie_spark.io as io
    import biggie_spark.util as util
    from biggie_spark.stash import Stash
    from biggie_spark.tablefmt import BTable

    tracer.wrap(util, "fan_out", "util.fan_out")
    tracer.wrap(util, "fan_in", "util.fan_in")
    tracer.wrap(io, "load_table", "io.load_table")
    for attr, name in (
        ("get", "stash.get"),
        ("mget", "stash.mget"),
        ("__contains__", "stash.contains"),
    ):
        tracer.wrap(Stash, attr, name)
    for attr in ("snapshot", "read", "merge", "append", "delete", "_commit"):
        tracer.wrap(BTable, attr, f"tablefmt.{attr.lstrip('_')}")
    tracer.wrap(BTable, "_write_files", "tablefmt.write_files", _count_files)


class SparkCounters:
    """Cumulative Spark counters, read from Spark's status store."""

    FIELDS = (
        "jobs",
        "stages",
        "tasks",
        "task_s",
        "shuffle_write_bytes",
        "shuffle_read_bytes",
        "failed_tasks",
    )

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext._jsc.sc()
        self.store = self.sc.statusStore()
        self.last_job = self._max_job_id()
        self._stages = 0

    def drain(self) -> None:
        """Wait until every posted scheduler event reached the store."""
        self.sc.listenerBus().waitUntilEmpty()

    def _max_job_id(self) -> int:
        jobs = self.store.jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def read(self) -> dict[str, float]:
        """Counters now.  Jobs and stages advance by job id: every job
        with an id above the last one seen is new, whichever thread or
        job group launched it."""
        self.drain()
        top = self._max_job_id()
        for jid in range(self.last_job + 1, top + 1):
            try:
                j = self.store.job(jid)
            except Py4JError:
                continue  # evicted from the store: counted as a job only
            self._stages += j.numCompletedStages() + j.numFailedStages()
        self.last_job = max(self.last_job, top)
        ex = self.store.executorList(True)
        tot = {"tasks": 0, "task_ms": 0, "sw": 0, "sr": 0, "failed": 0, "mem": 0}
        for i in range(ex.size()):
            e = ex.apply(i)
            tot["tasks"] += e.totalTasks()
            tot["task_ms"] += e.totalDuration()
            tot["sw"] += e.totalShuffleWrite()
            tot["sr"] += e.totalShuffleRead()
            tot["failed"] += e.failedTasks()
            tot["mem"] += e.memoryUsed()
        return {
            "jobs": top + 1,
            "stages": self._stages,
            "tasks": tot["tasks"],
            "task_s": tot["task_ms"] / 1000.0,
            "shuffle_write_bytes": tot["sw"],
            "shuffle_read_bytes": tot["sr"],
            "failed_tasks": tot["failed"],
            "storage_mb": tot["mem"] / 2**20,
        }

    @staticmethod
    def delta(before: dict, after: dict) -> dict[str, float]:
        return {k: after[k] - before[k] for k in SparkCounters.FIELDS}


def catalyst_phases(df) -> dict[str, float]:
    """Seconds Catalyst spent in analysis, optimization and planning for
    the query behind ``df`` (its QueryExecution's phase tracker)."""
    out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    try:
        phases = df._jdf.queryExecution().tracker().phases()
        for k in out:
            if phases.contains(k):
                out[k] = phases.apply(k).durationMs() / 1000.0
    except Py4JError:
        pass  # no tracker on this plan: phases stay 0
    return out


def scan_output_rows(df) -> int:
    """Rows the file scans of ``df``'s executed plan produced (the scan's
    ``numOutputRows`` SQL metric); read after the action."""
    total = 0
    leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
    for i in range(leaves.size()):
        m = leaves.apply(i).metrics()
        if m.contains("numOutputRows"):
            total += m.apply("numOutputRows").value()
    return total
