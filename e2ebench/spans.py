"""Per-layer tracing from outside the program.

:class:`Tracer` wraps public functions of ``pride_spark`` modules (the
module attribute and every ``from ... import`` copy of it), so the
program is traced without being edited.  Each wrapped call records one
span — name, start, end, parent — in memory.  Every span runs under its
own Spark job group, and the jobs, stages and tasks of that group are
read back from Spark's public status tracker, so the counts are the
span's own (children run under their own groups).

Laziness: most layers return an unevaluated DataFrame whose work would
otherwise be charged to whichever later call first runs an action.  A
traced layer that returns a DataFrame is therefore *forced* inside its
span: a frame the program already persisted is counted, any other frame
is persisted and counted, so downstream consumers read it from the
cache.  This changes the plans of a traced pass; the difference to an
untraced pass is reported as tracing overhead.
"""

from __future__ import annotations

import contextlib
import os
import sys
import time

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_MEASURE_GROUP = "e2ebench-measure"


def layer_of(span_name: str) -> str:
    """``"operators.dedup.exact"`` -> ``"operators.dedup"``."""
    return span_name.rsplit(".", 1)[0]


def dir_bytes(path: str) -> int:
    """Bytes under ``path`` (a file or a directory tree), skipping the
    committer's checksum and marker files."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            if not f.endswith(".crc") and not f.startswith("_"):
                total += os.path.getsize(os.path.join(root, f))
    return total


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.enabled = False
        self._next_id = 0  # never reused: a job group names one span
        self._stack: list[int] = []
        self._forced: list[DataFrame] = []
        self._deferred: list[tuple] = []

    # ---------------------------------------------------------- spans

    def _group(self, sid: int | None) -> str:
        return _MEASURE_GROUP if sid is None else f"e2ebench-span-{sid}"

    @contextlib.contextmanager
    def span(self, name: str):
        """Record one span; jobs started inside run under its job group."""
        sid = self._next_id
        self._next_id += 1
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(self._group(sid), name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setJobGroup(self._group(parent), "e2ebench")

    @contextlib.contextmanager
    def measuring(self):
        """Jobs the benchmark runs to measure (not program work) go to a
        group no span owns."""
        prev = self._stack[-1] if self._stack else None
        self.sc.setJobGroup(_MEASURE_GROUP, "e2ebench measure")
        try:
            yield
        finally:
            self.sc.setJobGroup(self._group(prev), "e2ebench")

    # ---------------------------------------------------------- forcing

    def force(self, out):
        """Materialize a returned DataFrame (or each DataFrame value of a
        returned dict) inside the current span."""
        frames = out.values() if isinstance(out, dict) else [out]
        for df in frames:
            if not isinstance(df, DataFrame):
                continue
            level = df.storageLevel
            if not (level.useMemory or level.useDisk):
                df.persist(StorageLevel.MEMORY_AND_DISK)
                self._forced.append(df)
            df.count()

    def release_forced(self) -> None:
        for df in self._forced:
            df.unpersist(False)
        self._forced.clear()

    # ---------------------------------------------------------- wrapping

    def wrap(self, module: str, func: str, name: str, deferred=None):
        """Wrap ``module.func`` and every copy of it that another
        ``pride_spark`` module imported by name.  While :attr:`enabled`,
        each call is a span named ``name`` that also forces the returned
        DataFrames; ``deferred(out, args, kwargs) -> {metric: value}`` is
        kept for :meth:`run_deferred`."""
        __import__(module)
        orig = getattr(sys.modules[module], func)
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            with tracer.span(name):
                out = orig(*args, **kwargs)
                tracer.force(out)
            if deferred is not None:
                tracer._deferred.append((deferred, out, args, kwargs))
            return out

        wrapper.__wrapped__ = orig
        for mod_name, mod in list(sys.modules.items()):
            if mod_name.split(".")[0] == "pride_spark" and getattr(mod, func, None) is orig:
                setattr(mod, func, wrapper)

    def run_deferred(self) -> dict[str, float]:
        """Run the measurements the wrapped calls deferred; values of one
        metric from several calls are summed."""
        out: dict[str, float] = {}
        with self.measuring():
            for fn, result, args, kwargs in self._deferred:
                for k, v in fn(result, args, kwargs).items():
                    out[k] = out.get(k, 0) + v
        self._deferred.clear()
        return out

    # ---------------------------------------------------------- reading

    def job_counts(self, sid: int | None) -> dict:
        """Jobs, executed stages, completed and failed tasks of a span's
        job group, from the public status tracker."""
        st = self.sc.statusTracker()
        jobs = stages = tasks = failed = 0
        for jid in st.getJobIdsForGroup(self._group(sid)):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for stid in info.stageIds:
                s = st.getStageInfo(stid)
                if s is None or s.numCompletedTasks + s.numFailedTasks == 0:
                    continue  # skipped: its shuffle output was reused
                stages += 1
                tasks += s.numCompletedTasks
                failed += s.numFailedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed}

    def settle_counts(self, timeout: float = 3.0) -> None:
        """Status-tracker updates arrive through Spark's listener bus,
        asynchronously; read every span's counts once two reads 100 ms
        apart agree (or the timeout passes)."""
        deadline = time.perf_counter() + timeout
        prev = None
        while True:
            cur = [self.job_counts(s["id"]) for s in self.spans]
            if cur == prev or time.perf_counter() > deadline:
                break
            prev = cur
            time.sleep(0.1)
        for s, c in zip(self.spans, cur):
            s["counts"] = c

    def self_times(self) -> dict[int, float]:
        """Span duration minus the time its direct children in *other*
        layers cover (a layer calling into itself keeps that time)."""
        by_id = {s["id"]: s for s in self.spans}
        child = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            p = s["parent"]
            if p is not None and layer_of(by_id[p]["name"]) != layer_of(s["name"]):
                child[p] += s["end"] - s["start"]
        return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in self.spans}

    def reset(self) -> None:
        self.spans = []
