"""Spans and per-layer readers for the traced run.

Everything here lives in the benchmark, around calls into the
program's public entry points; the program itself is not instrumented.

* :class:`Tracer` keeps spans in memory (name, start, end, parent id,
  op id) and computes self time.
* :class:`SparkProbe` reads the per-op job groups back out of Spark's
  status store (jobs, stages, tasks, run/CPU time, bytes, spill, task
  skew), the query-execution tracker phases, the JVM's CPU and GC
  clocks, and streaming progress through a ``StreamingQueryListener``.
* :func:`wrap_layer_calls` wraps ``catalog.table``, the ``sources``
  readers and Spark's batch writers so their calls become spans.
"""

from __future__ import annotations

import functools
import os
import statistics
import sys
import time
from contextlib import contextmanager
from typing import Any, Callable, Iterator

STREAM_PHASES = ("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets")


class Tracer:
    """In-memory span recorder. ``enabled`` switches the optional
    child spans (layer wrappers) on and off; cycle/op/build/action
    spans are always recorded because the untraced metrics come from
    them too."""

    def __init__(self) -> None:
        self.spans: list[dict[str, Any]] = []
        self.enabled = False
        self._stack: list[dict[str, Any]] = []
        self._next_id = 0

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs: Any) -> Iterator[dict]:
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": self._next_id,
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self._next_id += 1
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part of it its children cover."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, edge = 0.0, s["start"]
        for c in sorted(children.get(s["id"], ()), key=lambda c: c["start"]):
            lo, hi = max(c["start"], edge), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                edge = hi
        out[s["id"]] = duration(s) - covered
    return out


def _dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``; Hadoop's hidden ``.crc`` and
    ``_SUCCESS`` markers are not data files."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


_WRITER_METHODS = ("save", "parquet", "csv", "json", "orc", "text")


def wrap_layer_calls(tracer: Tracer, package: str) -> Callable[[], None]:
    """Turn calls into the catalog, the ``sources`` readers and Spark's
    batch writers into spans while ``tracer.enabled``. Every module of
    ``package`` that imported one of these functions by name gets the
    wrapper. Returns a function that undoes the wrapping."""
    from pyspark.sql.readwriter import DataFrameWriter  # noqa: PLC0415

    catalog = sys.modules[f"{package}.catalog"]
    sources = sys.modules[f"{package}.sources"]
    # id(function) -> span name; the modules keep the functions alive.
    targets = {id(catalog.table): "catalog.table"}
    for name, fn in vars(sources).items():
        if callable(fn) and name.startswith("read"):
            targets[id(fn)] = "read"

    def spanned(span_name: str, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def call(*a, **kw):
            if not tracer.enabled:
                return fn(*a, **kw)
            with tracer.span(span_name, fn=fn.__name__):
                return fn(*a, **kw)

        return call

    undo: list[tuple[Any, str, Any]] = []
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(package):
            continue
        for attr, val in list(vars(mod).items()):
            if id(val) in targets:
                undo.append((mod, attr, val))
                setattr(mod, attr, spanned(targets[id(val)], val))

    def writer(method: str, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def call(self, *a, **kw):
            if not tracer.enabled:
                return fn(self, *a, **kw)
            path = kw.get("path", a[0] if a else None)
            with tracer.span("write", fn=method) as rec:
                out = fn(self, *a, **kw)
            if isinstance(path, str) and os.path.isdir(path):
                rec["files"], rec["bytes"] = _dir_stats(path)
            return out

        return call

    for m in _WRITER_METHODS:
        orig = getattr(DataFrameWriter, m)
        undo.append((DataFrameWriter, m, orig))
        setattr(DataFrameWriter, m, writer(m, orig))

    def restore() -> None:
        for owner, attr, val in reversed(undo):
            setattr(owner, attr, val)

    return restore


class SparkProbe:
    """Reads per-op Spark counters back out of the running session."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.jvm = self.sc._jvm
        self.jvm_pid = int(self.jvm.java.lang.ProcessHandle.current().pid())
        self.progress: list[dict] = []
        self._listener = None

    # -- JVM clocks -------------------------------------------------
    def jvm_cpu_s(self) -> float:
        with open(f"/proc/{self.jvm_pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")

    def jvm_gc_s(self) -> float:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0

    def jvm_peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    # -- streaming --------------------------------------------------
    def listen_streaming(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener  # noqa: PLC0415

        sink = self.progress

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: N802
                pass

            def onQueryProgress(self, event):  # noqa: N802
                p = event.progress
                sink.append(
                    {"rows": int(p.numInputRows), "ms": dict(p.durationMs or {})}
                )

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                pass

        self._listener = _Progress()
        self.spark.streams.addListener(self._listener)

    def stop(self) -> None:
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    # -- status store -----------------------------------------------
    def drain(self) -> None:
        """Wait until every posted Spark event reached its listeners, so
        the status store and the streaming listener are complete."""
        self.jsc.listenerBus().waitUntilEmpty()

    def group_jobs(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_ids(self, job_ids: list[int]) -> list[int]:
        tracker = self.sc.statusTracker()
        ids: set[int] = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                ids.update(info.stageIds)
        return sorted(ids)

    def stage_totals(self, stage_ids: list[int]) -> dict[str, float]:
        """Sum stage metrics over ``stage_ids``; ``max_task_over_median``
        is the worst ratio of slowest to median task run time over the
        stages with at least two tasks."""
        store = self.jsc.statusStore()
        quantiles = self.sc._gateway.new_array(self.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        tot = dict.fromkeys(
            (
                "stages", "tasks", "executor_run_s", "executor_cpu_s", "input_bytes",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
            ),
            0.0,
        )
        skew = 1.0
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # evicted from the store: not counted
                continue
            tot["stages"] += 1
            tot["tasks"] += st.numTasks()
            tot["executor_run_s"] += st.executorRunTime() / 1000.0
            tot["executor_cpu_s"] += st.executorCpuTime() / 1e9
            tot["input_bytes"] += st.inputBytes()
            tot["shuffle_read_bytes"] += st.shuffleReadBytes()
            tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
            tot["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            if st.numTasks() >= 2:
                dist = store.taskSummary(sid, st.attemptId(), quantiles)
                if dist.isDefined():
                    run = dist.get().executorRunTime()
                    med, top = run.apply(0), run.apply(1)
                    if med > 0:
                        skew = max(skew, top / med)
        tot["max_task_over_median"] = skew
        return tot

    @staticmethod
    def phases_ms(df) -> dict[str, float]:
        """analysis/optimization/planning ms from the query-execution
        tracker of ``df`` (after its action ran)."""
        phases = df._jdf.queryExecution().tracker().phases()
        out = {}
        for name in ("analysis", "optimization", "planning"):
            opt = phases.get(name)
            out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
        return out


def stream_totals(progress: list[dict]) -> dict[str, float]:
    batches = [p for p in progress if p["ms"].get("triggerExecution") is not None]
    out = {
        "batches": float(len(batches)),
        "input_rows": float(sum(p["rows"] for p in batches)),
        "batch_s": statistics.median(p["ms"]["triggerExecution"] for p in batches) / 1000.0
        if batches
        else 0.0,
    }
    for ph in STREAM_PHASES:
        out[f"phase.{ph}_ms"] = float(sum(p["ms"].get(ph, 0) for p in batches))
    return out
