"""Spans around the calls into each layer, and Spark's per-op numbers.

Tracing is done from outside the package: :func:`install_layer_hooks`
wraps the public functions of each layer (engine, state, publish,
graph) with spans, and :func:`event_log_totals` reads the Spark event
log that a traced session writes. Nothing here is imported by the
package.

A span records name, start, end, parent span and op id. Spans are kept
in memory and written out once, when the run ends. A span's self time
is its duration minus the part of it that its child spans cover.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


class Tracer:
    """Collects spans and counters. One instance per traced run."""

    def __init__(self, warehouse: str) -> None:
        #: the session's warehouse dir, where staged tables live
        self.warehouse = warehouse
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 0
        self.op: int | None = None
        self._op_span: int | None = None

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counts[name] = self.counts.get(name, 0) + n

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        # Worker threads of Engine.load_all start with an empty stack;
        # their spans hang off the op's root span.
        parent = stack[-1] if stack else self._op_span
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, self.op))

    @contextlib.contextmanager
    def op_span(self, op: int, name: str):
        """Root span of one benchmark op."""
        self.op = op
        with self.span(name) as sid:
            self._op_span = sid
            try:
                yield sid
            finally:
                self._op_span = None

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def self_time(self, name: str) -> float:
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        total = 0.0
        for s in self.spans:
            if s.name != name:
                continue
            covered = _union_length(
                [(max(c.start, s.start), min(c.end, s.end))
                 for c in children.get(s.id, [])]
            )
            total += (s.end - s.start) - covered
        return total

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps(s.__dict__) + "\n")


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def _patch(undo: list, owner, attr: str, wrapper) -> None:
    orig = getattr(owner, attr)
    undo.append((owner, attr, orig))
    setattr(owner, attr, functools.wraps(orig)(wrapper(orig)))


def _timed(tracer: Tracer, name: str, after=None):
    def wrapper(orig):
        def call(*args, **kwargs):
            with tracer.span(name):
                result = orig(*args, **kwargs)
            if after is not None:
                after(result, *args, **kwargs)
            return result
        return call
    return wrapper


def _timed_cm(tracer: Tracer, name: str):
    def wrapper(orig):
        @contextlib.contextmanager
        def call(*args, **kwargs):
            with tracer.span(name), orig(*args, **kwargs) as value:
                yield value
        return call
    return wrapper


def parquet_rows(path: str) -> int:
    """Row count of a parquet directory, read from the file footers."""
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in glob.glob(os.path.join(path, "*.parquet"))
    )


def install_layer_hooks(tracer: Tracer) -> list:
    """Wrap each layer's public functions with spans and counters.

    Returns the undo list for :func:`uninstall`. The row counts of
    staged tables are read from parquet footers in the tracer's
    warehouse after the ingest span has closed, so no Spark job is
    added.
    """
    from nycdb_k8s_loader_spark.engine import Engine
    from nycdb_k8s_loader_spark.operators import graph
    from nycdb_k8s_loader_spark.publish import validate
    from nycdb_k8s_loader_spark.publish.grants import GrantRegistry
    from nycdb_k8s_loader_spark.publish.protocol import Publisher
    from nycdb_k8s_loader_spark.publish.resolver import SearchPathResolver
    from nycdb_k8s_loader_spark.state.kvstore import (
        DictKVStore,
        ParquetKVStore,
    )
    from nycdb_k8s_loader_spark.state.lastmod import UrlModTracker
    from nycdb_k8s_loader_spark.state.tracker import DatasetTracker

    def after_load(result, *_args, **_kwargs):
        tracer.count("engine.loads")
        if result.skipped:
            tracer.count("engine.skipped")

    def after_ingest(_result, _publisher, db, table, *_args, **_kwargs):
        tracer.count(
            "publish.ingest_rows",
            parquet_rows(os.path.join(tracer.warehouse, f"{db}.db", table)),
        )

    def after_sql(*_args, **_kwargs):
        tracer.count("publish.sql_statements")

    def counted(name: str):
        def wrapper(orig):
            def call(*args, **kwargs):
                tracer.count(name)
                return orig(*args, **kwargs)
            return call
        return wrapper

    undo: list = []
    _patch(undo, Engine, "load_all", _timed(tracer, "engine.load_all"))
    _patch(undo, Engine, "load", _timed(tracer, "engine.load", after_load))
    _patch(undo, UrlModTracker, "did_any_urls_change",
           _timed(tracer, "state.check"))
    _patch(undo, UrlModTracker, "update_lastmods",
           _timed(tracer, "state.commit"))
    _patch(undo, DatasetTracker, "update_tracker",
           _timed(tracer, "state.commit"))
    _patch(undo, DictKVStore, "__getitem__", counted("state.kv_reads"))
    _patch(undo, ParquetKVStore, "_flush", counted("state.kv_writes"))
    _patch(undo, Publisher, "staging", _timed_cm(tracer, "publish.staging"))
    _patch(undo, Publisher, "write_staging_table",
           _timed(tracer, "publish.ingest", after_ingest))
    _patch(undo, SearchPathResolver, "sql",
           _timed(tracer, "publish.sql", after_sql))
    # Engine imports validate_or_raise at call time, so patching the
    # module attribute reaches it.
    _patch(undo, validate, "validate_or_raise",
           _timed(tracer, "publish.validate"))
    _patch(undo, GrantRegistry, "save_and_reapply",
           _timed_cm(tracer, "publish.swap"))
    # cluster_assignments and the WOW builder look the function up in
    # the module at call time.
    _patch(undo, graph, "connected_components", _timed(tracer, "graph.cc"))
    return undo


def uninstall(undo: list) -> None:
    for owner, attr, orig in reversed(undo):
        setattr(owner, attr, orig)


# -- Spark event log ---------------------------------------------------------


def event_log_conf(event_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{event_dir}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def event_log_totals(
    event_dir: str, windows: list[tuple[float, float]]
) -> dict[str, float]:
    """Sum Spark's job, stage and task numbers over the given op
    windows (epoch seconds). Read after the session has stopped, when
    the log is complete. A job, stage or task belongs to the op whose
    window holds its submission (job, stage) or finish (task) time; a
    closed loop with one client runs one op at a time."""
    ms_windows = sorted((a * 1000.0, b * 1000.0) for a, b in windows)

    def inside(t) -> bool:
        return t is not None and any(a <= t <= b for a, b in ms_windows)

    tot = {k: 0.0 for k in (
        "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
        "gc_s", "input_mb", "shuffle_read_mb", "shuffle_write_mb",
        "spill_mb",
    )}
    job_start: dict[int, float] = {}
    job_spans: list[tuple[float, float]] = []
    files = [f for f in glob.glob(os.path.join(event_dir, "*"))
             if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log, found {files}")
    mb = 1024.0 * 1024.0
    with open(files[0], encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                if inside(ev.get("Submission Time")):
                    job_start[ev["Job ID"]] = ev["Submission Time"]
                    tot["jobs"] += 1
            elif kind == "SparkListenerJobEnd":
                start = job_start.pop(ev["Job ID"], None)
                if start is not None:
                    job_spans.append((start, ev["Completion Time"]))
            elif kind == "SparkListenerStageCompleted":
                if inside(ev["Stage Info"].get("Submission Time")):
                    tot["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                if not inside(ev["Task Info"].get("Finish Time")):
                    continue
                m = ev.get("Task Metrics") or {}
                tot["tasks"] += 1
                tot["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                tot["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                tot["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                tot["input_mb"] += (
                    m.get("Input Metrics", {}).get("Bytes Read", 0) / mb
                )
                sr = m.get("Shuffle Read Metrics", {})
                tot["shuffle_read_mb"] += (
                    sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0)
                ) / mb
                tot["shuffle_write_mb"] += (
                    m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    ) / mb
                )
                tot["spill_mb"] += (
                    m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0)
                ) / mb
    # driver-only time: op wall time during which no job was running
    busy = 0.0
    for a, b in ms_windows:
        busy += _union_length(
            [(max(s, a), min(e, b)) for s, e in job_spans]
        )
    wall = sum(b - a for a, b in ms_windows)
    tot["no_job_s"] = (wall - busy) / 1e3
    return tot
