"""Tracing for the per-layer run, recorded from the benchmark's side.

The program is not edited. In a traced run the benchmark wraps the
public entry points of the layers it measures (``Engine.sql``,
``SessionEngine`` construction, ``CdcPipeline.apply_envelopes``,
``Pipeline.run``, ``sqldml.dispatch`` and the ``SnapshotCatalog`` read
and write methods) with a function that records a span: layer name,
operation id, start and end. Catalog commits are counted from the
catalogs' own history: every commit path, whichever method it starts
from, logs a snapshot with its commit time. An operation's thread
carries the Spark local property ``perfbench.op``, so every job it
launches is attributed to the operation in the Spark event log, which
is parsed when the run ends; a job belongs to a layer when it starts
inside one of the layer's spans of the same operation.

An operation id comes from the workload (``Tracer.op``) or, on the
server side of a wire door, from the ``/* bench:<id> */`` tag the
client put in the statement text, so a client span and its server
spans share one id.

Spans stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import re
import threading
import time

_TAG = re.compile(r"/\* bench:([A-Za-z0-9_.-]+) \*/")


def now_ms() -> float:
    return time.time() * 1000.0


def op_scope(tracer, op_id: str, kind: str):
    """``tracer.op(...)``, or a plain record when the run is untraced."""
    if tracer is None:
        return contextlib.nullcontext({"op": op_id, "kind": kind})
    return tracer.op(op_id, kind)


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.spans: list[dict] = []
        self.ops: dict[str, dict] = {}
        # warehouse -> SnapshotCatalog, every catalog the run opened
        self.catalogs: dict[str, object] = {}
        self._local = threading.local()
        self._lock = threading.Lock()

    # -- operation context --------------------------------------------
    def _props(self) -> dict:
        if not hasattr(self._local, "props"):
            self._local.props = {}
        return self._local.props

    def _inside(self) -> set:
        """The layers this thread is inside a span of."""
        if not hasattr(self._local, "inside"):
            self._local.inside = set()
        return self._local.inside

    def _set(self, key: str, value: str | None) -> str | None:
        props = self._props()
        prev = props.get(key)
        props[key] = value
        self.sc.setLocalProperty(key, value)
        return prev

    def current_op(self) -> str | None:
        return self._props().get("perfbench.op")

    @contextlib.contextmanager
    def op(self, op_id: str, kind: str, **info):
        """Run one operation: its jobs carry ``perfbench.op``. Records
        the operation's wall span and any facts the workload adds to
        the yielded dict (e.g. ``build_end_ms``, ``rows``)."""
        rec = {"op": op_id, "kind": kind, **info}
        if not self.enabled:
            yield rec
            return
        prev = self._set("perfbench.op", op_id)
        rec["start_ms"] = now_ms()
        try:
            yield rec
        finally:
            rec["end_ms"] = now_ms()
            self._set("perfbench.op", prev)
            with self._lock:
                self.ops[op_id] = rec

    # -- spans around layer entry points -------------------------------
    def wrap(self, owner, attr: str, layer: str, op_from_sql: bool = False,
             outermost: bool = False) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper. With
        ``op_from_sql`` a statement's ``/* bench:<id> */`` tag names
        the operation; with ``outermost`` a call made inside another
        span of the same layer (one write method calling another)
        records no span of its own."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            if outermost:
                inside = tracer._inside()
                if layer in inside:
                    return fn(*args, **kwargs)
                inside.add(layer)
            op = tracer.current_op()
            if op_from_sql:
                sql = next((a for a in args if isinstance(a, str)), "")
                m = _TAG.search(sql)
                if m:
                    # a door thread keeps the tag after the call returns:
                    # the door's collect launches the statement's jobs
                    # next, and the next tagged statement replaces it
                    op = m.group(1)
                    tracer._set("perfbench.op", op)
            t0 = now_ms()
            try:
                return fn(*args, **kwargs)
            finally:
                if outermost:
                    inside.discard(layer)
                span = {"layer": layer, "op": op, "start_ms": t0, "end_ms": now_ms()}
                with tracer._lock:
                    tracer.spans.append(span)

        setattr(owner, attr, traced)

    def commit_times(self) -> list[int]:
        """Commit time (ms) of every snapshot in every catalog the run
        opened, read from the catalogs' public history."""
        return sorted(snap.timestamp_ms for cat in self.catalogs.values()
                      for table in cat.tables() for snap in cat.history(table))

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"spans": self.spans, "ops": self.ops}, fh)


# the SnapshotCatalog methods that commit a snapshot
CATALOG_WRITES = (
    "write", "merge", "merge_partitioned", "delete_by_keys", "append_rows",
    "upsert_by_keys", "delete_where", "publish", "publish_all", "write_transformed",
    "rollback", "create_branch", "fast_forward", "compact", "maintain",
    "add_column", "rename_column", "drop_column",
)


def install(tracer: Tracer) -> None:
    """Wrap the layer entry points of the program."""
    from konohadataplatform_spark import engine, sqldml
    from konohadataplatform_spark.catalog import SnapshotCatalog
    from konohadataplatform_spark.plans.pipeline import Pipeline
    from konohadataplatform_spark.streaming.cdc import CdcPipeline

    tracer.wrap(engine.Engine, "sql", "engine.sql", op_from_sql=True)
    tracer.wrap(engine.SessionEngine, "__init__", "engine.session_open")
    tracer.wrap(sqldml, "dispatch", "sqldml.dispatch")
    tracer.wrap(CdcPipeline, "apply_envelopes", "cdc.apply")
    tracer.wrap(Pipeline, "run", "plans.run")
    tracer.wrap(SnapshotCatalog, "read", "catalog.read")
    for method in CATALOG_WRITES:
        tracer.wrap(SnapshotCatalog, method, "catalog.write", outermost=True)

    init = SnapshotCatalog.__init__

    @functools.wraps(init)
    def watched(cat, *args, **kwargs):
        init(cat, *args, **kwargs)
        tracer.catalogs.setdefault(os.path.abspath(cat.warehouse), cat)

    SnapshotCatalog.__init__ = watched


# -- event log -------------------------------------------------------------

_ACC = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.input.bytesRead": "input_bytes",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "data sent to Python workers": "python_bytes",
    "data returned from Python workers": "python_bytes",
}


def parse_event_log(evdir: str) -> dict:
    """Jobs and stages from a Spark event log directory:
    ``{"jobs": {id: {...}}, "stages": {id: {...}}}``. A job carries its
    ``perfbench.op`` property, submission and completion
    times and stage ids; a stage its task count and summed metrics."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    files = []
    for root, _dirs, names in os.walk(evdir):
        files += [os.path.join(root, n) for n in names if not n.startswith(".")]
    for path in sorted(files):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "op": props.get("perfbench.op"),
                        "submit_ms": ev.get("Submission Time", 0),
                        "end_ms": None,
                        "stage_ids": ev.get("Stage IDs", []),
                    }
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end_ms"] = ev.get("Completion Time")
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    m = {v: 0 for v in _ACC.values()}
                    for acc in info.get("Accumulables", []):
                        key = _ACC.get(acc.get("Name"))
                        if key:
                            m[key] += int(float(acc.get("Value") or 0))
                    m["tasks"] = info.get("Number of Tasks", 0)
                    stages[info["Stage ID"]] = m
    return {"jobs": jobs, "stages": stages}
