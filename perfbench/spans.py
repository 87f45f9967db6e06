"""Spans, self time, and Spark task metrics for the traced run.

A span is recorded at each layer boundary: the benchmark's own phase
calls (``extract``, ``spatial.*``, ``partition.write``, ``cli``) open
spans directly, and in a traced run ``install`` wraps the public
``engine`` / ``io`` / ``partition`` functions that ``cli.main`` calls.
Engine wrappers write their DataFrame to parquet and hand the reread
back, so each layer's work runs inside its own span instead of being
fused into whichever later action pulls it.

Every Spark job started inside a span carries the span id as a local
property; ``task_metrics`` reads the session's event log and sums task
time, GC, spill, shuffle and output counters per span.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

SPAN_PROP = "perfbench.span"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    run_id: str

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Nested spans kept in memory.  With ``sc`` set, jobs launched in
    a span are tagged with its id for ``task_metrics``."""

    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def _tag(self, sid):
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROP,
                                     None if sid is None else str(sid))

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, time.time(), None, parent,
                 self.run_id)
        self.spans.append(s)
        self._stack.append(s.id)
        self._tag(s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._tag(parent)

    def total(self, name: str) -> float:
        return sum(s.dur for s in self.spans if s.name == name)


def self_times(spans) -> dict[int, float]:
    """Span duration minus the time its direct children cover.  Children
    of one span run one after another on the driver thread, so their
    durations add up without overlap."""
    own = {s.id: s.dur for s in spans}
    for s in spans:
        if s.parent is not None:
            own[s.parent] -= s.dur
    return own


# ------------------------------------------------------------ event log

_ZERO = ("tasks", "task_s", "gc_s", "spill_bytes", "failed_tasks",
         "shuffle_write_bytes", "records_written", "bytes_written",
         "records_read", "jobs")


def task_metrics(event_log_path: str) -> dict[int, dict]:
    """Per span id: Spark jobs and summed task counters."""
    stage_span: dict[int, int] = {}
    out: dict[int, dict] = defaultdict(lambda: dict.fromkeys(_ZERO, 0))
    with open(event_log_path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                sid = (ev.get("Properties") or {}).get(SPAN_PROP)
                if sid is None:
                    continue
                sid = int(sid)
                out[sid]["jobs"] += 1
                for st in ev.get("Stage IDs", ()):
                    stage_span[st] = sid
            elif kind == "SparkListenerTaskEnd":
                sid = stage_span.get(ev.get("Stage ID"))
                if sid is None:
                    continue
                info = ev.get("Task Info") or {}
                m = ev.get("Task Metrics") or {}
                acc = out[sid]
                acc["tasks"] += 1
                acc["task_s"] += (info.get("Finish Time", 0)
                                  - info.get("Launch Time", 0)) / 1000.0
                acc["failed_tasks"] += int(bool(info.get("Failed")))
                acc["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                acc["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                       + m.get("Disk Bytes Spilled", 0))
                acc["shuffle_write_bytes"] += (
                    (m.get("Shuffle Write Metrics") or {})
                    .get("Shuffle Bytes Written", 0))
                om = m.get("Output Metrics") or {}
                acc["records_written"] += om.get("Records Written", 0)
                acc["bytes_written"] += om.get("Bytes Written", 0)
                acc["records_read"] += ((m.get("Input Metrics") or {})
                                        .get("Records Read", 0))
    return dict(out)


def find_event_log(log_dir: str, app_id: str) -> str:
    for name in os.listdir(log_dir):
        if name.startswith(app_id) and not name.endswith(".inprogress"):
            return os.path.join(log_dir, name)
    raise FileNotFoundError(f"no finished event log for {app_id} in "
                            f"{log_dir}")


# ------------------------------------------------------------- wrappers

class Materializer:
    """Writes a DataFrame to parquet and returns the reread, so the
    layer that produced it is computed inside its own span."""

    def __init__(self, spark, base: str):
        self.spark = spark
        self.base = base
        self.n = 0

    def __call__(self, df, tag: str):
        self.n += 1
        path = os.path.join(self.base, f"{self.n:04d}-{tag}")
        df.write.parquet(path)
        return self.spark.read.schema(df.schema).parquet(path)


def _wrap(tracer, name, fn, mat=None):
    @functools.wraps(fn)
    def wrapper(*a, **k):
        with tracer.span(name):
            out = fn(*a, **k)
            if mat is not None:
                out = mat(out, name)
            return out
    return wrapper


ENGINE_SPANS = {
    "cover_metatiles": "engine.cover",
    "geometry_stage": "engine.geometry",
    "encode_layers": "engine.encode",
    "assemble_tiles": "engine.assemble",
    "encode_assemble_fused": "engine.encode_assemble",
}
IO_SPANS = {
    "write_staging": "io.staging",
    "read_staging": "io.staging",
    "write_tiles": "io.write_tiles",
    "mark_done": "io.checkpoint",
    "done_keys": "io.checkpoint",
    "append_metrics": "io.metrics",
    "drop_staging": "io.drop_staging",
}


@contextmanager
def install(tracer: Tracer, mat: Materializer):
    """Wrap the public functions cli.main reaches for the duration of
    the block."""
    from tileigi_spark import engine, io, partition

    patches = [(engine, "build_tiles", _wrap(tracer, "engine.plan",
                                             engine.build_tiles))]
    patches += [(engine, fn, _wrap(tracer, span, getattr(engine, fn), mat))
                for fn, span in ENGINE_SPANS.items()]
    patches += [(io.TileStore, fn, _wrap(tracer, span,
                                         getattr(io.TileStore, fn)))
                for fn, span in IO_SPANS.items()]
    patches.append((partition, "read_cell_partitioned", _wrap(
        tracer, "partition.read", partition.read_cell_partitioned, mat)))
    originals = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in patches]
    try:
        for obj, attr, new in patches:
            setattr(obj, attr, new)
        yield
    finally:
        for obj, attr, old in originals:
            setattr(obj, attr, old)
