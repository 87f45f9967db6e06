"""Metric names and units, and the per-layer numbers of a traced job.

This file is the one list of what the benchmark reports;
``BENCHMARK.json`` must name the same metrics (``test_harness.py``
checks that).
"""

from __future__ import annotations

import re

from spans import self_times

END_TO_END = {
    "wall_s": "s",
    "tiles_per_s": "1/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "store_bytes_per_tile": "B",
}

# span groups that get the generic metrics; "engine.plan" reports its
# self time as engine.plan_s (driver time building plans)
LAYERS = ("extract", "partition", "cli", "engine.plan", "engine.cover",
          "engine.geometry", "engine.encode", "engine.assemble",
          "engine.encode_assemble", "io", "spatial.pip", "spatial.knn")
GENERIC = {"task_s": "s", "idle_core_s": "s", "gc_s": "s",
           "spill_bytes": "B", "failed_tasks": "count"}
SPECIFIC = {
    "extract.busy_s": "s", "extract.pages_in": "count",
    "extract.points_out": "count", "extract.match_ratio": "ratio",
    "extract.pages_per_s": "1/s",
    "cli.zoom_batches": "count", "cli.spark_jobs": "count",
    "io.staging_s": "s", "io.write_tiles_s": "s", "io.checkpoint_s": "s",
    "io.metrics_s": "s", "io.drop_staging_s": "s",
    "io.bytes_written": "B", "io.files_written": "count",
    "io.dedup_ratio": "ratio",
    "engine.cover.busy_s": "s", "engine.cover.rows_out": "count",
    "engine.cover.fanout": "ratio",
    "engine.geometry.busy_s": "s", "engine.geometry.pieces_out": "count",
    "engine.geometry.useful_ratio": "ratio",
    "partition.read_s": "s", "partition.write_s": "s",
    "partition.cells_read": "count", "partition.rows_read": "count",
    "spatial.joined_rows_per_s": "1/s",
    "host.busy_pct": "%", "host.steal_pct": "%",
    "engine.poison_row_job_failed": "count",
    "trace.traced_wall_s": "s", "trace.uncovered_s": "s",
    "trace.overhead_s": "s",
}
for _stage in ("encode", "assemble", "encode_assemble"):
    SPECIFIC.update({f"engine.{_stage}.busy_s": "s",
                     f"engine.{_stage}.shuffle_bytes": "B",
                     f"engine.{_stage}.rows_out": "count",
                     f"engine.{_stage}.tile_bytes_out": "B"})
for _join in ("pip", "knn"):
    SPECIFIC.update({f"spatial.{_join}.busy_s": "s",
                     f"spatial.{_join}.rows_out": "count",
                     f"spatial.{_join}.spark_jobs": "count"})


def self_name(layer: str) -> str:
    return "engine.plan_s" if layer == "engine.plan" else f"{layer}.self_s"


PER_LAYER = dict(SPECIFIC)
for _layer in LAYERS:
    PER_LAYER[self_name(_layer)] = "s"
    PER_LAYER.update({f"{_layer}.{k}": u for k, u in GENERIC.items()})

HIGHER_IS_BETTER = {"tiles_per_s", "extract.pages_per_s",
                    "spatial.joined_rows_per_s", "extract.match_ratio",
                    "io.dedup_ratio", "engine.geometry.useful_ratio"}

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def layer_of(span_name: str) -> str | None:
    """Span name -> metric group; None for the job's root span, whose
    self time is the uncovered line."""
    if span_name == "job":
        return None
    if span_name.startswith("io."):
        return "io"
    if span_name.startswith("partition."):
        return "partition"
    return span_name


def layer_metrics(spans, tm: dict, cores: int, info: dict) -> dict:
    """Per-layer metrics of one traced job.  spans: the job's spans
    (root named "job"); tm: task_metrics() of the session; info: counts
    the workload and harness measured outside the spans."""
    own = self_times(spans)
    zero = dict.fromkeys(("tasks", "task_s", "gc_s", "spill_bytes",
                          "failed_tasks", "shuffle_write_bytes",
                          "records_written", "bytes_written",
                          "records_read", "jobs"), 0)
    by_name: dict[str, dict] = {}
    out = {}
    for layer in LAYERS:
        out[self_name(layer)] = 0.0
        for k in GENERIC:
            out[f"{layer}.{k}"] = 0
    for s in spans:
        t = tm.get(s.id, zero)
        agg = by_name.setdefault(s.name, dict(zero, busy_s=0.0))
        agg["busy_s"] += s.dur
        for k, v in t.items():
            agg[k] += v
        layer = layer_of(s.name)
        if layer is None:
            continue
        out[self_name(layer)] += own[s.id]
        out[f"{layer}.task_s"] += t["task_s"]
        out[f"{layer}.idle_core_s"] += own[s.id] * cores - t["task_s"]
        out[f"{layer}.gc_s"] += t["gc_s"]
        out[f"{layer}.spill_bytes"] += t["spill_bytes"]
        out[f"{layer}.failed_tasks"] += t["failed_tasks"]

    def get(name):
        return by_name.get(name, dict(zero, busy_s=0.0))

    def ratio(a, b):
        return a / b if b else 0.0

    ex = get("extract")
    out["extract.busy_s"] = ex["busy_s"]
    out["extract.pages_in"] = info["pages_in"]
    out["extract.points_out"] = ex["records_written"]
    out["extract.match_ratio"] = ratio(ex["records_written"],
                                       info["pages_in"])
    out["extract.pages_per_s"] = ratio(info["pages_in"], ex["busy_s"])
    cli_ids = {s.id for s in spans if s.name == "cli"}
    inside = set(cli_ids)
    for s in spans:  # spans are recorded parent-first
        if s.parent in inside:
            inside.add(s.id)
    out["cli.zoom_batches"] = sum(s.name == "engine.plan" for s in spans)
    out["cli.spark_jobs"] = sum(tm.get(i, zero)["jobs"] for i in inside)
    for name in ("staging", "write_tiles", "checkpoint", "metrics",
                 "drop_staging"):
        out[f"io.{name}_s"] = get(f"io.{name}")["busy_s"]
    out["io.bytes_written"] = info["store_bytes"]
    out["io.files_written"] = info["store_files"]
    out["io.dedup_ratio"] = ratio(info["images"], info["tiles"])
    cov, geo = get("engine.cover"), get("engine.geometry")
    out["engine.cover.busy_s"] = cov["busy_s"]
    out["engine.cover.rows_out"] = cov["records_written"]
    out["engine.cover.fanout"] = ratio(cov["records_written"],
                                       cov["records_read"])
    out["engine.geometry.busy_s"] = geo["busy_s"]
    out["engine.geometry.pieces_out"] = geo["records_written"]
    out["engine.geometry.useful_ratio"] = ratio(geo["records_written"],
                                                geo["records_read"])
    for stage in ("encode", "assemble", "encode_assemble"):
        g = get(f"engine.{stage}")
        out[f"engine.{stage}.busy_s"] = g["busy_s"]
        out[f"engine.{stage}.shuffle_bytes"] = g["shuffle_write_bytes"]
        out[f"engine.{stage}.rows_out"] = g["records_written"]
        out[f"engine.{stage}.tile_bytes_out"] = g["bytes_written"]
    pr = get("partition.read")
    out["partition.read_s"] = pr["busy_s"]
    out["partition.write_s"] = get("partition.write")["busy_s"]
    out["partition.cells_read"] = info["cells_read"]
    out["partition.rows_read"] = pr["records_read"]
    joined = busy = 0
    for j in ("pip", "knn"):
        g = get(f"spatial.{j}")
        out[f"spatial.{j}.busy_s"] = g["busy_s"]
        out[f"spatial.{j}.rows_out"] = g["records_written"]
        out[f"spatial.{j}.spark_jobs"] = g["jobs"]
        joined += g["records_written"]
        busy += g["busy_s"]
    out["spatial.joined_rows_per_s"] = ratio(joined, busy)
    root = next(s for s in spans if s.name == "job")
    out["trace.traced_wall_s"] = root.dur
    out["trace.uncovered_s"] = own[root.id]
    return out
