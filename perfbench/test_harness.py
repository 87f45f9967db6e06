"""Self-tests of the benchmark harness (no Spark needed).

    python3 -m pytest perfbench/test_harness.py -q
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
from metrics import (END_TO_END, HIGHER_IS_BETTER, NAME_RE,  # noqa: E402
                     PER_LAYER, UNIT_RE, layer_metrics)
from spans import Span, Tracer, self_times, task_metrics  # noqa: E402


def _span(i, name, start, end, parent):
    return Span(i, name, start, end, parent, "t")


def test_self_times_subtract_direct_children_only():
    spans = [_span(0, "job", 0.0, 10.0, None),
             _span(1, "cli", 1.0, 8.0, 0),
             _span(2, "engine.plan", 2.0, 6.0, 1),
             _span(3, "engine.cover", 2.5, 4.0, 2),
             _span(4, "io.staging", 6.5, 7.5, 1)]
    own = self_times(spans)
    assert own == pytest.approx({0: 3.0, 1: 2.0, 2: 2.5, 3: 1.5, 4: 1.0})
    assert sum(own.values()) == pytest.approx(10.0)


def test_layer_self_times_and_uncovered_add_up_to_wall():
    tr = Tracer("t")
    with tr.span("job"):
        with tr.span("extract"):
            pass
        with tr.span("cli"):
            with tr.span("engine.plan"):
                with tr.span("engine.cover"):
                    pass
            with tr.span("io.write_tiles"):
                pass
    info = dict(pages_in=10, store_bytes=0, store_files=0, images=1,
                tiles=1, cells_read=0)
    out = layer_metrics(tr.spans, {}, 4, info)
    layers = sum(v for k, v in out.items()
                 if k.endswith(".self_s") or k == "engine.plan_s")
    assert layers + out["trace.uncovered_s"] == pytest.approx(
        out["trace.traced_wall_s"])
    assert out["cli.zoom_batches"] == 1
    assert set(out) | {"trace.overhead_s", "host.busy_pct",
                       "host.steal_pct",
                       "engine.poison_row_job_failed"} == set(PER_LAYER)


def test_task_metrics_attribute_tasks_to_tagged_spans(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [3, 4],
         "Properties": {"perfbench.span": "2"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [5],
         "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 4,
         "Task Info": {"Launch Time": 1000, "Finish Time": 3500,
                       "Failed": False},
         "Task Metrics": {"JVM GC Time": 250, "Memory Bytes Spilled": 7,
                          "Shuffle Write Metrics":
                              {"Shuffle Bytes Written": 11},
                          "Output Metrics": {"Records Written": 5,
                                             "Bytes Written": 99}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 5,
         "Task Info": {"Launch Time": 0, "Finish Time": 9000}},
    ]
    p = tmp_path / "log"
    p.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    tm = task_metrics(str(p))
    assert list(tm) == [2]
    assert tm[2]["jobs"] == 1 and tm[2]["tasks"] == 1
    assert tm[2]["task_s"] == pytest.approx(2.5)
    assert tm[2]["gc_s"] == pytest.approx(0.25)
    assert (tm[2]["spill_bytes"], tm[2]["shuffle_write_bytes"],
            tm[2]["records_written"], tm[2]["bytes_written"]) == (7, 11, 5,
                                                                   99)


def test_metric_names_and_units_meet_the_charset():
    for name, unit in {**END_TO_END, **PER_LAYER}.items():
        assert NAME_RE.match(name), name
        assert UNIT_RE.match(unit), unit
    assert not NAME_RE.match("_leading")
    assert not NAME_RE.match("has space")
    assert not NAME_RE.match("x" * 65)
    assert not UNIT_RE.match("no spaces")


def test_benchmark_json_lists_what_the_harness_reports():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    from workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    assert {k: m["unit"] for k, m in e2e.items()} == END_TO_END
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    layer = {m["name"]: m for m in spec["per_layer"]}
    assert {k: m["unit"] for k, m in layer.items()} == PER_LAYER
    for m in list(e2e.values()) + list(layer.values()):
        assert m["better"] == ("higher" if m["name"] in HIGHER_IS_BETTER
                               else "lower"), m["name"]


def test_corrupted_tile_is_caught_by_md5_and_digest():
    tile = gzip.compress(b"\x1a\x02x\x01", mtime=0)
    rows = [(3, 1, 2, tile, hashlib.md5(tile).hexdigest())]
    assert checks.check_tile_md5(rows) == []
    bad = bytearray(tile)
    bad[-5] ^= 0xFF
    assert checks.check_tile_md5([(3, 1, 2, bytes(bad), rows[0][4])])
    keys = [(3, 1, 2, rows[0][4]), (0, 0, 0, "abc")]
    digest = checks.tile_digest(keys)
    assert digest == checks.tile_digest(list(reversed(keys)))
    assert checks.check_digest(digest, digest) == []
    assert checks.check_digest(None, digest) == []
    flipped = [(3, 1, 2, hashlib.md5(bytes(bad)).hexdigest()), keys[1]]
    assert checks.check_digest(digest, checks.tile_digest(flipped))


def test_generators_are_seeded():
    a, ta = gen.pages(5, 300)
    b, tb = gen.pages(5, 300)
    c, _ = gen.pages(6, 300)
    assert a.equals(b) and ta.equals(tb)
    assert not a["text"].equals(c["text"])
    pa, pb = gen.polygon_layers(5, 20, 20, 20), gen.polygon_layers(5, 20,
                                                                   20, 20)
    assert all(pa[k].equals(pb[k]) for k in pa)


def test_extract_check_catches_a_shifted_coordinate():
    _, truth = gen.pages(2, 200)
    got = list(zip(truth["page_id"], truth["lat"], truth["lon"]))
    assert checks.check_extract(got, truth) == []
    got[3] = (got[3][0], got[3][1] + 0.001, got[3][2])
    assert checks.check_extract(got, truth)
    assert checks.check_extract(got[1:], truth)


def test_point_tile_check_against_projection():
    lon = np.array([10.0, 10.01, -120.0])
    lat = np.array([45.0, 45.02, 30.0])
    z = 6
    mx, my = gen.merc(lon, lat)
    n = 1 << z
    x = int((mx[0] + gen.MERC_MAX) / gen.WORLD * n)
    y = int((gen.MERC_MAX - my[0]) / gen.WORLD * n)
    tx, ty = checks.tile_coords(mx, my, z, x, y)
    inside = [(round(a), round(b)) for a, b in zip(tx[:2], ty[:2])]
    assert checks.check_point_tile(z, x, y, inside, lon, lat, 32) == []
    assert checks.check_point_tile(z, x, y, inside[:1], lon, lat, 32)
    moved = [(inside[0][0] + 3, inside[0][1]), inside[1]]
    assert checks.check_point_tile(z, x, y, moved, lon, lat, 32)


def test_geometry_check_flags_winding_and_extent():
    ext = [(0, 0), (0, 10), (10, 10), (10, 0), (0, 0)]
    hole = [(2, 2), (4, 2), (4, 4), (2, 4), (2, 2)]
    assert checks.ring_area2(ext) < 0 < checks.ring_area2(hole)
    ok = ("Polygon", [ext, hole])
    assert checks.check_geometry("t", "l", ok, 32, lambda g: True) == []
    # decode_geometry groups by the spec's winding, so a holed polygon
    # arrives as two polygons; the check regroups by the engine's
    assert checks.regroup_rings([ext, hole, ext]) == [[ext, hole], [ext]]
    flipped = ("Polygon", [list(reversed(ext))])
    assert checks.check_geometry("t", "l", flipped, 32, lambda g: True)
    far = ("LineString", [(0, 0), (5000, 0)])
    assert checks.check_geometry("t", "l", far, 32, lambda g: True)
    assert checks.check_geometry("t", "l", ok, 32, lambda g: False)


def test_join_brute_force_checks():
    rings = [(np.array([0.0, 10, 10, 0, 0]), np.array([0.0, 0, 10, 10, 0]))]
    px, py = np.array([5.0, 20.0]), np.array([5.0, 5.0])
    assert checks.check_pip([1, 2], px, py, {1: {0}}, rings) == []
    assert checks.check_pip([1, 2], px, py, {1: {0}, 2: {0}}, rings)
    cx, cy = np.array([0.0, 1, 2, 3]), np.zeros(4)
    cid = np.array([10, 11, 12, 13])
    assert checks.check_knn([7], [0.9], [0.0], cx, cy, cid, 2,
                            {7: [11, 10]}) == []
    assert checks.check_knn([7], [0.9], [0.0], cx, cy, cid, 2,
                            {7: [10, 11]})
