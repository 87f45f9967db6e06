"""Output checks against each generator's ground truth.

All functions here are pure numpy/Python over collected rows, so the
harness self-tests run them without Spark.  Each returns a list of
failure strings; an empty list means the output passed.
"""

from __future__ import annotations

import hashlib

import numpy as np

from gen import MERC_MAX, WORLD, merc

EXTENT = 4096


def tile_digest(keys) -> str:
    """md5 over the sorted (zoom, x, y, tile_md5) rows of a store."""
    h = hashlib.md5()
    for z, x, y, md5 in sorted(keys):
        h.update(f"{z}/{x}/{y}:{md5}\n".encode())
    return h.hexdigest()


def check_digest(previous: str | None, current: str) -> list[str]:
    if previous is not None and previous != current:
        return [f"tile digest {current} differs from {previous} of an "
                f"earlier run with the same seed"]
    return []


def check_tile_md5(tiles) -> list[str]:
    """Every stored tile's bytes hash to the md5 it is stored under."""
    return [f"tile {z}/{x}/{y}: bytes hash to {hashlib.md5(t).hexdigest()}"
            f", stored as {md5}"
            for z, x, y, t, md5 in tiles if hashlib.md5(t).hexdigest() != md5]


# ---------------------------------------------------------------- extract

def check_extract(got, truth) -> list[str]:
    """got: iterable of (page_id, lat, lon) from the geotag output;
    truth: DataFrame(page_id, lat, lon)."""
    got = sorted(got)
    want = sorted(zip(truth["page_id"].tolist(), truth["lat"].tolist(),
                      truth["lon"].tolist()))
    if [g[0] for g in got] != [w[0] for w in want]:
        return [f"geotag kept {len(got)} pages, ground truth has "
                f"{len(want)} with a coordinate"]
    bad = [(g, w) for g, w in zip(got, want) if g != w]
    return [f"page {g[0]}: extracted ({g[1]}, {g[2]}), generated "
            f"({w[1]}, {w[2]})" for g, w in bad[:5]]


# ------------------------------------------------------------ point tiles

def tile_coords(mx, my, z, x, y):
    """Mercator metres -> tile-local extent units of tile z/x/y."""
    scale = (1 << z) * EXTENT / WORLD
    return ((np.asarray(mx) + MERC_MAX) * scale - x * EXTENT,
            (MERC_MAX - np.asarray(my)) * scale - y * EXTENT)


def check_point_tile(z, x, y, decoded, lon, lat, buffer_units) -> list[str]:
    """decoded: list of (x, y) tile points; lon/lat: the ground-truth
    points that survive this zoom's thinning.  Every truth point inside
    the buffered extent must appear within one unit, and every decoded
    point must be such a truth point.  Points within one unit of the
    buffer edge may go either way."""
    mx, my = merc(lon, lat)
    tx, ty = tile_coords(mx, my, z, x, y)
    lo, hi = -buffer_units, EXTENT + buffer_units
    near = (tx >= lo - 1) & (tx <= hi + 1) & (ty >= lo - 1) & (ty <= hi + 1)
    inner = (tx >= lo + 1) & (tx <= hi - 1) & (ty >= lo + 1) & (ty <= hi - 1)
    exp = np.stack([tx[near], ty[near]], axis=1)
    req = np.stack([tx[inner], ty[inner]], axis=1)
    got = np.asarray(decoded, dtype=np.float64).reshape(-1, 2)
    out = []
    if not (len(req) <= len(got) <= len(exp)):
        out.append(f"tile {z}/{x}/{y}: {len(got)} points, expected "
                   f"{len(req)}..{len(exp)}")
    if len(got) and len(exp):
        if unmatched(got, exp, 1.01).any():
            out.append(f"tile {z}/{x}/{y}: a decoded point matches no "
                       f"generated point")
    elif len(got):
        out.append(f"tile {z}/{x}/{y}: points where none were generated")
    if len(req) and len(got):
        if unmatched(req, got, 1.01).any():
            out.append(f"tile {z}/{x}/{y}: a generated point is missing")
    return out


def unmatched(a, b, tol):
    """Mask of the rows of a (n, 2) with no row of b within tol in both
    coordinates.  Sorts b by x and scans only the x-window of each row,
    so a tile holding tens of thousands of points stays cheap."""
    order = np.argsort(b[:, 0], kind="stable")
    bx, by = b[order, 0], b[order, 1]
    lo = np.searchsorted(bx, a[:, 0] - tol, "left")
    hi = np.searchsorted(bx, a[:, 0] + tol, "right")
    miss = np.ones(len(a), dtype=bool)
    for i in np.flatnonzero(hi > lo):
        miss[i] = not (np.abs(by[lo[i]:hi[i]] - a[i, 1]) <= tol).any()
    return miss


# ---------------------------------------------------------- polygon tiles

def ring_area2(ring) -> int:
    """Twice the signed shoelace area in tile (y-down) coordinates."""
    return sum(ring[i][0] * ring[i + 1][1] - ring[i + 1][0] * ring[i][1]
               for i in range(len(ring) - 1))


def regroup_rings(rings):
    """Rings in command-stream order -> polygons, by the winding the
    engine writes: the reference's, kept on purpose (SURVEY.md,
    validity.rs:109-110), where an exterior ring has negative shoelace
    area in tile coordinates and an interior ring positive.  This is the
    opposite of MVT spec 4.3.4.4, so decode_geometry's own grouping
    cannot be used."""
    polys = []
    for r in rings:
        if ring_area2(r) < 0 or not polys:
            polys.append([r])
        else:
            polys[-1].append(r)
    return polys


def check_geometry(tile, layer, geom, buffer_units, is_valid) -> list[str]:
    """Validity, winding and extent+buffer invariants of one decoded
    feature geometry (tileigi_spark.geom.mvt.decode_geometry form)."""
    typ, data = geom
    out = []
    if typ in ("Polygon", "MultiPolygon"):
        rings = data if typ == "Polygon" else [r for p in data for r in p]
        polys = regroup_rings(rings)
        if ring_area2(rings[0]) >= 0:
            out.append(f"{tile} {layer}: first ring is not an exterior "
                       f"(negative area)")
        if any(ring_area2(r) == 0 for r in rings):
            out.append(f"{tile} {layer}: zero-area ring")
        geom = (("Polygon", polys[0]) if len(polys) == 1
                else ("MultiPolygon", polys))
        pts = [p for r in rings for p in r]
    elif typ in ("LineString", "MultiLineString"):
        parts = [data] if typ == "LineString" else data
        if any(len(p) < 2 for p in parts):
            out.append(f"{tile} {layer}: line with fewer than two points")
        pts = [p for part in parts for p in part]
    else:
        pts = [data] if typ == "Point" else list(data)
    lo, hi = -buffer_units, EXTENT + buffer_units
    if any(not (lo <= px <= hi and lo <= py <= hi) for px, py in pts):
        out.append(f"{tile} {layer}: coordinate outside the extent plus "
                   f"the {buffer_units}-unit buffer")
    if not is_valid(geom):
        out.append(f"{tile} {layer}: {typ} fails is_valid")
    return out


# ----------------------------------------------------------------- joins

def pip_brute(px, py, rings):
    """Even-odd point-in-polygon of every point against every ring:
    returns a list of sets of ring indices."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    hits = [set() for _ in range(len(px))]
    for k, (rx, ry) in enumerate(rings):
        x0, y0, x1, y1 = rx[:-1], ry[:-1], rx[1:], ry[1:]
        cross = (((y0[None, :] > py[:, None]) != (y1[None, :] > py[:, None]))
                 & (px[:, None] < (x1 - x0)[None, :]
                    * (py[:, None] - y0[None, :])
                    / np.where(y1 == y0, 1.0, y1 - y0)[None, :]
                    + x0[None, :]))
        inside = cross.sum(axis=1) % 2 == 1
        for i in np.flatnonzero(inside):
            hits[i].add(k)
    return hits


def edge_distance(px, py, rx, ry) -> float:
    """Distance from a point to the nearest edge of a closed ring."""
    x0, y0, x1, y1 = rx[:-1], ry[:-1], rx[1:], ry[1:]
    dx, dy = x1 - x0, y1 - y0
    t = np.clip(((px - x0) * dx + (py - y0) * dy)
                / np.maximum(dx * dx + dy * dy, 1e-300), 0.0, 1.0)
    return float(np.min(np.hypot(x0 + t * dx - px, y0 + t * dy - py)))


def check_pip(pids, px, py, got: dict, rings) -> list[str]:
    """got: pid -> set of admin ids the join returned for that point.
    A disagreement counts only when the point is more than a metre from
    every edge involved (boundary points may go either way)."""
    want = pip_brute(px, py, rings)
    out = []
    for i, pid in enumerate(pids):
        g = got.get(pid, set())
        for k in g ^ want[i]:
            if edge_distance(px[i], py[i], *rings[k]) > 1.0:
                out.append(f"point {pid}: join says admin {k} "
                           f"{'contains' if k in g else 'misses'} it, "
                           f"brute force disagrees")
    return out[:5]


def knn_brute(qx, qy, cx, cy, cid, k):
    """Top-k candidate ids per query by (dist2, cand_id)."""
    cx = np.asarray(cx, dtype=np.float64)
    cy = np.asarray(cy, dtype=np.float64)
    cid = np.asarray(cid)
    out = []
    for x, y in zip(qx, qy):
        d2 = (x - cx) ** 2 + (y - cy) ** 2
        order = np.lexsort((cid, d2))[:k]
        out.append(cid[order].tolist())
    return out


def check_knn(qids, qx, qy, cx, cy, cid, k, got: dict) -> list[str]:
    """got: query id -> candidate ids in rank order."""
    want = knn_brute(qx, qy, cx, cy, cid, k)
    return [f"query {q}: kNN {got.get(q)} != brute force {w}"
            for q, w in zip(qids, want) if got.get(q) != w][:5]
