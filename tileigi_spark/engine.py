"""The tile-pyramid plan builder: DataFrame-native J1/J3 joins, salted
groupBys, per-feature geometry stages as Arrow-batched UDFs.

Spark-first re-expression of the reference lifecycle (lib.rs:464-736):

  features ──(bbox cover explode = J1, no shuffle)──▶ (zoom, metatile) rows
      │ one mapInPandas pass: remap → dedup/spikes → exact-int RDP →
      │ buffered clip → quadtree tile split (J3) → make_valid → winding →
      │ per-tile shift (G2-G16); vectorized numpy fast path for points
      ▼
  repartition(z,x,y,salt) + sortWithinPartitions + mapInPandas
      — partial MVT layer encode (A1; salt breaks z0-z4 hot tiles, O13);
      a batch's complete groups are framed per (layer, shape family)
      class in one vectorized call each (_make_encode_run)
  repartition(z,x,y) + sortWithinPartitions + mapInPandas
      — merge partials per layer + tile assembly + gzip + md5 (A2)

Shuffles: exactly the two repartitions. Everything upstream is narrow —
the cover "join" is arithmetic + explode on the feature side, which
Catalyst keeps in one stage with the scan (predicate pushdown + column
pruning intact). Sorted-stream mapInPandas (not per-group applyInPandas)
amortizes per-tile overhead across whole Arrow batches.
"""

from __future__ import annotations

import hashlib
import math
import os
from typing import Optional

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BooleanType, DoubleType, FloatType, IntegerType, LongType, StringType,
)

from .config import Layers
from .mercator import (MERC_MAX, bbox_metatile_range, bbox_tile_range,
                       cover_slack)
from .geom.wkb import wkb_to_geom, geom_to_wkb
from .geom import mvt, ringbulk

WORLD = 2.0 * MERC_MAX

# property columns: Spark type -> MVT conversion (lib.rs:653-684); columns
# of any other type are dropped, like the reference drops unknown/bytea
_PROP_TYPES = (StringType, LongType, IntegerType, DoubleType, FloatType,
               BooleanType)


def _prop_columns(df: DataFrame, exclude=("way", "feature_id")):
    out = []
    for f in df.schema.fields:
        if f.name in exclude:
            continue
        if isinstance(f.dataType, _PROP_TYPES):
            out.append((f.name, f.dataType))
    return out


# per-tile shift (G12): one shared definition in geom.remap, used by
# the scalar pipeline here, the axis-rect fast path, and the batch lane
from .geom.remap import shift_geom as _shift_geom  # noqa: E402


def _bbox_arrays(ways):
    """Per-row bbox arrays from a WKB column (numpy fast path for simple
    2-D points, recursive decode otherwise). NaN = undecodable, or any
    vertex NaN/Inf: Python min/max over such a list can return a finite
    bbox, and the geometry stage then fails the whole job on that row."""
    n = len(ways)
    out = {k: np.full(n, np.nan) for k in ("xmin", "ymin", "xmax", "ymax")}
    # vectorized path for simple 2-D points (dominant for geotagged
    # pages): bbox == the point itself
    simple = np.fromiter((_is_simple_point_wkb(w) for w in ways),
                         dtype=bool, count=n)
    if simple.any():
        buf = np.frombuffer(
            b"".join(w for w, s in zip(ways, simple) if s),
            dtype=np.uint8).reshape(-1, 21)
        xs = buf[:, 5:13].copy().view(np.float64).ravel()
        ys = buf[:, 13:21].copy().view(np.float64).ravel()
        fin = np.isfinite(xs) & np.isfinite(ys)
        idx = np.nonzero(simple)[0][fin]
        xs, ys = xs[fin], ys[fin]
        out["xmin"][idx] = xs; out["xmax"][idx] = xs
        out["ymin"][idx] = ys; out["ymax"][idx] = ys
    for i, w in enumerate(ways):
        if simple[i] or w is None:
            continue
        try:
            g = wkb_to_geom(bytes(w))
        except ValueError:
            continue
        xs, ys = [], []
        _collect_coords(g, xs, ys)
        # a finite sum means every vertex is finite; only a sum that
        # overflowed needs the per-vertex check
        if xs and (math.isfinite(sum(xs) + sum(ys))
                   or all(map(math.isfinite, xs + ys))):
            out["xmin"][i] = min(xs); out["ymin"][i] = min(ys)
            out["xmax"][i] = max(xs); out["ymax"][i] = max(ys)
    return out


def with_bbox(features_df: DataFrame, way_col: str = "way") -> DataFrame:
    """Append xmin/ymin/xmax/ymax decoded from WKB and drop undecodable
    rows — the reference's silent skip (lib.rs:572-579) — in ONE
    mapInPandas pass. A pandas_udf + isNotNull filter looks equivalent but
    is 2× the work: Catalyst instantiates the UDF in both the Filter and
    the Project, so every feature of a 100-TB scan crosses the Arrow
    boundary and decodes its WKB twice (two ArrowEvalPython nodes,
    verified by tools/plan_audit.py; the audit now pins this to one
    Python pass)."""
    from pyspark.sql.types import StructType, StructField

    out_schema = StructType(features_df.schema.fields + [
        StructField("xmin", DoubleType()), StructField("ymin", DoubleType()),
        StructField("xmax", DoubleType()), StructField("ymax", DoubleType()),
    ])

    def run(iterator):
        for pdf in iterator:
            bb = _bbox_arrays(pdf[way_col])
            keep = ~np.isnan(bb["xmin"])
            out = pdf.assign(**bb)
            if not keep.all():
                out = out[keep]
            if len(out):
                yield out

    return features_df.mapInPandas(run, schema=out_schema)


def _collect_coords(geom, xs, ys):
    typ, data = geom
    if typ == "Point":
        xs.append(data[0]); ys.append(data[1])
    elif typ in ("MultiPoint", "LineString"):
        for x, y in data:
            xs.append(x); ys.append(y)
    elif typ in ("MultiLineString", "Polygon"):
        for part in data:
            for x, y in part:
                xs.append(x); ys.append(y)
    else:
        for rings in data:
            for r in rings:
                for x, y in r:
                    xs.append(x); ys.append(y)


def _zoom_xy_filter(ranges: dict[int, tuple[int, int, int, int]],
                    xcol: str, ycol: str):
    """OR-of-per-zoom inclusive integer ranges — bbox restriction as pure
    integer comparisons (the ranges are precomputed driver-side, so no
    float math enters the plan)."""
    cond = None
    for z, (x0, y0, x1, y1) in sorted(ranges.items()):
        c = ((F.col("zoom") == z)
             & F.col(xcol).between(F.lit(x0), F.lit(x1))
             & F.col(ycol).between(F.lit(y0), F.lit(y1)))
        cond = c if cond is None else cond | c
    return cond


def cover_metatiles(feats: DataFrame, zooms: list[int], buffer_px: int,
                    metatile_scale: int = 8,
                    zoom_filter: Optional[str] = None,
                    bbox_merc: Optional[tuple] = None) -> DataFrame:
    """J1 as arithmetic: explode each feature to the (zoom, metatile) cells
    its buffered bbox covers. Pure column math + explode — no shuffle, no
    broadcast; replaces the reference's per-metatile PostGIS `&&` probe
    (input/mod.rs:119, lib.rs:543-544). zoom_filter (the
    !scale_denominator! idiom) prunes rows per zoom before geometry work.

    bbox_merc restricts generation to metatiles intersecting the 3857 bbox
    (MetatilesIterator::new_for_bbox_zoom, lib.rs:186-220): a coarse
    feature-bbox prefilter runs before the zoom explode (pushdown-friendly
    — a planet scan with a city bbox prunes at the source), then the exact
    integer metatile-range filter after."""
    if bbox_merc is not None:
        # In-range tiles are rendered with their FULL extent (the
        # reference iterates the bbox's metatiles and each renders its
        # own padded query bbox, lib.rs:186-220 + 543-544) — so the
        # feature prefilter must pad the metatile-ALIGNED extent of the
        # bbox at the minimum zoom, not the raw bbox: a z0 tile inside a
        # city bbox still contains the whole world's features. At minzoom
        # 0 the aligned extent IS the world (no scan pruning possible —
        # semantically required); a z8+ re-render prunes tightly. The
        # per-zoom integer metatile-range filter below stays the exact
        # tile restriction.
        minz = min(zooms)
        mtx0, mty0, mtx1, mty1 = bbox_metatile_range(bbox_merc, minz,
                                                     metatile_scale)
        span = WORLD * min(metatile_scale, 1 << minz) / float(1 << minz)
        ax0 = -MERC_MAX + mtx0 * span
        ax1 = -MERC_MAX + (mtx1 + 1) * span
        ay0 = MERC_MAX - (mty1 + 1) * span
        ay1 = MERC_MAX - mty0 * span
        # widest clip-buffer slack across zooms (largest at min zoom)
        slack = cover_slack(minz, buffer_px)
        feats = feats.filter(
            (F.col("xmax") >= F.lit(ax0 - slack))
            & (F.col("xmin") <= F.lit(ax1 + slack))
            & (F.col("ymax") >= F.lit(ay0 - slack))
            & (F.col("ymin") <= F.lit(ay1 + slack)))
    # The zoom explode and the metatile-range columns are built as SQL
    # text: each F.* call is a py4j round trip, and the ~20 of them per
    # layer dominated plan-building time. Doubles are written as
    # repr(x) + "D" literals, so the parsed trees equal the Column-API
    # ones (same operation order, same bit-exact constants).
    df = feats.withColumn(
        "zoom", F.expr(f"explode(array({', '.join(map(str, zooms))}))"))
    if zoom_filter:
        df = df.filter(F.expr(zoom_filter))
    if bbox_merc is not None:
        # Per-zoom aligned-extent prune right after the zoom explode:
        # implied by the exact metatile-range filter below (a feature
        # outside the in-range metatiles' padded extent at zoom z can
        # only cover out-of-range metatiles at z), so this is pure early
        # pruning — it cuts the sequence/explode work for deep zooms
        # where the scan-level filter above had to stay world-wide.
        cond = None
        for z in zooms:
            zx0, zy0, zx1, zy1 = bbox_metatile_range(bbox_merc, z,
                                                     metatile_scale)
            span_z = WORLD * min(metatile_scale, 1 << z) / float(1 << z)
            pad_z = cover_slack(z, buffer_px)
            c = ((F.col("zoom") == z)
                 & (F.col("xmax") >= F.lit(-MERC_MAX + zx0 * span_z
                                           - pad_z))
                 & (F.col("xmin") <= F.lit(-MERC_MAX + (zx1 + 1) * span_z
                                           + pad_z))
                 & (F.col("ymax") >= F.lit(MERC_MAX - (zy1 + 1) * span_z
                                           - pad_z))
                 & (F.col("ymin") <= F.lit(MERC_MAX - zy0 * span_z
                                           + pad_z)))
            cond = c if cond is None else cond | c
        df = df.filter(cond)
    two_z_l = "shiftleft(1L, zoom)"
    two_z = f"CAST({two_z_l} AS DOUBLE)"
    size_mt = f"least(CAST({metatile_scale} AS BIGINT), {two_z_l})"
    n_axis = f"CAST(({two_z_l} / {size_mt}) AS BIGINT)"
    world, merc = repr(WORLD) + "D", repr(MERC_MAX) + "D"
    mt_merc = f"(({world} * CAST({size_mt} AS DOUBLE)) / {two_z})"
    # clip-buffer in mercator units + one tile unit of rounding slack
    buf_m = (f"(({world} / {two_z}) * "
             f"{repr((buffer_px * 16 + 1) / 4096.0)}D)")

    def clamp(c):
        return (f"greatest(CAST(0 AS BIGINT), "
                f"least(CAST(floor({c} / {mt_merc}) AS BIGINT), "
                f"({n_axis} - 1)))")

    mx0 = clamp(f"((xmin - {buf_m}) + {merc})")
    mx1 = clamp(f"((xmax + {buf_m}) + {merc})")
    my0 = clamp(f"({merc} - (ymax + {buf_m}))")
    my1 = clamp(f"({merc} - (ymin - {buf_m}))")
    covered = (df
               .withColumn("mtx", F.expr(f"explode(sequence({mx0}, {mx1}))"))
               .withColumn("mty",
                           F.expr(f"explode(sequence({my0}, {my1}))")))
    if bbox_merc is not None:
        ranges = {z: bbox_metatile_range(bbox_merc, z, metatile_scale)
                  for z in zooms}
        covered = covered.filter(_zoom_xy_filter(ranges, "mtx", "mty"))
    return covered


def _points_fast_path(pdf: pd.DataFrame, prop_names, buffer_units: int,
                      metatile_scale: int):
    """Vectorized numpy pipeline for simple WKB points (the dominant case
    for geotagged web pages). Exactly equivalent to the recursive path:
    remap (round half away from zero), clip to the buffered bbox, and the
    quadtree slice collapses to the closed interval
    [t*4096 - buffer, (t+1)*4096 + buffer] per tile t (verified by the
    fast/slow parity test). Returns an output-piece DataFrame or None.

    The fan-out=1 case (point interior to one tile — overwhelmingly
    common) is assembled entirely from numpy arrays, including the WKB
    bytes as one byte matrix (same pattern as extract.geotag_pages);
    only points within buffer distance of a tile edge drop to the
    per-row loop."""
    import numpy as np

    ways = pdf["way"]
    n_rows = len(pdf)
    buf = np.frombuffer(b"".join(ways), dtype=np.uint8).reshape(n_rows, 21)
    xs = buf[:, 5:13].copy().view(np.float64).ravel()
    ys = buf[:, 13:21].copy().view(np.float64).ravel()

    zooms = pdf["zoom"].to_numpy(np.int64)
    mtx = pdf["mtx"].to_numpy(np.int64)
    mty = pdf["mty"].to_numpy(np.int64)
    size_mt = np.minimum(metatile_scale, 1 << zooms)
    x0t = mtx * size_mt
    y0t = mty * size_mt
    nz = (1 << zooms).astype(np.float64)
    minx = x0t / nz * WORLD - MERC_MAX
    maxx = (x0t + size_mt) / nz * WORLD - MERC_MAX
    maxy = MERC_MAX - y0t / nz * WORLD
    miny = MERC_MAX - (y0t + size_mt) / nz * WORLD
    extent = 4096.0 * size_mt

    vx = ((xs - minx) / (maxx - minx)) * extent
    vy = ((maxy - ys) / (maxy - miny)) * extent
    # f64::round — half away from zero
    u = np.where(vx >= 0, np.floor(vx + 0.5), np.ceil(vx - 0.5)).astype(np.int64)
    v = np.where(vy >= 0, np.floor(vy + 0.5), np.ceil(vy - 0.5)).astype(np.int64)

    ext_i = extent.astype(np.int64)
    keep = ((u >= -buffer_units) & (u <= ext_i + buffer_units) &
            (v >= -buffer_units) & (v <= ext_i + buffer_units))
    if not keep.any():
        return None

    idx = np.nonzero(keep)[0]
    u, v = u[idx], v[idx]
    size_mt, x0t, y0t = size_mt[idx], x0t[idx], y0t[idx]
    zoom_k = zooms[idx]
    fid = pdf["feature_id"].to_numpy(np.int64)[idx]

    tx_lo = np.maximum(-(-(u - buffer_units) // 4096) - 1, 0)
    tx_hi = np.minimum((u + buffer_units) // 4096, size_mt - 1)
    ty_lo = np.maximum(-(-(v - buffer_units) // 4096) - 1, 0)
    ty_hi = np.minimum((v + buffer_units) // 4096, size_mt - 1)

    prop_vals = {p: pdf[p].to_numpy()[idx] for p in prop_names}
    cols = ["zoom", "x", "y", "feature_id", "geom"] + prop_names
    frames = []

    fan1 = (tx_hi == tx_lo) & (ty_hi == ty_lo)
    s = np.nonzero(fan1)[0]
    if len(s):
        tx, ty = tx_lo[s], ty_lo[s]
        gx = (u[s] - tx * 4096).astype("<f8")
        gy = (v[s] - ty * 4096).astype("<f8")
        m = len(s)
        wb = np.empty((m, 21), dtype=np.uint8)
        wb[:, 0] = 1   # little-endian
        wb[:, 1] = 1   # wkbPoint
        wb[:, 2:5] = 0
        wb[:, 5:13] = gx.view(np.uint8).reshape(-1, 8)
        wb[:, 13:21] = gy.view(np.uint8).reshape(-1, 8)
        raw = wb.tobytes()
        d = {"zoom": zoom_k[s], "x": x0t[s] + tx, "y": y0t[s] + ty,
             "feature_id": fid[s],
             "geom": pd.Series([raw[i * 21:(i + 1) * 21] for i in range(m)],
                               dtype=object)}
        for p in prop_names:
            d[p] = prop_vals[p][s]
        frames.append(pd.DataFrame(d, columns=cols))

    multi = np.nonzero(~fan1)[0]
    if len(multi):
        rows = {k: [] for k in cols}
        for j in multi:
            for tx in range(tx_lo[j], tx_hi[j] + 1):
                for ty in range(ty_lo[j], ty_hi[j] + 1):
                    rows["zoom"].append(int(zoom_k[j]))
                    rows["x"].append(int(x0t[j] + tx))
                    rows["y"].append(int(y0t[j] + ty))
                    rows["feature_id"].append(int(fid[j]))
                    rows["geom"].append(geom_to_wkb(
                        ("Point", (int(u[j]) - tx * 4096,
                                   int(v[j]) - ty * 4096))))
                    for p in prop_names:
                        rows[p].append(prop_vals[p][j])
        frames.append(pd.DataFrame(rows, columns=cols))

    if not frames:
        return None
    return frames[0] if len(frames) == 1 else \
        pd.concat(frames, ignore_index=True)


def _is_simple_point_wkb(w) -> bool:
    return (w is not None and len(w) == 21 and w[0] == 1
            and w[1] == 1 and w[2] == 0 and w[3] == 0 and w[4] == 0)


_RING5_HEADER = bytes([1, 3, 0, 0, 0, 1, 0, 0, 0, 5, 0, 0, 0])


def _is_ring5_polygon_wkb(w) -> bool:
    """Single-ring 5-point closed polygon WKB (93 bytes) — the shape of
    every clipped box/rectangle piece. Closure check compares the first
    and last point bytes directly."""
    return (w is not None and len(w) == 93
            and w[:13] == _RING5_HEADER and w[13:29] == w[77:93])


# cache-resident slice size for the rect lane, same lever as the ragged
# lane's _CHUNK_FEATURES (geom/batch.py): measured on this host
# (tools/ab_rect_chunk.py), the whole-batch rect kernel loses ~1.3x at
# the 20k Arrow cap to temporaries spilling out of cache. The points
# lane is deliberately NOT chunked — its working set is ~4x smaller and
# per-call constants dominate (chunking measured SLOWER there).
_RECT_CHUNK = 4096


def _rects_fast_path(pdf: pd.DataFrame, prop_names, buffer_units: int,
                     metatile_scale: int, global_maxzoom: int):
    """Vectorized pipeline for axis-aligned rectangle polygons (the
    closed-form twin of the scalar remap→simplify→clip→slice→make_valid
    chain — see geom/rectfast.py for the derivation). pdf rows are
    candidates whose WKB passed the ring5 header check; rows that are
    not axis-aligned rects are returned for the scalar loop.

    Oversized batches are processed in _RECT_CHUNK-row slices; slice
    order preserves row order, so output rows (and therefore downstream
    MVT bytes) are identical to a whole-batch pass.

    Returns (frame_or_None, leftover_pdf)."""
    import numpy as np

    from .geom.rectfast import rect_pieces, rings_wkb

    if len(pdf) > _RECT_CHUNK:
        frames, lefts = [], []
        for s in range(0, len(pdf), _RECT_CHUNK):
            f, lo = _rects_fast_path(pdf.iloc[s:s + _RECT_CHUNK],
                                     prop_names, buffer_units,
                                     metatile_scale, global_maxzoom)
            if f is not None:
                frames.append(f)
            if len(lo):
                lefts.append(lo)
        frame = (pd.concat(frames, ignore_index=True) if len(frames) > 1
                 else frames[0] if frames else None)
        leftover = (pd.concat(lefts) if len(lefts) > 1
                    else lefts[0] if lefts else pdf.iloc[0:0])
        return frame, leftover

    n_rows = len(pdf)
    buf = np.frombuffer(b"".join(pdf["way"]), dtype=np.uint8) \
        .reshape(n_rows, 93)
    pts = buf[:, 13:93].copy().view("<f8").reshape(n_rows, 5, 2)
    x = pts[:, :4, 0]
    y = pts[:, :4, 1]
    # exactly-one-coord edges with alternating axes => proper axis rect
    # with 4 distinct corners (closure already verified byte-wise)
    xn = np.roll(x, -1, axis=1)
    yn = np.roll(y, -1, axis=1)
    dx = x != xn
    dy = y != yn
    one = dx ^ dy
    alt = (dx[:, :3] != dx[:, 1:]).all(axis=1)
    is_rect = one.all(axis=1) & alt

    rects = pdf[is_rect]
    leftover = pdf[~is_rect]
    if not len(rects):
        return None, leftover
    ridx = np.flatnonzero(is_rect)
    x, y = x[ridx], y[ridx]

    zooms = rects["zoom"].to_numpy(np.int64)
    mtx = rects["mtx"].to_numpy(np.int64)
    mty = rects["mty"].to_numpy(np.int64)
    size_mt = np.minimum(metatile_scale, 1 << zooms)
    x0t = mtx * size_mt
    y0t = mty * size_mt
    nz = (1 << zooms).astype(np.float64)
    minx = x0t / nz * WORLD - MERC_MAX
    maxx = (x0t + size_mt) / nz * WORLD - MERC_MAX
    maxy = MERC_MAX - y0t / nz * WORLD
    miny = MERC_MAX - (y0t + size_mt) / nz * WORLD
    extent = 4096.0 * size_mt

    # remap each ring point (round half away from zero), y flipped
    vx = ((x - minx[:, None]) / (maxx - minx)[:, None]) * extent[:, None]
    vy = ((maxy[:, None] - y) / (maxy - miny)[:, None]) * extent[:, None]
    u = np.where(vx >= 0, np.floor(vx + 0.5), np.ceil(vx - 0.5)) \
        .astype(np.int64)
    v = np.where(vy >= 0, np.floor(vy + 0.5), np.ceil(vy - 0.5)) \
        .astype(np.int64)

    # rect bounds + ring state in tile space; degenerate axes collapse
    # to duplicate points -> ring shorter than 4 -> dropped (remap
    # semantics)
    rx0, rx1 = u.min(axis=1), u.max(axis=1)
    ry0, ry1 = v.min(axis=1), v.max(axis=1)
    ok = (rx0 < rx1) & (ry0 < ry1)

    # corner index of each remapped ring point in the canonical cycle
    # C0=(x0,y0) C1=(x1,y0) C2=(x1,y1) C3=(x0,y1)
    cidx = np.where(v == ry0[:, None],
                    np.where(u == rx0[:, None], 0, 1),
                    np.where(u == rx0[:, None], 3, 2))
    start = cidx[:, 0]
    fwd = ((cidx[:, 1] - cidx[:, 0]) % 4) == 1
    state = (start << 1) | fwd.astype(np.int64)

    k = np.flatnonzero(ok)
    if not len(k):
        return None, leftover
    (pf, ptx, pty, px0, py0, px1, py1, out_state, as_multi) = rect_pieces(
        rx0[k], ry0[k], rx1[k], ry1[k], state[k], zooms[k], size_mt[k],
        x0t[k], y0t[k], buffer_units, global_maxzoom)
    if not len(pf):
        return None, leftover
    src = k[pf]  # row index into rects

    geoms = rings_wkb(px0, py0, px1, py1, out_state, as_multi)
    d = {"zoom": zooms[src],
         "x": x0t[src] + ptx, "y": y0t[src] + pty,
         "feature_id": rects["feature_id"].to_numpy(np.int64)[src],
         "geom": pd.Series(geoms, dtype=object)}
    for p in prop_names:
        d[p] = rects[p].to_numpy()[src]
    cols = ["zoom", "x", "y", "feature_id", "geom"] + prop_names
    return pd.DataFrame(d, columns=cols), leftover


def geometry_stage(covered: DataFrame, layer_id: str, buffer_px: int,
                   global_maxzoom: int, metatile_scale: int = 8,
                   epsilon: int = 8) -> DataFrame:
    """Per-feature dataflow G2→G16 (lib.rs:559-728) in one Arrow pass.

    Input: (zoom, mtx, mty, way, feature_id, props...).
    Output: (zoom, x, y, feature_id, geom, props...) — one row per
    (feature, tile) piece, geometry in tile-local i32 coords serialized as
    WKB (exact: |coord| < 2^53)."""
    # The bbox columns only feed the JVM cover arithmetic upstream; an
    # opaque mapInPandas ships every input column (Spark cannot see which
    # ones the function reads — guide §4 column-pruning point), so drop
    # the 32 bytes/row of doubles before the Arrow boundary.
    covered = covered.drop("xmin", "ymin", "xmax", "ymax")
    # Cap this narrow stage's task count: a multi-layer / multi-zoom
    # union of scan branches over small-file sources otherwise plans
    # hundreds of micro-tasks, and each mapInPandas task carries tens of
    # ms of fixed Arrow/worker cost plus the numpy lanes' per-call
    # setup (measured: the 3-layer bench leg ran this stage as 256
    # tasks, 118 core-s, most of it fixed cost). coalesce is narrow —
    # no shuffle — and a no-op when the scan already has fewer splits;
    # larger inputs get proportionally larger (not more) tasks, which
    # is the right direction for a Python-bound stage.
    try:
        cores = covered.sparkSession.sparkContext.defaultParallelism
        per_core = float(os.environ.get("TILEIGI_GEOM_PARTS_PER_CORE", "2"))
        covered = covered.coalesce(max(1, int(cores * per_core)))
    except Exception:
        pass
    props = _prop_columns(covered,
                          exclude=("way", "feature_id", "zoom", "mtx", "mty",
                                   "xmin", "ymin", "xmax", "ymax"))
    prop_names = [p[0] for p in props]
    out_fields = ["zoom int", "x long", "y long", "feature_id long",
                  "geom binary"]
    for name, dt in props:
        out_fields.append(f"{name} {dt.simpleString()}")
    out_schema = ", ".join(out_fields)
    buffer_units = buffer_px * 16  # lib.rs:508

    def run(iterator):
        for pdf in iterator:
            frames = []
            is_pt = pdf["way"].map(_is_simple_point_wkb)
            pts = pdf[is_pt.values]
            if len(pts):
                f = _points_fast_path(pts, prop_names, buffer_units,
                                      metatile_scale)
                if f is not None:
                    frames.append(f)
            pdf = pdf[~is_pt.values]
            # the rect fast path's simplify wipe tiering (rectfast.py)
            # is derived for eps2 = 64; with any other epsilon the
            # candidates take the scalar branch, which honors it
            if len(pdf) and epsilon == 8:
                is_r5 = pdf["way"].map(_is_ring5_polygon_wkb)
                cands = pdf[is_r5.values]
                if len(cands):
                    f, leftover = _rects_fast_path(
                        cands, prop_names, buffer_units, metatile_scale,
                        global_maxzoom)
                    if f is not None:
                        frames.append(f)
                    pdf = pd.concat([pdf[~is_r5.values], leftover]) \
                        if len(leftover) else pdf[~is_r5.values]
            # general shapes: ragged segment-batched numpy lane with
            # per-stage scalar fallback (geom/batch.py); the historic
            # per-row loop lives on as batch._scalar_chain for the
            # features a stage would actually change
            if len(pdf):
                from .geom.batch import process_general

                f = process_general(pdf, prop_names, buffer_units,
                                    metatile_scale, global_maxzoom,
                                    epsilon)
                if f is not None:
                    frames.append(f)
            if frames:
                yield (frames[0] if len(frames) == 1 else
                       pd.concat(frames, ignore_index=True))

    return covered.mapInPandas(run, schema=out_schema)


def _int_geom(geom):
    """WKB floats -> exact int coords."""
    typ, data = geom
    if typ == "Point":
        return (typ, (int(data[0]), int(data[1])))
    if typ in ("MultiPoint", "LineString"):
        return (typ, [(int(x), int(y)) for x, y in data])
    if typ in ("MultiLineString", "Polygon"):
        return (typ, [[(int(x), int(y)) for x, y in part] for part in data])
    return (typ, [[[(int(x), int(y)) for x, y in r] for r in rings]
                  for rings in data])


def _bulk_point_tags(enc, cols):
    """Intern a point-run's property values into `enc` in the exact
    (row, column) first-appearance order the per-row path would use, so
    the vectorized framer's bytes match per-row output bit-for-bit.

    cols: list of (prop_name, spark_type, codes int64, uniques) from a
    per-batch pd.factorize, sliced to the run. Returns prop_tags for
    mvt.bulk_frame_point_features (columns with no valid value omitted,
    matching the per-row path which never visits them).
    """
    pend = []
    for j, (p, t, codes, uniques) in enumerate(cols):
        u, first = np.unique(codes, return_index=True)
        for f, cu in zip(first.tolist(), u.tolist()):
            if cu >= 0:
                pend.append((f, j, cu))
    pend.sort()
    luts = [np.zeros(max(len(c[3]), 1), dtype=np.int64) for c in cols]
    kis = [None] * len(cols)
    for f, j, cu in pend:
        p, t, codes, uniques = cols[j]
        if kis[j] is None:
            kis[j] = enc.intern_key(p)
        luts[j][cu] = enc.intern_value(_mvt_value(uniques[cu], t))
    prop_tags = []
    for j, (p, t, codes, uniques) in enumerate(cols):
        if kis[j] is None:
            continue
        valid = codes >= 0
        vi = luts[j][np.where(valid, codes, 0)]
        prop_tags.append((kis[j], vi, valid))
    return prop_tags


# MVT geometry type of each bulk-framer family; the encode walk classes
# every piece WKB into one of these (0 = no bulk framer, per-row only)
_KIND_GTYPE = {"point": 1, "genline": 2, "genpoly": 3}
_GTYPE_KIND = {g: k for k, g in _KIND_GTYPE.items()}
_WKB_TYPE_GTYPE = {1: 1, 2: 2, 5: 2, 3: 3, 6: 3}


def _wkb_gtype(g) -> int:
    """Bulk-framer family of one piece WKB as its MVT geometry type: 1 a
    simple 2-D point, 2 a (Multi)LineString, 3 a (Multi)Polygon, 0
    anything else (MultiPoint, collections, non-LE or Z/M headers)."""
    if g is None or len(g) < 9 or g[0] != 1 or g[2] or g[3] or g[4]:
        return 0
    t = _WKB_TYPE_GTYPE.get(g[1], 0)
    return 0 if (t == 1 and len(g) != 21) else t


def _parse_family(geoms, kind):
    """Decode a run of same-family piece WKBs into the input of
    _frame_family: (xs, ys) int64 vectors for points, the ragged
    (xs, ys, ring_off, feat_off) arrays for polygons and lines. None
    when a polygon/line row is malformed (caller goes per-row)."""
    if kind == "point":
        buf = np.frombuffer(b"".join(geoms), dtype=np.uint8).reshape(-1, 21)
        return (buf[:, 5:13].copy().view(np.float64).ravel().astype(np.int64),
                buf[:, 13:21].copy().view(np.float64).ravel()
                .astype(np.int64))
    if kind == "genpoly":
        return ringbulk.parse_poly_family(geoms)
    return ringbulk.parse_line_family(geoms)


def _frame_family(coords, kind, prop_tags):
    """(stream, per-feature frame lengths) for parsed coords, or None on
    a framer width bound (caller goes per-row)."""
    if kind == "point":
        return mvt.bulk_frame_point_features(*coords, prop_tags)
    return ringbulk.bulk_frame_ragged_features(*coords, _KIND_GTYPE[kind],
                                               prop_tags)


def _bulk_encode_point_groups(layer_name, prop, ptype, coords,
                              codes, uniques, seg_starts, kind="point"):
    """Encode MANY complete single-family groups of one layer in one
    vectorized pass (zero or one property column). coords is the
    _parse_family output for `kind` ("point", "genpoly" or "genline")
    over all rows of all groups. Returns the list of finished
    layer-message bytes, one per group (seg_starts order), or None when
    a varint-width bound is exceeded (caller falls back).

    Per-group LayerEncoder work is ~100µs of interpreter/numpy-call
    overhead, and a multi-layer or high-zoom batch holds thousands of
    groups of one to a few features, so the per-group constant
    dominates the encode stage. This path computes group-local
    value-table ranks for the whole batch with one unique/lexsort,
    frames every feature through the shared byte-matrix writer, then
    assembles each group's message from slices by the framer's
    per-feature frame lengths — O(rows) vectorized + O(groups) cheap
    joins. Bytes are identical to the per-row LayerEncoder output
    (pinned by tests/test_mvt_bulk.py and the golden-tile fixtures).

    codes/uniques: pd.factorize of the property column over these rows
    (codes -1 = NULL), or None when the layer has no property column.
    seg_starts: int64 array of group start offsets (first element 0).
    """
    nseg = len(seg_starts)
    header = (mvt._tag(15, 0) + mvt._varint(2)
              + mvt._len_delim(1, layer_name.encode("utf-8")))
    extbytes = mvt._tag(5, 0) + mvt._varint(4096)

    if codes is None:
        prop_tags = []
        has_valid = np.zeros(nseg, dtype=bool)
        valtabs = {}
        keybytes = b""
    else:
        n = len(codes)
        gid = np.zeros(n, dtype=np.int64)
        gid[seg_starts[1:]] = 1
        gid = np.cumsum(gid)
        keybytes = mvt._len_delim(3, prop.encode("utf-8"))
        K = max(len(uniques), 1)
        valid = codes >= 0
        idx = np.flatnonzero(valid)
        pairs = gid[idx] * K + codes[idx]
        u_pairs, first_pos = np.unique(pairs, return_index=True)
        inv = np.searchsorted(u_pairs, pairs)
        g_of_pair = u_pairs // K
        order = np.lexsort((first_pos, g_of_pair))
        sorted_g = g_of_pair[order]
        if len(order):
            grp_start = np.flatnonzero(
                np.concatenate(([True], sorted_g[1:] != sorted_g[:-1])))
            reps = np.diff(np.append(grp_start, len(order)))
            rank_seq = (np.arange(len(order))
                        - np.repeat(grp_start, reps))
        else:
            grp_start = np.zeros(0, dtype=np.int64)
            rank_seq = np.zeros(0, dtype=np.int64)
        ranks = np.empty(len(u_pairs), dtype=np.int64)
        ranks[order] = rank_seq
        vi = np.zeros(n, dtype=np.int64)
        vi[idx] = ranks[inv]
        prop_tags = [(0, vi, valid)]
        has_valid = np.zeros(nseg, dtype=bool)
        has_valid[gid[idx]] = True
        # per-group value tables, in first-appearance order
        vbytes = [None] * len(uniques)
        pair_codes_sorted = (u_pairs % K)[order].tolist()
        valtabs = {}
        bounds = np.append(grp_start, len(order)).tolist()
        for i, g in enumerate(sorted_g[grp_start].tolist()):
            chunks = []
            for c in pair_codes_sorted[bounds[i]:bounds[i + 1]]:
                b = vbytes[c]
                if b is None:
                    b = mvt._len_delim(
                        4, mvt._encode_value(_mvt_value(uniques[c], ptype)))
                    vbytes[c] = b
                chunks.append(b)
            valtabs[g] = b"".join(chunks)

    res = _frame_family(coords, kind, prop_tags)
    if res is None:
        return None
    stream, rowlen = res
    cum = np.concatenate(([0], np.cumsum(rowlen)))
    cut = cum[np.append(seg_starts, len(rowlen))].tolist()
    parts = []
    for g, tagged in enumerate(has_valid.tolist()):
        seg = stream[cut[g]:cut[g + 1]]
        if tagged:
            parts.append(header + seg + keybytes + valtabs[g] + extbytes)
        else:
            parts.append(header + seg + extbytes)
    return parts


def _mvt_value(v, t):
    if v is None or (isinstance(v, float) and pd.isna(v)):
        return None
    if isinstance(t, FloatType):
        return ("f32", float(v))
    if isinstance(t, (LongType, IntegerType)):
        return int(v)
    if isinstance(t, BooleanType):
        return bool(v)
    if isinstance(t, DoubleType):
        return float(v)
    return str(v)


_PARTIAL_SCHEMA = ("zoom int, x long, y long, salt int, layer_order int, "
                   "layer string, part binary")


def _make_encode_run(prop_types: dict[str, dict], all_props):
    """The sorted-stream partial-layer encode walk as a reusable
    mapInPandas function (shared by the salted two-shuffle path and the
    fused salt-free path — the walk itself is salt-agnostic: salt is
    just one more run-break column, constant 0 in the fused stream).

    Each Arrow batch splits into groups, one per contiguous (tile, salt,
    layer) run, and each group becomes one partial-layer row. The first
    and last group of a batch may continue across the batch boundary,
    so they go through the stateful encoder (handle_segment). Every
    complete group in between is classed by (layer, shape family) —
    point, polygon/multipolygon, line/multiline — and each class whose
    layer has at most one property column is framed in ONE
    _bulk_encode_point_groups call, however its groups interleave with
    other layers' groups (a multi-layer tile stream changes layer every
    group or two). Mixed-family groups, layers with more than one
    property column and framer width overflows get a fresh per-group
    LayerEncoder. Partial rows leave in the original sorted group order,
    which the fused assemble walk relies on."""

    def run(iterator):
        cur_key = None
        enc = None
        out = {k: [] for k in ("zoom", "x", "y", "salt", "layer_order",
                               "layer", "part")}

        def flush():
            if cur_key is None:
                return
            z, x, y, salt, order, layer = cur_key
            out["zoom"].append(z); out["x"].append(x); out["y"].append(y)
            out["salt"].append(salt); out["layer_order"].append(order)
            out["layer"].append(layer); out["part"].append(enc.to_bytes())

        for pdf in iterator:
            n = len(pdf)
            if n == 0:
                continue
            zs = pdf["zoom"].values.astype(np.int64)
            txs = pdf["x"].values.astype(np.int64)
            tys = pdf["y"].values.astype(np.int64)
            ss = pdf["salt"].values.astype(np.int64)
            lo = pdf["layer_order"].values.astype(np.int64)
            ly_codes, ly_uniq = pd.factorize(pdf["layer"])
            geoms = pdf["geom"].values
            pvals = {p: pdf[p].values for p in all_props if p in pdf}
            fam = np.fromiter(map(_wkb_gtype, geoms), dtype=np.int64,
                              count=n)
            # per-batch value dictionaries for the vectorized paths
            fact = ({p: pd.factorize(pdf[p], use_na_sentinel=True)
                     for p in pvals} if fam.any() else {})

            chg = np.empty(n, dtype=bool)
            chg[0] = True
            if n > 1:
                chg[1:] = ((zs[1:] != zs[:-1]) | (txs[1:] != txs[:-1])
                           | (tys[1:] != tys[:-1]) | (ss[1:] != ss[:-1])
                           | (lo[1:] != lo[:-1])
                           | (ly_codes[1:] != ly_codes[:-1]))
            starts = np.flatnonzero(chg)
            ends = np.append(starts[1:], n)

            def add_rows(enc, s, e):
                # rows [s, e) of enc's layer: one vectorized frame when
                # the run is >= 8 rows of one family (interning values in
                # per-row visit order; falls back on width overflow),
                # else the per-row encoder
                ptypes = prop_types.get(enc.name, {})
                kind = _GTYPE_KIND.get(int(fam[s]))
                if (e - s >= 8 and kind is not None
                        and bool((fam[s:e] == fam[s]).all())):
                    coords = _parse_family(geoms[s:e], kind)
                    if coords is not None:
                        seg_cols = [(p, t, fact[p][0][s:e], fact[p][1])
                                    for p, t in ptypes.items() if p in fact]
                        res = _frame_family(coords, kind,
                                            _bulk_point_tags(enc, seg_cols))
                        if res is not None:
                            enc.add_framed_features(res[0])
                            return
                for i in range(s, e):
                    geom = _int_geom(wkb_to_geom(bytes(geoms[i])))
                    properties = {p: _mvt_value(pvals[p][i], t)
                                  for p, t in ptypes.items() if p in pvals}
                    enc.add_feature(geom, properties)

            def handle_segment(s, e):
                nonlocal cur_key, enc
                layer = ly_uniq[ly_codes[s]]
                key = (int(zs[s]), int(txs[s]), int(tys[s]),
                       int(ss[s]), int(lo[s]), layer)
                if key != cur_key:
                    flush()
                    cur_key = key
                    enc = mvt.LayerEncoder(layer)
                add_rows(enc, s, e)

            def complete_group_parts(gs, ge):
                # a group's family is its rows' common family, 0 if mixed
                gfam = np.minimum.reduceat(fam[:ge[-1]], gs)
                gfam[gfam != np.maximum.reduceat(fam[:ge[-1]], gs)] = 0
                gly = ly_codes[gs]
                parts = [None] * len(gs)
                for cls in np.unique(gly * 4 + gfam).tolist():
                    lc, f = divmod(cls, 4)
                    layer = ly_uniq[lc]
                    ptl = [(p, t) for p, t in prop_types.get(layer, {}).items()
                           if p in fact]
                    if f == 0 or len(ptl) > 1:
                        continue
                    sel = np.flatnonzero((gly == lc) & (gfam == f))
                    lens = ge[sel] - gs[sel]
                    seg_starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
                    rows = (np.repeat(gs[sel] - seg_starts, lens)
                            + np.arange(int(lens.sum())))
                    kind = _GTYPE_KIND[f]
                    coords = _parse_family(geoms[rows], kind)
                    if coords is None:
                        continue
                    p, t = ptl[0] if ptl else (None, None)
                    codes, uniq = ((fact[p][0][rows], fact[p][1]) if ptl
                                   else (None, None))
                    res = _bulk_encode_point_groups(layer, p, t, coords,
                                                    codes, uniq, seg_starts,
                                                    kind)
                    if res is not None:
                        for i, b in zip(sel.tolist(), res):
                            parts[i] = b
                for i, b in enumerate(parts):
                    if b is None:
                        genc = mvt.LayerEncoder(ly_uniq[ly_codes[gs[i]]])
                        add_rows(genc, int(gs[i]), int(ge[i]))
                        parts[i] = genc.to_bytes()
                return parts

            handle_segment(int(starts[0]), int(ends[0]))
            if len(starts) > 2:
                flush()
                cur_key = enc = None
                gs, ge = starts[1:-1], ends[1:-1]
                out["zoom"].extend(zs[gs].tolist())
                out["x"].extend(txs[gs].tolist())
                out["y"].extend(tys[gs].tolist())
                out["salt"].extend(ss[gs].tolist())
                out["layer_order"].extend(lo[gs].tolist())
                out["layer"].extend(ly_uniq[ly_codes[gs]].tolist())
                out["part"].extend(complete_group_parts(gs, ge))
            if len(starts) > 1:
                handle_segment(int(starts[-1]), n)
            # a batch can add ~1 row per group: drain here so peak
            # buffering stays near the 2000-row bound rather than
            # maxRecordsPerBatch
            if len(out["zoom"]) >= 2000:
                yield pd.DataFrame(out)
                for v in out.values():
                    v.clear()
        flush()
        if out["zoom"]:
            yield pd.DataFrame(out)

    return run


def encode_layers(pieces: DataFrame, prop_types: dict[str, dict],
                  salt_zoom_max: int = 4, n_salts: int = 16,
                  shuffle_parts: Optional[int] = None) -> DataFrame:
    """A1: salted partial layer encode. One shuffle: repartition by
    (zoom,x,y,salt) + sortWithinPartitions, then a mapInPandas pass that
    walks the sorted stream and encodes one partial MVT layer message per
    contiguous (tile, salt, layer) run — per-group overhead is amortized
    across the whole Arrow batch (the reason this is mapInPandas and not
    applyInPandas). Canonical feature order (salt, layer_order, feature_id)
    is partitioning-independent, so tile bytes are deterministic at any
    parallelism (O9/O13).

    pieces: unioned per-layer outputs of geometry_stage with layer_id /
    layer_order columns. prop_types: layer_id -> {col -> Spark type}.

    shuffle_parts: explicit partition count for the exchange. The encode
    walk is Python-bound, so wave packing dominates wall time: with
    partitions ~= cores, one straggler task idles every other core
    (measured 5.3/8 cores busy at 14 tasks), and AQE's parallelismFirst
    coalescing actively re-creates that coarse case. build_tiles clamps
    the value to 2x cores (_python_stage_parts: more tasks pay a fixed
    per-task cost each), so a caller's cores*8 — what bench.py passes —
    runs as cores*2; None keeps the spark.sql.shuffle.partitions + AQE
    behavior.
    """
    salt_col = (F.when(F.col("zoom") <= F.lit(salt_zoom_max),
                       F.pmod(F.col("feature_id"), F.lit(n_salts))
                       .cast("int"))
                .otherwise(F.lit(0)))
    salted = pieces.withColumn("salt", salt_col)
    if shuffle_parts is None:
        salted = salted.repartition("zoom", "x", "y", "salt")
    else:
        salted = salted.repartition(shuffle_parts,
                                    "zoom", "x", "y", "salt")
    salted = salted.sortWithinPartitions("zoom", "x", "y", "salt",
                                         "layer_order", "feature_id")

    all_props = sorted({p for d in prop_types.values() for p in d})
    return salted.mapInPandas(_make_encode_run(prop_types, all_props),
                              schema=_PARTIAL_SCHEMA)


_TILE_SCHEMA = "zoom int, x long, y long, tile binary, tile_md5 string"


def _make_assemble_run(compress: bool = True):
    """The sorted-partials tile-assembly walk (merge + gzip + md5) as a
    reusable mapInPandas function — shared by the shuffled assemble and
    the fused path, where the encode output is already tile-contiguous."""

    def run(iterator):
        cur_tile = None
        cur_layer = None
        layer_parts = []   # partials of current layer
        layer_bytes = []   # finished layer messages of current tile
        out = {k: [] for k in ("zoom", "x", "y", "tile", "tile_md5")}

        def flush_layer():
            nonlocal layer_parts
            if layer_parts:
                layer_bytes.append(mvt.merge_partial_layers(layer_parts))
                layer_parts = []

        def flush_tile():
            nonlocal layer_bytes
            flush_layer()
            if cur_tile is None:
                return
            tile = mvt.encode_tile(layer_bytes, compress=compress)
            out["zoom"].append(cur_tile[0])
            out["x"].append(cur_tile[1])
            out["y"].append(cur_tile[2])
            out["tile"].append(tile)
            out["tile_md5"].append(hashlib.md5(tile).hexdigest())
            layer_bytes = []

        for pdf in iterator:
            n = len(pdf)
            if n == 0:
                continue
            zs = pdf["zoom"].values
            xs = pdf["x"].values
            ys = pdf["y"].values
            lo = pdf["layer_order"].values
            ly = pdf["layer"].values
            parts = pdf["part"].values
            # single-partial fast path: a sorted run of exactly one row
            # per tile (the high-zoom norm) needs no merge and no
            # per-row state walk — merge_partial_layers of one partial
            # is the identity, so the tile is gzip(frame(part)) direct.
            # Runs touching the batch edges may continue the previous/
            # next Arrow batch's tile and take the stateful walk.
            chg = np.ones(n, dtype=bool)
            if n > 1:
                chg[1:] = ((zs[1:] != zs[:-1]) | (xs[1:] != xs[:-1])
                           | (ys[1:] != ys[:-1]))
            starts = np.flatnonzero(chg)
            ends = np.append(starts[1:], n)
            nruns = len(starts)
            for k in range(nruns):
                s, e = int(starts[k]), int(ends[k])
                if 0 < k < nruns - 1 and e - s == 1:
                    flush_tile()
                    cur_tile = None
                    cur_layer = None
                    tile = mvt.encode_tile([bytes(parts[s])],
                                           compress=compress)
                    out["zoom"].append(int(zs[s]))
                    out["x"].append(int(xs[s]))
                    out["y"].append(int(ys[s]))
                    out["tile"].append(tile)
                    out["tile_md5"].append(
                        hashlib.md5(tile).hexdigest())
                else:
                    for i in range(s, e):
                        tile_key = (int(zs[i]), int(xs[i]), int(ys[i]))
                        layer_key = (int(lo[i]), ly[i])
                        if tile_key != cur_tile:
                            flush_tile()
                            cur_tile = tile_key
                            cur_layer = None
                        if layer_key != cur_layer:
                            flush_layer()
                            cur_layer = layer_key
                        layer_parts.append(bytes(parts[i]))
                if len(out["zoom"]) >= 2000:
                    yield pd.DataFrame(out)
                    for v in out.values():
                        v.clear()
        flush_tile()
        if out["zoom"]:
            yield pd.DataFrame(out)

    return run


def assemble_tiles(partials: DataFrame, compress: bool = True,
                   shuffle_parts: Optional[int] = None) -> DataFrame:
    """A2: merge salted partials per layer and zip layer messages into
    per-tile MVT tiles + gzip + md5 (content-address for O12 dedup,
    fileio.rs:136-148). One shuffle: repartition (zoom,x,y) + sorted
    mapInPandas walk. shuffle_parts: see encode_layers — same
    Python-bound wave-packing argument."""
    if shuffle_parts is None:
        ordered = partials.repartition("zoom", "x", "y")
    else:
        ordered = partials.repartition(shuffle_parts, "zoom", "x", "y")
    ordered = ordered.sortWithinPartitions("zoom", "x", "y", "layer_order",
                                           "layer", "salt")
    return ordered.mapInPandas(_make_assemble_run(compress),
                               schema=_TILE_SCHEMA)


def encode_assemble_fused(pieces: DataFrame, prop_types: dict[str, dict],
                          compress: bool = True,
                          shuffle_parts: Optional[int] = None) -> DataFrame:
    """A1+A2 in ONE shuffle for salt-free piece streams (every zoom above
    salt_zoom_max — the overwhelming tile majority of a deep pyramid).

    With salt constant 0, repartitioning by (zoom, x, y) already lands
    every piece of a tile in one partition, so the partial-layer encode
    walk emits exactly one partial per (tile, layer) — and those partial
    rows leave the encode mapInPandas already tile-contiguous in the
    canonical order the assembly walk needs. The second exchange + sort
    of the two-shuffle path exists only to regroup SALTED partials; here
    it is the identity, so the assembly walk runs narrow, in-stage, right
    after the encode (guide §2.4: remove shuffles outright). Bytes are
    identical to the salted path's: one partial per layer merges as the
    identity, and the per-tile feature order (layer_order, feature_id)
    is unchanged."""
    salted = pieces.withColumn("salt", F.lit(0))
    if shuffle_parts is None:
        ordered = salted.repartition("zoom", "x", "y")
    else:
        ordered = salted.repartition(shuffle_parts, "zoom", "x", "y")
    ordered = ordered.sortWithinPartitions("zoom", "x", "y",
                                           "layer_order", "feature_id")
    all_props = sorted({p for d in prop_types.values() for p in d})
    partials = ordered.mapInPandas(_make_encode_run(prop_types, all_props),
                                   schema=_PARTIAL_SCHEMA)
    return partials.mapInPandas(_make_assemble_run(compress),
                                schema=_TILE_SCHEMA)


def empty_tile_bytes(layers: Layers, zoom: int, compress: bool = True) -> bytes:
    """Constant bytes of a tile with only empty layer shells for this zoom
    (the reference emits every tile of the pyramid; identical empties
    md5-dedup in the sink)."""
    lb = [mvt.encode_layer(l.id, []) for l in layers.layers_for_zoom(zoom)]
    return mvt.encode_tile(lb, compress=compress)


def single_metatile(spark: SparkSession, sources: dict[str, DataFrame],
                    layers: Layers, zoom: int, mtx: int, mty: int, *,
                    metatile_scale: int = 8,
                    compress: bool = True) -> DataFrame:
    """Entry point 2 (lib.rs:464): render exactly one metatile — the
    library API workers use, and the unit-of-reprocessing for dirty-tile
    workflows. Same plan as the full pyramid, restricted by a one-row
    broadcast semi-join; identical bytes to the full build (guaranteed by
    the partitioning-independent canonical encode order)."""
    keys = spark.createDataFrame([(zoom, mtx, mty)],
                                 "zoom int, mtx long, mty long")
    return build_tiles(spark, sources, layers, zoom, zoom,
                       metatile_scale=metatile_scale, compress=compress,
                       metatile_keys=keys)


def tile_driver(spark: SparkSession, zoom: int,
                tile_range: Optional[tuple] = None) -> DataFrame:
    """S6: all (zoom, x, y) keys of one pyramid level, generated without a
    shuffle from spark.range (lib.rs:186-220 equivalent). tile_range
    (x0, y0, x1, y1 inclusive) enumerates only the bbox window — a z14
    city render emits thousands of keys, not 2^28."""
    if tile_range is None:
        n = 1 << zoom
        x0 = y0 = 0
        w = h = n
    else:
        x0, y0, x1, y1 = tile_range
        w, h = x1 - x0 + 1, y1 - y0 + 1
    return (spark.range(w * h)
            .select(F.lit(zoom).cast("int").alias("zoom"),
                    (F.lit(x0) + (F.col("id") / h).cast("long")).alias("x"),
                    (F.lit(y0) + F.pmod(F.col("id"), F.lit(h))).cast("long")
                    .alias("y")))


def _python_stage_parts(spark: SparkSession,
                        shuffle_parts: Optional[int]) -> Optional[int]:
    """Clamp a caller's exchange-width hint for the Python-bound encode/
    assemble stages. Measured at 32 cores on the z0-10 bench leg: each
    mapInPandas task carries ~25-40 ms of fixed cost (Arrow stream setup,
    worker round-trip), so 256 partitions of micro-tasks lose ~1-2 s/leg
    to pure task overhead vs 64 (5.3 s vs 6.4 s warm; 12.7 s at 512) —
    the round-5 "more waves" tuning predates the vectorized group encode
    and now overshoots. ~2 tasks/core keeps the tail at half a wave while
    per-task kernel time stays well above the fixed cost at larger scale
    factors (tiles/task grows with data; the constant does not).
    TILEIGI_ENCODE_PARTS_PER_CORE overrides the factor; None stays None
    (spark.sql.shuffle.partitions + AQE coalescing decide)."""
    if shuffle_parts is None:
        return None
    try:
        cores = spark.sparkContext.defaultParallelism
    except Exception:
        return shuffle_parts
    per_core = float(os.environ.get("TILEIGI_ENCODE_PARTS_PER_CORE", "2"))
    return max(1, min(shuffle_parts, int(cores * per_core)))


def build_tiles(spark: SparkSession, sources: dict[str, DataFrame],
                layers: Layers, minzoom: int, maxzoom: int, *,
                metatile_scale: int = 8, salt_zoom_max: int = 4,
                n_salts: int = 16, compress: bool = True,
                shuffle_parts: Optional[int] = None,
                include_empty: bool = False,
                done_keys: Optional[DataFrame] = None,
                bbox: Optional[tuple] = None,
                metatile_keys: Optional[DataFrame] = None) -> DataFrame:
    """Entry point 1 (lib.rs:177-310): full pyramid as one lazy plan.

    sources: source name -> features DataFrame with `way` (WKB 3857 binary)
    + `feature_id` (stable long) + property columns.
    done_keys: optional (zoom, x, y) DataFrame of already-written tiles;
    anti-joined away for checkpoint resume (S11).
    bbox: optional (minlon, minlat, maxlon, maxlat) restricting generation
    to tiles intersecting it (bin/tileigi.rs:110-126; tighter than the
    reference's metatile granularity — tiles outside the bbox are absent).
    metatile_keys: optional (zoom, mtx, mty) DataFrame naming exactly the
    metatiles to render (--tile-list re-render-dirty workflows,
    bin/tileigi.rs:80-84); broadcast semi-joined — the list is small.
    """
    from .mercator import bbox_lonlat_to_merc

    zooms = list(range(minzoom, maxzoom + 1))
    bbox_merc = bbox_lonlat_to_merc(bbox) if bbox is not None else None
    tile_ranges = ({z: bbox_tile_range(bbox_merc, z) for z in zooms}
                   if bbox_merc is not None else None)
    # A pyramid whose zooms all sit above salt_zoom_max never salts, so
    # the whole piece stream can take the single-shuffle fused
    # encode+assemble (encode_assemble_fused) — the deep-zoom re-render
    # workflow. Splitting a MIXED range into salted/salt-free buckets was
    # tried and rejected with numbers: the duplicated scan+cover work of
    # the extra branch cost more than the saved exchange (4.22 s vs
    # 4.01 s best-of-3 on the z0-10 leg), so mixed ranges keep the
    # two-shuffle salted path.
    fuse = (os.environ.get("TILEIGI_FUSE", "1") != "0"
            and minzoom > salt_zoom_max)
    per_layer = []
    prop_types: dict[str, dict] = {}

    def _prep(src: DataFrame) -> DataFrame:
        if "feature_id" not in src.columns:
            src = src.withColumn("feature_id", F.xxhash64(F.col("way")))
        # sources may carry precomputed bbox columns (geo-table practice;
        # keeps the whole pre-shuffle pipeline JVM-side for point tables);
        # otherwise one Arrow pass decodes WKB
        if not {"xmin", "ymin", "xmax", "ymax"} <= set(src.columns):
            src = with_bbox(src)
        return src

    sql_views_made = False
    for order, layer in enumerate(layers.layers):
        layer_zooms = [z for z in zooms
                       if layer.minzoom <= z <= min(layer.maxzoom,
                                                    layers.global_maxzoom)]
        if not layer_zooms:
            continue
        zoom_filter = getattr(layer, "zoom_filter", None)
        layer_sql = getattr(layer, "sql", None)
        if layer_sql and not sql_views_made:
            for name, df in sources.items():
                df.createOrReplaceTempView(name)
            sql_views_made = True

        def _covered_for(zs):
            """(first source DF, covered DF) for a zoom subset."""
            # SQL-template table source (TableSQL, input/mod.rs:88-123):
            # the layer's SQL runs over the registered source tables.
            # With !zoom!/!scale_denominator! tokens the query is
            # re-resolved per zoom (the reference substitutes per
            # metatile; the value set is per-zoom), otherwise once for
            # the whole zoom range.
            from .config import substitute_sql_tokens

            if layer_sql and "!" in layer_sql:
                # Token substitution yields one resolved query per zoom,
                # but after constant folding many zooms share the SAME
                # source plan (e.g. "WHERE !zoom! >= 5 OR k" folds to
                # plain scans for every z >= 5). Group zooms by the
                # normalized optimized plan (expression ids stripped —
                # the only per-instance noise) so each distinct source
                # is scanned and cover-exploded ONCE for its whole zoom
                # group instead of once per zoom: a z2-z7 template layer
                # drops from 6 scan branches to 2. Equal optimized plans
                # produce equal source rows, so tile bytes are unchanged
                # (pinned by test_template_zoom_grouping).
                import re as _re

                group_ok = os.environ.get("TILEIGI_SQL_ZOOM_GROUP",
                                          "1") != "0"
                grouped: dict[str, tuple] = {}
                order_keys = []
                for z in zs:
                    src_z = spark.sql(substitute_sql_tokens(layer_sql, z))
                    key = f"__z{z}"
                    if group_ok:
                        try:
                            key = _re.sub(
                                r"#\d+", "#",
                                str(src_z._jdf.queryExecution()
                                    .optimizedPlan()))
                        except Exception:
                            pass
                    if key not in grouped:
                        grouped[key] = (src_z, [])
                        order_keys.append(key)
                    grouped[key][1].append(z)
                cov = None
                src0 = None
                for key in order_keys:
                    src_z, zlist = grouped[key]
                    if src0 is None:
                        src0 = src_z
                    cov_z = cover_metatiles(_prep(src_z), zlist,
                                            layer.buffer, metatile_scale,
                                            zoom_filter=zoom_filter,
                                            bbox_merc=bbox_merc)
                    cov = cov_z if cov is None else cov.unionByName(cov_z)
                return src0, cov
            src0 = (spark.sql(layer_sql) if layer_sql
                    else sources[layer.source])
            return src0, cover_metatiles(_prep(src0), zs, layer.buffer,
                                         metatile_scale,
                                         zoom_filter=zoom_filter,
                                         bbox_merc=bbox_merc)

        src, covered = _covered_for(layer_zooms)
        if metatile_keys is not None:
            covered = covered.join(F.broadcast(metatile_keys),
                                   on=["zoom", "mtx", "mty"],
                                   how="left_semi")
        pieces = geometry_stage(covered, layer.id, layer.buffer,
                                layers.global_maxzoom, metatile_scale)
        if tile_ranges is not None:
            pieces = pieces.filter(_zoom_xy_filter(
                {z: tile_ranges[z] for z in layer_zooms}, "x", "y"))
        if done_keys is not None:
            # resume anti-join (S11); AQE picks broadcast vs shuffle by size
            pieces = pieces.join(done_keys, on=["zoom", "x", "y"],
                                 how="left_anti")
        prop_types[layer.id] = dict(_prop_columns(
            src, exclude=("way", "feature_id")))
        per_layer.append(pieces
                         .withColumn("layer", F.lit(layer.id))
                         .withColumn("layer_order", F.lit(order)))

    if not per_layer:
        # no layer covers the requested zoom range: empty result with the
        # tiles schema (a one-zoom CLI loop must not crash at zooms no
        # layer serves)
        return spark.createDataFrame(
            [], "zoom int, x long, y long, tile binary, tile_md5 string")

    all_pieces = per_layer[0]
    for other in per_layer[1:]:
        all_pieces = all_pieces.unionByName(other, allowMissingColumns=True)

    parts_n = _python_stage_parts(spark, shuffle_parts)
    if fuse:
        tiles = encode_assemble_fused(all_pieces, prop_types,
                                      compress=compress,
                                      shuffle_parts=parts_n)
    else:
        partials = encode_layers(all_pieces, prop_types, salt_zoom_max,
                                 n_salts, shuffle_parts=parts_n)
        tiles = assemble_tiles(partials, compress=compress,
                               shuffle_parts=parts_n)

    if include_empty:
        full = None
        for z in zooms:
            drv = tile_driver(spark, z,
                              tile_ranges[z] if tile_ranges else None)
            full = drv if full is None else full.unionByName(drv)
        eb = {z: empty_tile_bytes(layers, z, compress) for z in zooms}
        empty_col = F.lit(bytearray(eb[zooms[0]]))
        for z in zooms[1:]:
            empty_col = F.when(F.col("zoom") == z,
                               F.lit(bytearray(eb[z]))).otherwise(empty_col)
        md5_col = F.lit(hashlib.md5(eb[zooms[0]]).hexdigest())
        for z in zooms[1:]:
            md5_col = F.when(F.col("zoom") == z,
                             F.lit(hashlib.md5(eb[z]).hexdigest())) \
                .otherwise(md5_col)
        empties = (full.join(tiles.select("zoom", "x", "y"),
                             on=["zoom", "x", "y"], how="left_anti")
                   .withColumn("tile", empty_col)
                   .withColumn("tile_md5", md5_col))
        if done_keys is not None:
            empties = empties.join(done_keys, on=["zoom", "x", "y"],
                                   how="left_anti")
        tiles = tiles.unionByName(empties)

    return tiles
