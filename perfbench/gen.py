"""Seeded input generators and their ground truth.

Every generator is a pure function of ``(seed, n)``: the same seed gives
byte-identical inputs.  The program under test only ever sees what these
functions write to parquet; the ground-truth arrays stay on the
benchmark side and feed the output checks in ``checks.py``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

MERC_MAX = 20037508.342789244
WORLD = 2.0 * MERC_MAX
LANGS = np.array(["en", "de", "fr", "ga", "es"])
# thinning hash: feature_id = page_id * KNUTH mod 2^32, so the
# `pmod(feature_id, 4^(maxzoom - zoom)) = 0` zoom thinning keeps an
# unbiased sample at every zoom
KNUTH = 2654435761


def merc(lon, lat):
    """Independent EPSG:4326 -> EPSG:3857 projection (numpy)."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    x = np.radians(lon) * 6378137.0
    y = np.log(np.tan(np.pi / 4.0 + np.radians(lat) / 2.0)) * 6378137.0
    return x, y


def feature_ids(page_id):
    return (np.asarray(page_id, dtype=np.int64) * KNUTH) % (1 << 32)


def _centers(rng, k):
    """City centres: lat within +-60, lon anywhere (milli-degrees)."""
    return (rng.integers(-60_000, 60_000, k), rng.integers(-179_000, 179_000, k))


# ------------------------------------------------------------------ pages

def pages(seed: int, n: int):
    """Crawl-style pages with coordinates in the text.

    Returns (pages DataFrame(page_id, url, text, lang), truth DataFrame
    (page_id, lat, lon) for the pages that carry an in-range mention).
    70 % of the pages cluster around 40 city centres, 15 % are spread
    uniformly, 15 % carry no coordinate; one page in 16 leads with an
    out-of-range pair the extractor must skip.  Four text formats
    rotate: plain, parenthesised, hemisphere-suffixed, and a repeated
    mention."""
    rng = np.random.default_rng([seed, 1])
    cy, cx = _centers(rng, 40)
    kind = rng.random(n)
    city = rng.integers(0, 40, n)
    lat_m = np.where(kind < 0.70,
                     cy[city] + np.round(rng.normal(0, 900, n)),
                     rng.integers(-70_000, 70_000, n)).astype(np.int64)
    lon_m = np.where(kind < 0.70,
                     cx[city] + np.round(rng.normal(0, 1200, n)),
                     rng.integers(-179_999, 179_999, n)).astype(np.int64)
    lat_m = np.clip(lat_m, -80_000, 80_000)
    lon_m = np.clip(lon_m, -179_999, 179_999)
    has = kind < 0.85
    fmt = rng.integers(0, 4, n)
    junk = rng.random(n) < 1 / 16
    lang = LANGS[rng.integers(0, len(LANGS), n)]

    def dec(v):
        a = abs(int(v))
        return f"{'-' if v < 0 else ''}{a // 1000}.{a % 1000:03d}"

    def hemi(v, pos, neg):
        a = abs(int(v))
        return f"{a // 1000}.{a % 1000:03d}{pos if v >= 0 else neg}"

    texts = []
    for i in range(n):
        if not has[i]:
            texts.append(f"page {i} reports on the weather and nothing "
                         f"else, version 2 of the notes")
            continue
        la, lo = dec(lat_m[i]), dec(lon_m[i])
        f = fmt[i]
        if f == 0:
            mention = f"{la}, {lo}"
        elif f == 1:
            mention = f"({la},{lo})"
        elif f == 2:
            mention = (f"{hemi(lat_m[i], 'N', 'S')}, "
                       f"{hemi(lon_m[i], 'E', 'W')}")
        else:
            mention = f"{la}, {lo} and again {la}, {lo}"
        lead = "readings 912.40, 733.10 then " if junk[i] else ""
        texts.append(f"page {i} from the field office: {lead}site at "
                     f"{mention} near the old harbour")
    page_id = np.arange(n, dtype=np.int64)
    pdf = pd.DataFrame({
        "page_id": page_id,
        "url": [f"https://site{seed}.bench/page/{i:07d}" for i in range(n)],
        "text": texts,
        "lang": lang,
    })
    truth = pd.DataFrame({"page_id": page_id[has],
                          "lat": lat_m[has] / 1000.0,
                          "lon": lon_m[has] / 1000.0})
    return pdf, truth


# ---------------------------------------------------------- polygon layers

def _wkb_polygons(px, py):
    """(m, k) closed rings -> list of little-endian WKB Polygon bytes."""
    m, k = px.shape
    size = 13 + 16 * k
    buf = np.empty((m, size), dtype=np.uint8)
    buf[:, 0] = 1
    buf[:, 1:5] = (3, 0, 0, 0)
    buf[:, 5:9] = (1, 0, 0, 0)
    buf[:, 9:13] = np.frombuffer(np.uint32(k).tobytes(), np.uint8)
    pts = np.empty((m, k, 2), dtype="<f8")
    pts[:, :, 0] = px
    pts[:, :, 1] = py
    buf[:, 13:] = pts.reshape(m, 2 * k).view(np.uint8)
    raw = buf.tobytes()
    return [raw[i * size:(i + 1) * size] for i in range(m)]


def _wkb_lines(px, py):
    m, k = px.shape
    size = 9 + 16 * k
    buf = np.empty((m, size), dtype=np.uint8)
    buf[:, 0] = 1
    buf[:, 1:5] = (2, 0, 0, 0)
    buf[:, 5:9] = np.frombuffer(np.uint32(k).tobytes(), np.uint8)
    pts = np.empty((m, k, 2), dtype="<f8")
    pts[:, :, 0] = px
    pts[:, :, 1] = py
    buf[:, 9:] = pts.reshape(m, 2 * k).view(np.uint8)
    raw = buf.tobytes()
    return [raw[i * size:(i + 1) * size] for i in range(m)]


def log_spread(rng, lo, hi, n):
    """n sizes log-uniform on [lo, hi], one from each of n equal strata in
    a seeded order, so every seed draws the same mix of small and large
    features (the largest few decide how many tiles a layer covers)."""
    u = (rng.permutation(n) + rng.random(n)) / n
    return np.exp(np.log(lo) + (np.log(hi) - np.log(lo)) * u)


def concave_rings(rng, n, r_lo=2_000.0, r_hi=600_000.0, span=0.9):
    """Concave 16-gons with a per-vertex wobble; one third reversed."""
    k = 16
    cx = rng.uniform(-span, span, n) * MERC_MAX
    cy = rng.uniform(-span, span, n) * MERC_MAX
    base = log_spread(rng, r_lo, r_hi, n)
    ang = 2.0 * np.pi * np.arange(k) / k
    r = base[:, None] * rng.uniform(0.35, 1.0, (n, k))
    px = np.empty((n, k + 1))
    py = np.empty((n, k + 1))
    px[:, :k] = cx[:, None] + r * np.cos(ang)
    py[:, :k] = cy[:, None] + r * np.sin(ang)
    rev = rng.random(n) < 1 / 3
    px[rev, :k] = px[rev, :k][:, ::-1]
    py[rev, :k] = py[rev, :k][:, ::-1]
    px[:, k] = px[:, 0]
    py[:, k] = py[:, 0]
    return px, py


def box_rings(rng, n, h_lo=2_000.0, h_hi=600_000.0, span=0.9):
    """Axis-aligned rectangles; one third with reversed winding."""
    cx = rng.uniform(-span, span, n) * MERC_MAX
    cy = rng.uniform(-span, span, n) * MERC_MAX
    hw = log_spread(rng, h_lo, h_hi, n)
    hh = log_spread(rng, h_lo, h_hi, n)
    x0, x1, y0, y1 = cx - hw, cx + hw, cy - hh, cy + hh
    rev = rng.random(n) < 1 / 3
    px = np.stack([x0, np.where(rev, x0, x1), x1, np.where(rev, x1, x0), x0],
                  axis=1)
    py = np.stack([y0, np.where(rev, y1, y0), y1, np.where(rev, y0, y1), y0],
                  axis=1)
    return px, py


def polygon_layers(seed: int, n_concave: int, n_boxes: int, n_lines: int):
    """Three feature tables for the multi-layer polygon workload."""
    rng = np.random.default_rng([seed, 2])
    out = {}
    for name, n, fn, kinds in (("areas", n_concave, concave_rings, 6),
                               ("boxes", n_boxes, box_rings, 7)):
        px, py = fn(rng, n)
        fid = np.arange(n, dtype=np.int64) * 7 + len(out)
        out[name] = pd.DataFrame({
            "feature_id": fid,
            "way": _wkb_polygons(px, py),
            "kind": [f"{name}-{v}" for v in rng.integers(0, kinds, n)],
        })
    cx = rng.uniform(-0.9, 0.9, n_lines) * MERC_MAX
    cy = rng.uniform(-0.9, 0.9, n_lines) * MERC_MAX
    s = log_spread(rng, 3_000.0, 600_000.0, n_lines)
    px = np.stack([cx - 2 * s, cx, cx + 2 * s, cx + 3 * s], axis=1)
    py = np.stack([cy, cy + s, cy - s, cy], axis=1)
    out["roads"] = pd.DataFrame({
        "feature_id": np.arange(n_lines, dtype=np.int64) * 7 + 2,
        "way": _wkb_lines(px, py),
        "kind": [f"way-{v}" for v in rng.integers(0, 5, n_lines)],
    })
    return out


# ----------------------------------------------------------- admin regions

def admin_polygons(seed: int, n_rect: int, n_concave: int):
    """Admin table mixing axis-rect and concave polygons (which may
    overlap), so the PIP join takes its numpy refine path.  Returns the
    table and the rings for the brute-force check."""
    rng = np.random.default_rng([seed, 4])
    rings = []
    for fn, n, lo, hi in ((box_rings, n_rect, 50_000.0, 1_500_000.0),
                          (concave_rings, n_concave, 50_000.0,
                           1_500_000.0)):
        px, py = fn(rng, n, lo, hi, span=0.75)
        rings += list(zip(px, py))
    n = len(rings)
    ways = [_wkb_polygons(px[None, :], py[None, :])[0] for px, py in rings]
    df = pd.DataFrame({
        "admin_id": np.arange(n, dtype=np.int64),
        "name": [f"admin-{i}" for i in range(n)],
        "admin_level": (np.arange(n) % 3 * 2 + 2).astype(np.int32),
        "way": ways,
    })
    return df, rings
