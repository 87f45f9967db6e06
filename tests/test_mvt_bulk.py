"""Byte parity of the vectorized point-feature framer, the group-batched
encode (points and the ragged polygon/line tier) and the encode walk's
(layer, family) class path vs the per-row LayerEncoder path (the
partial-encode hot loop). The bulk paths must produce bit-identical
layer messages — including key/value table order — because golden-tile
fixtures and the 1-vs-13-partition determinism contract pin exact
bytes."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql.types import (BooleanType, DoubleType, FloatType, LongType,
                               StringType)

from tileigi_spark.engine import _bulk_point_tags, _mvt_value
from tileigi_spark.geom import mvt


def perrow_encoder(rows, ptypes):
    enc = mvt.LayerEncoder("l")
    for x, y, props in rows:
        properties = {p: _mvt_value(props.get(p), t) for p, t in ptypes}
        enc.add_feature(("Point", (int(x), int(y))), properties)
    return enc


def bulk_encoder(rows, ptypes):
    enc = mvt.LayerEncoder("l")
    xs = np.array([r[0] for r in rows], dtype=np.int64)
    ys = np.array([r[1] for r in rows], dtype=np.int64)
    cols = []
    for p, t in ptypes:
        codes, uniq = pd.factorize(pd.Series([r[2].get(p) for r in rows]),
                                   use_na_sentinel=True)
        cols.append((p, t, codes, np.asarray(uniq)))
    tags = _bulk_point_tags(enc, cols)
    res = mvt.bulk_frame_point_features(xs, ys, tags)
    assert res is not None
    framed, rowlen = res
    assert int(rowlen.sum()) == len(framed)
    enc.add_framed_features(framed)
    return enc


def assert_parity(rows, ptypes):
    a = perrow_encoder(rows, ptypes)
    b = bulk_encoder(rows, ptypes)
    assert a.keys == b.keys
    assert a.values == b.values
    assert b"".join(a.features) == b"".join(b.features)
    assert a.to_bytes() == b.to_bytes()


def test_single_string_prop():
    rows = [(10, 20, {"lang": "en"}), (4090, 4095, {"lang": "de"}),
            (0, 0, {"lang": "en"}), (-30, -1, {"lang": "fr"})]
    assert_parity(rows, [("lang", StringType())])


def test_null_and_mixed_props():
    ptypes = [("lang", StringType()), ("rank", LongType()),
              ("score", DoubleType()), ("flag", BooleanType())]
    rows = [
        (5, 6, {"lang": "en", "rank": 3, "score": 1.5, "flag": True}),
        (7, 8, {"lang": None, "rank": 3, "score": None, "flag": False}),
        (9, 1, {"lang": "de", "rank": None, "score": 2.25, "flag": True}),
        (2, 2, {"lang": "de", "rank": 7, "score": 1.5, "flag": None}),
        (3, 3, {"lang": None, "rank": None, "score": None, "flag": None}),
    ]
    assert_parity(rows, ptypes)


def test_f32_prop_value_identity():
    rows = [(1, 2, {"w": 1.5}), (3, 4, {"w": 2.5}), (5, 6, {"w": 1.5})]
    assert_parity(rows, [("w", FloatType())])


def test_interleaved_first_appearance_order():
    # row0 interns lang before rank's value; row1 introduces a new lang
    # AFTER rank's first value — table order must interleave by row then
    # column, not column-by-column
    ptypes = [("lang", StringType()), ("rank", LongType())]
    rows = [(1, 1, {"lang": "aa", "rank": 9}),
            (2, 2, {"lang": "bb", "rank": 9}),
            (3, 3, {"lang": "aa", "rank": 1})]
    assert_parity(rows, ptypes)
    # and a column whose first valid value appears late
    rows2 = [(1, 1, {"lang": None, "rank": 5}),
             (2, 2, {"lang": "zz", "rank": 5})]
    assert_parity(rows2, ptypes)


def test_many_distinct_values_multibyte_varints():
    # >128 distinct values forces 2-byte value-index varints; coords up
    # to 4096+buffer force 2-byte zigzags
    ptypes = [("name", StringType())]
    rows = [(i, 4096 - i, {"name": f"n{i}"}) for i in range(300)]
    assert_parity(rows, ptypes)


def test_empty_props_omit_tags_field():
    rows = [(1, 2, {}), (3, 4, {})]
    assert_parity(rows, [])


def test_randomized_parity():
    rng = np.random.default_rng(42)
    ptypes = [("lang", StringType()), ("rank", LongType())]
    langs = ["en", "de", "fr", None, "es", "pt", "it"]
    for _ in range(20):
        k = int(rng.integers(8, 200))
        rows = []
        for _ in range(k):
            props = {"lang": langs[int(rng.integers(0, len(langs)))],
                     "rank": (None if rng.random() < 0.2
                              else int(rng.integers(-5, 5000)))}
            rows.append((int(rng.integers(-64, 4161)),
                         int(rng.integers(-64, 4161)), props))
        assert_parity(rows, ptypes)


def groups_perrow(groups, prop, ptype):
    parts = []
    for rows in groups:
        enc = mvt.LayerEncoder("l")
        for x, y, v in rows:
            props = {} if prop is None else {prop: _mvt_value(v, ptype)}
            enc.add_feature(("Point", (int(x), int(y))), props)
        parts.append(enc.to_bytes())
    return parts


def groups_bulk(groups, prop, ptype):
    from tileigi_spark.engine import _bulk_encode_point_groups
    xs = np.array([r[0] for g in groups for r in g], dtype=np.int64)
    ys = np.array([r[1] for g in groups for r in g], dtype=np.int64)
    if prop is None:
        codes = uniq = None
    else:
        codes, uniq = pd.factorize(
            pd.Series([r[2] for g in groups for r in g]),
            use_na_sentinel=True)
        uniq = np.asarray(uniq)
    seg_starts = np.cumsum([0] + [len(g) for g in groups[:-1]]) \
        .astype(np.int64)
    return _bulk_encode_point_groups("l", prop, ptype, (xs, ys), codes,
                                     uniq, seg_starts)


def assert_groups_parity(groups, prop, ptype):
    assert groups_bulk(groups, prop, ptype) == \
        groups_perrow(groups, prop, ptype)


def test_group_batch_single_prop():
    from pyspark.sql.types import StringType
    groups = [
        [(1, 2, "en"), (3, 4, "de"), (5, 6, "en")],
        [(7, 8, "fr")],
        [(0, 0, None), (1, 1, None)],          # all-null -> no key table
        [(9, 9, "de"), (10, 10, None), (11, 11, "zz")],
    ]
    assert_groups_parity(groups, "lang", StringType())


def test_group_batch_no_prop():
    groups = [[(1, 2, None)], [(3, 4, None), (5, 6, None)]]
    assert_groups_parity(groups, None, None)


def test_group_batch_value_order_and_reuse():
    from pyspark.sql.types import LongType
    # same values re-interned per group in per-group first-appearance
    # order; >128 distinct in one group for 2-byte value varints
    g1 = [(i, i, (i * 7) % 200) for i in range(300)]
    g2 = [(i, i, (300 - i) % 11) for i in range(40)]
    assert_groups_parity([g1, g2], "rank", LongType())


def test_group_batch_randomized():
    from pyspark.sql.types import StringType
    rng = np.random.default_rng(7)
    vals = ["a", "b", None, "c", "dd", "e"]
    for _ in range(10):
        groups = []
        for _ in range(int(rng.integers(1, 60))):
            k = int(rng.integers(1, 30))
            groups.append([
                (int(rng.integers(-64, 4161)), int(rng.integers(-64, 4161)),
                 vals[int(rng.integers(0, len(vals)))])
                for _ in range(k)])
        assert_groups_parity(groups, "lang", StringType())


def test_width_overflow_falls_back():
    # zigzag >= 2^21 exceeds the 3-byte budget -> framer refuses
    enc = mvt.LayerEncoder("l")
    xs = np.array([1 << 21], dtype=np.int64)
    ys = np.array([0], dtype=np.int64)
    assert mvt.bulk_frame_point_features(xs, ys, []) is None


# ------------------------------------- 4-corner rings, ragged polygon tier

def _rand_ring(rng):
    x0, x1 = sorted(int(v) for v in rng.integers(-64, 4161, 2))
    y0, y1 = sorted(int(v) for v in rng.integers(-64, 4161, 2))
    pts = [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]
    if rng.random() < 0.3:   # arbitrary quad, not just axis rects
        pts = [(int(rng.integers(-64, 4161)), int(rng.integers(-64, 4161)))
               for _ in range(4)]
    if rng.random() < 0.5:
        pts = pts[::-1]
    r = int(rng.integers(0, 4))
    return pts[r:] + pts[:r]


def ring_groups_perrow(groups, prop, ptype):
    parts = []
    for rows in groups:
        enc = mvt.LayerEncoder("l")
        for pts, v in rows:
            props = {} if prop is None else {prop: _mvt_value(v, ptype)}
            enc.add_feature(("Polygon", [pts + [pts[0]]]), props)
        parts.append(enc.to_bytes())
    return parts


def _wkb_column(geoms):
    from tileigi_spark.geom.wkb import geom_to_wkb
    col = np.empty(len(geoms), dtype=object)
    col[:] = [geom_to_wkb(g) for g in geoms]
    return col


def ring_groups_bulk(groups, prop, ptype):
    from tileigi_spark.engine import _bulk_encode_point_groups
    from tileigi_spark.geom.ringbulk import parse_poly_family
    coords = parse_poly_family(_wkb_column(
        [("Polygon", [r[0] + [r[0][0]]]) for g in groups for r in g]))
    if prop is None:
        codes = uniq = None
    else:
        codes, uniq = pd.factorize(
            pd.Series([r[1] for g in groups for r in g]),
            use_na_sentinel=True)
        uniq = np.asarray(uniq)
    seg_starts = np.cumsum([0] + [len(g) for g in groups[:-1]]) \
        .astype(np.int64)
    return _bulk_encode_point_groups("l", prop, ptype, coords, codes,
                                     uniq, seg_starts, kind="genpoly")


def test_ring4_group_batch_parity():
    from pyspark.sql.types import StringType
    rng = np.random.default_rng(11)
    vals = ["kind-0", "kind-1", None, "kind-2"]
    for _ in range(8):
        groups = []
        for _ in range(int(rng.integers(1, 40))):
            k = int(rng.integers(1, 20))
            groups.append([
                (_rand_ring(rng), vals[int(rng.integers(0, len(vals)))])
                for _ in range(k)])
        assert ring_groups_bulk(groups, "kind", StringType()) == \
            ring_groups_perrow(groups, "kind", StringType())
    # no-prop variant
    groups = [[(_rand_ring(rng), None) for _ in range(5)] for _ in range(6)]
    assert ring_groups_bulk(groups, None, None) == \
        ring_groups_perrow(groups, None, None)


def test_ring5_wkb_detector():
    from tileigi_spark.engine import _is_ring5_polygon_wkb
    from tileigi_spark.geom.wkb import geom_to_wkb

    ring = [(0, 0), (10, 0), (10, 7), (0, 7), (0, 0)]
    assert _is_ring5_polygon_wkb(geom_to_wkb(("Polygon", [ring])))
    # open ring (not closed) must be rejected
    open_ring = [(0, 0), (10, 0), (10, 7), (0, 7), (1, 1)]
    assert not _is_ring5_polygon_wkb(geom_to_wkb(("Polygon", [open_ring])))
    # two rings / wrong point count / point WKB
    hole = [(2, 2), (3, 2), (3, 3), (2, 3), (2, 2)]
    assert not _is_ring5_polygon_wkb(geom_to_wkb(("Polygon", [ring, hole])))
    assert not _is_ring5_polygon_wkb(
        geom_to_wkb(("Polygon", [[(0, 0), (4, 0), (4, 4), (2, 6),
                                  (0, 4), (0, 0)]])))
    assert not _is_ring5_polygon_wkb(geom_to_wkb(("Point", (1, 2))))


# ------------------------------------- 2-4 point lines, ragged line tier

def _rand_line(rng):
    k = int(rng.choice([2, 2, 2, 3, 3, 4]))
    return [(int(rng.integers(-64, 4161)), int(rng.integers(-64, 4161)))
            for _ in range(k)]


def line_groups_perrow(groups, prop, ptype):
    parts = []
    for rows in groups:
        enc = mvt.LayerEncoder("l")
        for pts, v in rows:
            props = {} if prop is None else {prop: _mvt_value(v, ptype)}
            enc.add_feature(("LineString", pts), props)
        parts.append(enc.to_bytes())
    return parts


def line_groups_bulk(groups, prop, ptype):
    from tileigi_spark.engine import _bulk_encode_point_groups
    from tileigi_spark.geom.ringbulk import parse_line_family
    flat = [r for g in groups for r in g]
    coords = parse_line_family(_wkb_column(
        [("LineString", pts) for pts, _ in flat]))
    if prop is None:
        codes = uniq = None
    else:
        codes, uniq = pd.factorize(pd.Series([r[1] for r in flat]),
                                   use_na_sentinel=True)
        uniq = np.asarray(uniq)
    seg_starts = np.cumsum([0] + [len(g) for g in groups[:-1]]) \
        .astype(np.int64)
    return _bulk_encode_point_groups("l", prop, ptype, coords, codes,
                                     uniq, seg_starts, kind="genline")


def test_line_group_batch_parity():
    from pyspark.sql.types import StringType
    rng = np.random.default_rng(13)
    vals = ["way-0", "way-1", None, "way-2"]
    for _ in range(8):
        groups = []
        for _ in range(int(rng.integers(1, 40))):
            k = int(rng.integers(1, 20))
            groups.append([
                (_rand_line(rng), vals[int(rng.integers(0, len(vals)))])
                for _ in range(k)])
        assert line_groups_bulk(groups, "kind", StringType()) == \
            line_groups_perrow(groups, "kind", StringType())
    groups = [[(_rand_line(rng), None) for _ in range(5)]
              for _ in range(6)]
    assert line_groups_bulk(groups, None, None) == \
        line_groups_perrow(groups, None, None)


# ------------------------------------- encode walk: (layer, family) classes

MIXED_TILE = 4
_CLASS_PTYPES = {"pois": {"name": StringType()},
                 "areas": {"rank": LongType()},
                 "roads": {},
                 "misc": {"name": StringType(), "rank": LongType()}}


def _class_batch_rows():
    """Sorted encode-walk rows over 12 tiles: points, Polygon and
    MultiPolygon, LineString and MultiLineString in 3 <=1-property
    layers (one with no property), a 2-property layer, NULL values and
    one group mixing polygon and line pieces. Feature k's first vertex
    has x == k, so a geometry names its row."""
    from tileigi_spark.geom.wkb import geom_to_wkb

    rows, mixed = [], set()
    k = 0
    for tx in range(12):
        for order, layer in enumerate(("pois", "areas", "roads", "misc")):
            if (tx + order) % 5 == 4:
                continue          # not every tile carries every layer
            for j in range(1 + (tx + order) % 3):
                if layer in ("pois", "misc"):
                    geom = ("Point", (k, 7))
                elif layer == "areas" and not (tx == MIXED_TILE
                                               and j == 1):
                    sq = [(k, 0), (k + 40, 0), (k + 40, 30), (k, 30), (k, 0)]
                    geom = (("MultiPolygon", [[sq], [[(x, y + 50)
                                                     for x, y in sq]]])
                            if (tx + j) % 2 else ("Polygon", [sq]))
                elif layer == "areas":
                    geom = ("LineString", [(k, 0), (k + 9, 4)])
                    mixed.add(tx)
                else:
                    line = [(k, 0), (k + 30, 3), (k + 31, 60)]
                    geom = (("MultiLineString", [line, line[:2]])
                            if j % 2 else ("LineString", line))
                name = None if k % 4 == 1 else f"n{k % 3}"
                rank = np.nan if k % 5 == 2 else float(k % 4)
                rows.append((8, tx, 0, 0, order, layer,
                             geom_to_wkb(geom), name, rank))
                k += 1
    assert mixed
    return pd.DataFrame(rows, columns=["zoom", "x", "y", "salt",
                                       "layer_order", "layer", "geom",
                                       "name", "rank"])


def _expected_partials(pdf):
    from tileigi_spark.engine import _int_geom
    from tileigi_spark.geom.wkb import wkb_to_geom

    out = []
    keys = ["zoom", "x", "y", "salt", "layer_order", "layer"]
    for key, g in pdf.groupby(keys, sort=False):
        enc = mvt.LayerEncoder(key[-1])
        ptypes = _CLASS_PTYPES[key[-1]]
        for _, r in g.iterrows():
            enc.add_feature(_int_geom(wkb_to_geom(r["geom"])),
                            {p: _mvt_value(r[p], t)
                             for p, t in ptypes.items()})
        out.append(tuple(key) + (enc.to_bytes(),))
    return out


def _first_x(geom):
    data = geom[1]
    while not isinstance(data[0], (int, float)):
        data = data[0]
    return int(data[0])


def test_class_batched_encode_matches_per_row(monkeypatch):
    """Every complete group of a batch is framed by its (layer, family)
    class: bytes and row order equal the per-row LayerEncoder walk, a
    group straddling the batch boundary stays one partial, and no
    complete single-family group of a <=1-property layer reaches
    LayerEncoder.add_feature."""
    from tileigi_spark.engine import _make_encode_run
    from tileigi_spark.geom.wkb import wkb_to_geom

    pdf = _class_batch_rows()
    split = int(np.flatnonzero((pdf["x"] == 6) & (pdf["layer"] == "areas"))
                [1])   # inside a 2-row group
    batches = [pdf.iloc[:split].reset_index(drop=True),
               pdf.iloc[split:].reset_index(drop=True)]

    per_row = []
    add_feature = mvt.LayerEncoder.add_feature

    def counting(self, geom, properties):
        per_row.append(_first_x(geom))
        return add_feature(self, geom, properties)

    monkeypatch.setattr(mvt.LayerEncoder, "add_feature", counting)
    run = _make_encode_run(_CLASS_PTYPES, ["name", "rank"])
    got = pd.concat(list(run(iter(batches))), ignore_index=True)
    monkeypatch.undo()

    assert [tuple(r) for r in got.itertuples(index=False)] == \
        _expected_partials(pdf)

    # rows of groups the class path must frame: complete groups of a
    # batch (not its first or last) in a single family of a layer with
    # at most one property column
    fallback = {(MIXED_TILE, "areas")} | {(tx, "misc") for tx in range(12)}
    bulk_x = set()
    for b in batches:
        keys = list(zip(b["x"], b["layer"]))
        inner = set(list(dict.fromkeys(keys))[1:-1]) - fallback
        bulk_x |= {_first_x(wkb_to_geom(w)) for w, kk in zip(b["geom"], keys)
                   if kk in inner}
    assert len(bulk_x) > 20
    assert not bulk_x & set(per_row)
    # the mixed-family group and the 2-property layer went per row
    assert {_first_x(wkb_to_geom(w)) for w, kk in
            zip(pdf["geom"], zip(pdf["x"], pdf["layer"]))
            if kk in fallback} <= set(per_row)
