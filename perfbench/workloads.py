"""The benchmark workloads.

Each workload stages its seeded inputs (part of set-up), runs one job
through the engine's public entry points, and checks the job's output
against the generator's ground truth.  ``job`` takes a Tracer: the
phase spans it opens cost two clock reads each, so untraced runs keep
them too and the summary line reports each phase's wall.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

import checks
import gen

CELL_ZOOM = 4


def _yaml(layers, maxzoom):
    """tm2source YAML; layers: (id, minzoom, buffer_px, table-or-SQL)."""
    lines = ["minzoom: 0", f"maxzoom: {maxzoom}", "name: perfbench",
             "Layer:"]
    for lid, minz, buf, table in layers:
        lines += [f"  - id: {lid}",
                  f"    properties: {{minzoom: {minz}, maxzoom: {maxzoom},"
                  f" buffer-size: {buf}}}",
                  f"    Datasource: {{table: \"{table}\"}}"]
    return "\n".join(lines) + "\n"


def _thin(table, maxzoom, per_zoom_shift):
    """!zoom! SQL template keeping one feature in 2^(shift*(maxzoom-z))."""
    return (f"( SELECT * FROM {table} WHERE pmod(feature_id, shiftleft(1L,"
            f" {per_zoom_shift} * ({maxzoom} - !zoom!))) = 0 ) AS data")


def _read(path, columns, where=None):
    """A parquet directory Spark wrote (hive-partitioned or not) as a
    pandas DataFrame, without going through Spark."""
    import pyarrow.dataset as ds

    return (ds.dataset(path, format="parquet", partitioning="hive")
            .to_table(columns=columns, filter=where).to_pandas())


def _store_stats(store_dir):
    n_bytes = n_files = 0
    for d, _, files in os.walk(store_dir):
        for f in files:
            if not f.startswith((".", "_")):
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(d, f))
    return n_bytes, n_files


def _render(tr, config, sources, dest, minzoom, maxzoom):
    from tileigi_spark import cli

    argv = ["--config", config, "--dest", dest, "--minzoom", str(minzoom),
            "--maxzoom", str(maxzoom)]
    for name, path in sources.items():
        argv += ["--source", f"{name}={path}"]
    with tr.span("cli"):
        cli.main(argv)


class Workload:
    name = ""
    minzoom = 0
    maxzoom = 0
    sizes: dict[str, int] = {}
    buffers: dict[str, int] = {}

    def __init__(self, seed: int, scale: float = 1.0):
        self.seed = seed
        self.n = {k: max(1, round(v * scale)) for k, v in self.sizes.items()}
        self.key = f"{self.name}-{seed}" + ("" if scale == 1 else
                                            f"-x{scale}")

    def store_summary(self, out):
        """Committed tile keys, dedup and on-disk size of the store,
        read straight from its parquet files."""
        store = os.path.join(out, "store")
        m = _read(os.path.join(store, "map"), ["zoom", "x", "y", "tile_id"])
        keys = list(zip(m["zoom"].astype(int), m["x"], m["y"], m["tile_id"]))
        images = _read(os.path.join(store, "images"), ["tile_id"])["tile_id"]
        zoom_s = _read(os.path.join(store, "metrics"), ["zoom", "secs"]) \
            .sort_values("zoom")
        n_bytes, n_files = _store_stats(store)
        fails = []
        if len({k[:3] for k in keys}) != len(keys):
            fails.append("store maps some (zoom, x, y) twice")
        if not set(m["tile_id"]) <= set(images):
            fails.append("store maps tiles to missing images")
        return {"keys": keys, "tiles": len(keys), "images": len(images),
                "bytes": n_bytes, "files": n_files, "fails": fails,
                "zoom_s": [round(s, 3) for s in zoom_s["secs"]]}

    def sample_tiles(self, out, keys, per_zoom=2):
        """Decoded layers of a seeded sample of committed tiles, plus
        the raw rows for the md5 self-check."""
        import pyarrow.compute as pc
        from tileigi_spark.geom.mvt import decode_tile

        rng = np.random.default_rng([self.seed, 99])
        by_zoom: dict[int, list] = {}
        for k in keys:
            by_zoom.setdefault(k[0], []).append(k)
        pick = []
        for z in sorted(by_zoom):
            ks = sorted(by_zoom[z])
            idx = rng.choice(len(ks), min(per_zoom, len(ks)), replace=False)
            pick += [ks[i] for i in idx]
        imgs = _read(os.path.join(out, "store", "images"),
                     ["tile_id", "tile_data"],
                     pc.field("tile_id").isin(sorted({k[3] for k in pick})))
        data = dict(zip(imgs["tile_id"], imgs["tile_data"]))
        rows = [(z, x, y, data[md5], md5) for z, x, y, md5 in pick]
        return [(z, x, y, decode_tile(t)) for z, x, y, t, _ in rows], rows


class Points(Workload):
    """Crawl pages -> geotag -> cell-partitioned features -> cli.main
    z0, and a PIP join of the geotagged points against admin polygons."""

    name = "points_z0_pip"
    maxzoom = 0
    sizes = {"pages": 15_000}
    buffers = {"pages": 2}

    def stage(self, inp):
        pages, self.truth = gen.pages(self.seed, self.n["pages"])
        pages.drop(columns="page_id").to_parquet(
            os.path.join(inp, "pages.parquet"), index=False)
        admin, self.rings = gen.admin_polygons(self.seed, 60, 60)
        admin.to_parquet(os.path.join(inp, "admin.parquet"), index=False)
        with open(os.path.join(inp, "layers.yml"), "w") as f:
            f.write(_yaml([("pages", 0, self.buffers["pages"],
                            _thin("pages", self.maxzoom, 2))],
                          self.maxzoom))

    def job(self, spark, inp, out, tr):
        from pyspark.sql import functions as F
        from tileigi_spark import extract, partition, spatial

        pid = F.expr("cast(substring_index(url, '/', -1) as long)")
        with tr.span("extract"):
            pages = spark.read.parquet(os.path.join(inp, "pages.parquet"))
            extract.geotag_pages(pages).withColumn("pid", pid) \
                .write.parquet(os.path.join(out, "geo"))
        geo = spark.read.parquet(os.path.join(out, "geo"))
        feats = geo.select(
            (F.col("pid") * F.lit(gen.KNUTH) % F.lit(1 << 32))
            .alias("feature_id"), "way", "lang",
            F.col("mx").alias("xmin"), F.col("my").alias("ymin"),
            F.col("mx").alias("xmax"), F.col("my").alias("ymax"))
        feats_dir = os.path.join(out, "feats")
        with tr.span("partition.write"):
            partition.write_cell_partitioned(
                feats, feats_dir, cell_zoom=CELL_ZOOM, buffer_px=2,
                cluster_files=spark.sparkContext.defaultParallelism * 2)
        _render(tr, os.path.join(inp, "layers.yml"), {"pages": feats_dir},
                os.path.join(out, "store"), self.minzoom, self.maxzoom)
        admin = spark.read.parquet(os.path.join(inp, "admin.parquet"))
        with tr.span("spatial.pip"):
            spatial.point_in_polygon_join(geo.select("pid", "mx", "my"),
                                          admin, index_zoom=6,
                                          px_col="mx", py_col="my") \
                .write.parquet(os.path.join(out, "pip"))

    def check(self, out, summary):
        from tileigi_spark.geom.mvt import decode_geometry

        geo = _read(os.path.join(out, "geo"), ["pid", "lat", "lon", "mx",
                                               "my"])
        fails = checks.check_extract(
            zip(geo["pid"], geo["lat"], geo["lon"]), self.truth)
        # the tile check projects the generated coordinates, not the
        # extracted ones, so an extraction slip shows in both checks
        t = self.truth
        fid = gen.feature_ids(t["page_id"].to_numpy())
        decoded, rows = self.sample_tiles(out, summary["keys"])
        fails += checks.check_tile_md5(rows)
        for z, x, y, layers in decoded:
            keep = fid % (1 << (2 * (self.maxzoom - z))) == 0
            pts = [decode_geometry(f[0], f[2])[1]
                   for lay in layers for f in lay["features"]]
            fails += checks.check_point_tile(
                z, x, y, pts, t["lon"].to_numpy()[keep],
                t["lat"].to_numpy()[keep], 16 * self.buffers["pages"])
        pip = _read(os.path.join(out, "pip"), ["pid", "admin_id"])
        s = geo[geo["pid"] % 37 == 0]
        got: dict = {}
        for p, a in zip(pip["pid"], pip["admin_id"]):
            if p % 37 == 0:
                got.setdefault(p, set()).add(a)
        fails += checks.check_pip(s["pid"].tolist(), s["mx"].to_numpy(),
                                  s["my"].to_numpy(), got, self.rings)
        feats = os.path.join(out, "feats")
        cells = sum(1 for d in os.listdir(feats) if d.startswith("cell_x=")
                    for c in os.listdir(os.path.join(feats, d))
                    if c.startswith("cell_y="))
        return fails, {"pages_in": self.n["pages"], "points_out": len(geo),
                       "joined_rows": len(pip), "cells_read": cells}


class PolygonsKnn(Workload):
    """Three layers through cli.main at z8: concave 16-gons (ragged
    lane), axis-rect boxes with a third reversed (rect lane), zigzag
    polylines behind a !zoom! template.  Then a kNN join (k=5) of a
    sample of staged geotagged points against all of them."""

    name = "polygons_z8_knn"
    minzoom = 8
    maxzoom = 8
    sizes = {"areas": 600, "boxes": 1_000, "roads": 1_000, "points": 15_000}
    buffers = {"areas": 2, "boxes": 2, "roads": 4}

    def stage(self, inp):
        tables = gen.polygon_layers(self.seed, self.n["areas"],
                                    self.n["boxes"], self.n["roads"])
        for name, df in tables.items():
            df.to_parquet(os.path.join(inp, f"{name}.parquet"), index=False)
        with open(os.path.join(inp, "layers.yml"), "w") as f:
            f.write(_yaml([
                ("areas", 0, self.buffers["areas"],
                 _thin("areas", self.maxzoom, 1)),
                ("boxes", 0, self.buffers["boxes"],
                 _thin("boxes", self.maxzoom, 1)),
                ("roads", 2, self.buffers["roads"],
                 "( SELECT * FROM roads WHERE !zoom! >= 8 OR "
                 "kind IN ('way-0', 'way-1') ) AS data"),
            ], self.maxzoom))
        # the geotagged points the points workload's extract step yields
        _, truth = gen.pages(self.seed, self.n["points"])
        mx, my = gen.merc(truth["lon"], truth["lat"])
        self.points = pd.DataFrame({"pid": truth["page_id"].to_numpy(),
                                    "mx": mx, "my": my})
        self.points.rename(columns={"pid": "cand_id", "mx": "cx",
                                    "my": "cy"}).to_parquet(
            os.path.join(inp, "points.parquet"), index=False)
        # plus one query far north of every point: its fifth neighbour
        # lies 2-3.2 cells away at the index zoom knn_join picks for this
        # many points, so every seed runs the same two ring rounds
        rx, ry = gen.merc(0.0, 76.0)
        self.queries = pd.concat([
            self.points[self.points["pid"] % 400 == 0],
            pd.DataFrame({"pid": [-1], "mx": [float(rx)], "my": [float(ry)]}),
        ], ignore_index=True)
        self.queries.rename(columns={"pid": "query_id", "mx": "qx",
                                     "my": "qy"}).to_parquet(
            os.path.join(inp, "queries.parquet"), index=False)

    def job(self, spark, inp, out, tr):
        from tileigi_spark import spatial

        _render(tr, os.path.join(inp, "layers.yml"),
                {n: os.path.join(inp, f"{n}.parquet") for n in self.buffers},
                os.path.join(out, "store"), self.minzoom, self.maxzoom)
        with tr.span("spatial.knn"):
            spatial.knn_join(
                spark.read.parquet(os.path.join(inp, "queries.parquet")),
                spark.read.parquet(os.path.join(inp, "points.parquet")),
                k=5).write.parquet(os.path.join(out, "knn"))

    def check(self, out, summary):
        from tileigi_spark.geom.mvt import decode_geometry
        from tileigi_spark.geom.validity import is_valid

        decoded, rows = self.sample_tiles(out, summary["keys"], per_zoom=6)
        fails = checks.check_tile_md5(rows)
        for z, x, y, layers in decoded:
            for lay in layers:
                if lay["name"] not in self.buffers:
                    fails.append(f"tile {z}/{x}/{y}: unknown layer "
                                 f"{lay['name']}")
                    continue
                for ftype, _, payload, _ in lay["features"]:
                    fails += checks.check_geometry(
                        f"tile {z}/{x}/{y}", lay["name"],
                        decode_geometry(ftype, payload),
                        16 * self.buffers[lay["name"]], is_valid)
        fails = fails[:10]
        knn = _read(os.path.join(out, "knn"),
                    ["query_id", "knn_rank", "cand_id"]) \
            .sort_values(["query_id", "knn_rank"])
        ranked: dict = {}
        for q, c in zip(knn["query_id"], knn["cand_id"]):
            ranked.setdefault(q, []).append(c)
        p, q = self.points, self.queries
        fails += checks.check_knn(q["pid"].tolist(), q["mx"], q["my"],
                                  p["mx"].to_numpy(), p["my"].to_numpy(),
                                  p["pid"].to_numpy(), 5, ranked)
        return fails, {"pages_in": 0, "points_out": 0,
                       "joined_rows": len(knn), "cells_read": 0}


WORKLOADS = {w.name: w for w in (Points, PolygonsKnn)}
