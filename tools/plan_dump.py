"""Dump .explain('formatted') for every queries() entry (and the bench
pyramid legs) to plans/<tag>/<name>_<suffix>.txt.

Usage: python tools/plan_dump.py <tag> <suffix> [query ...]
  e.g. python tools/plan_dump.py r06 before
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def bench_legs(spark, sf_dir):
    """The bench.py pyramid/join legs that are not queries() entries,
    rebuilt with the same shapes bench.py uses (for plan capture only)."""
    from pyspark.sql import functions as F

    import bench
    from tileigi_spark.config import Layer, Layers
    from tileigi_spark.engine import build_tiles
    from tileigi_spark.extract import geotag_pages

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    legs = {}

    pages = bench.synth_pages(spark, sf_dir, 4)
    legs["geotag_extract"] = geotag_pages(pages)

    geo = geotag_pages(pages)
    feats = bench.pages_to_features(geo)
    thin = "pmod(abs(feature_id), shiftleft(1, 2 * (10 - zoom))) = 0"
    layers = Layers(layers=[Layer(id="pages", source="pages", minzoom=0,
                                  maxzoom=14, buffer=2, zoom_filter=thin)],
                    global_maxzoom=14)
    legs["mvt_pyramid_z0_10"] = build_tiles(
        spark, {"pages": feats}, layers, 0, 10, shuffle_parts=cpus * 8)

    boxes = bench.synth_boxes(spark, 1000)
    poly_thin = "pmod(abs(feature_id), shiftleft(1, 2 * (8 - zoom))) = 0"
    poly_layers = Layers(layers=[Layer(id="boxes", source="boxes",
                                       minzoom=0, maxzoom=14, buffer=2,
                                       zoom_filter=poly_thin)],
                         global_maxzoom=14)
    legs["poly_pyramid_z0_8"] = build_tiles(
        spark, {"boxes": boxes}, poly_layers, 0, 8, shuffle_parts=cpus * 8)

    lines = bench.synth_lines(spark, 400)
    pts_feats = feats.filter(F.pmod(F.abs(F.col("feature_id")),
                                    F.lit(64)) == 0)
    ml_layers = Layers(layers=[
        Layer(id="pages", source="pages", minzoom=4, maxzoom=14, buffer=2),
        Layer(id="roads", source="bench_lines", minzoom=2, maxzoom=14,
              buffer=4,
              sql=("SELECT * FROM bench_lines "
                   "WHERE !zoom! >= 5 OR kind = 'way-0'")),
        Layer(id="landuse", source="boxes", minzoom=0, maxzoom=6,
              buffer=2,
              zoom_filter=("pmod(abs(feature_id), "
                           "shiftleft(1, 2 * (6 - zoom))) = 0")),
    ], global_maxzoom=14)
    legs["multilayer_pyramid_z0_7"] = build_tiles(
        spark, {"pages": pts_feats, "boxes": boxes, "bench_lines": lines},
        ml_layers, 0, 7, shuffle_parts=cpus * 8)

    hz_thin = "pmod(abs(feature_id), shiftleft(1, 2 * (14 - zoom))) = 0"
    hz_layers = Layers(layers=[Layer(id="pages", source="pages",
                                     minzoom=0, maxzoom=14, buffer=2,
                                     zoom_filter=hz_thin)],
                       global_maxzoom=14)
    legs["highzoom_pyramid_z0_14_bbox"] = build_tiles(
        spark, {"pages": feats}, hz_layers, 0, 14, shuffle_parts=cpus * 8,
        bbox=(10.0, 10.0, 30.0, 30.0))
    legs["rerender_z8_14_bbox_full"] = build_tiles(
        spark, {"pages": feats}, hz_layers, 8, 14, shuffle_parts=cpus * 8,
        bbox=(10.0, 10.0, 30.0, 30.0))

    pts = feats.select(F.col("feature_id").alias("pid"),
                       F.col("xmin").alias("mx"), F.col("ymin").alias("my"))
    import __spark_entry__ as entrymod
    from tileigi_spark.spatial import point_in_polygon_join

    polys = entrymod._nation_boxes(spark, sf_dir)
    legs["pip_join_bench"] = point_in_polygon_join(
        pts, polys, index_zoom=6, px_col="mx", py_col="my")
    return legs


def main():
    tag = sys.argv[1] if len(sys.argv) > 1 else "r06"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    only = set(sys.argv[3:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod

    spark = (SparkSession.builder.master("local[8]")
             .appName("plan-dump")
             .config("spark.sql.shuffle.partitions", "64")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    outdir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", tag)
    os.makedirs(outdir, exist_ok=True)

    items = dict(entrymod.queries())
    try:
        items.update(bench_legs(spark, sf_dir))
    except Exception as e:
        print(f"bench legs skipped: {e}", file=sys.stderr)

    for name, q in items.items():
        if only and name not in only:
            continue
        try:
            df = q(spark, sf_dir) if callable(q) else q
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        except Exception as e:
            plan = f"ERROR: {e}"
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        nex = plan.count("Exchange")
        npy = (plan.count("ArrowEvalPython") + plan.count("BatchEvalPython")
               + plan.count("MapInPandas") + plan.count("FlatMapGroupsInPandas"))
        print(f"{name}: Exchange={nex} PythonNodes={npy} -> {path}")
    spark.stop()


if __name__ == "__main__":
    main()
