"""Physical-plan audit: assert the Catalyst properties the engine's
design depends on, and write the evidence to PLANS.md.

Checks (per SURVEY §4 and the scale notes in each operator):
 - predicate pushdown reaches the parquet scans (PushedFilters);
 - column pruning reaches the scans (ReadSchema is narrow);
 - dimension joins choose BroadcastHashJoin;
 - relational pipelines run inside WholeStageCodegen spans;
 - the PIP broadcast join's bbox prefilter appears as a JVM Filter
   BEFORE the Arrow exchange (stage 1 of the ladder in codegen);
 - AQE is enabled (AdaptiveSparkPlan wraps the queries).

Exit code 1 if any assertion fails (usable as a regression gate).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main() -> None:
    from pyspark.sql import functions as F

    from gdal_spark import queries as Q
    from gdal_spark.operators import pip_join
    from gdal_spark.session import get_spark
    from gdal_spark.sources import admin, pages

    spark = get_spark("plan_audit", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    failures: list[str] = []
    sections: list[str] = []

    def check(name: str, plan: str, must: list[str], must_not: list[str] = ()):
        ok = True
        notes = []
        for pat in must:
            if not re.search(pat, plan):
                ok = False
                notes.append(f"MISSING: /{pat}/")
        for pat in must_not:
            if re.search(pat, plan):
                ok = False
                notes.append(f"FORBIDDEN PRESENT: /{pat}/")
        status = "PASS" if ok else "FAIL"
        if not ok:
            failures.append(name)
        interesting = [ln.strip() for ln in plan.splitlines()
                       if re.search(r"PushedFilters: \[[^]]|BroadcastHashJoin|"
                                    r"ReadSchema|AdaptiveSparkPlan|"
                                    r"ArrowEvalPython|MapIn(Pandas|Arrow)|Filter \(",
                                    ln)]
        sections.append(
            f"## {name} — {status}\n\n"
            + ("".join(f"- {n}\n" for n in notes) if notes else "")
            + "```\n" + "\n".join(interesting[:14]) + "\n```\n")
        print(f"{status} {name}" + (f" {notes}" if notes else ""))

    def plan_of(df) -> str:
        jvm = spark._jvm
        return jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")

    # 1. TPC-H q6: every predicate pushed, narrow ReadSchema
    q6 = Q.QUERIES["tpch_q6_forecast_revenue"](spark, SF_DIR)
    check("tpch_q6 pushdown+pruning", plan_of(q6),
          must=[r"PushedFilters: \[.*GreaterThanOrEqual\(l_shipdate",
                r"ReadSchema: [^\n]*l_extendedprice",
                r"AdaptiveSparkPlan"],
          must_not=[r"ReadSchema: [^\n]*l_orderkey"])

    # 2. TPC-H q3: dimension side broadcast
    q3 = Q.QUERIES["tpch_q3_shipping"](spark, SF_DIR)
    check("tpch_q3 broadcast join", plan_of(q3),
          must=[r"BroadcastHashJoin", r"PushedFilters: \[.*c_mktsegment"])

    # 3. PIP broadcast: JVM bbox Filter precedes the Python stage
    pts = pages.page_points(spark, SF_DIR).select("doc_id", "lon", "lat")
    j = pip_join.pip_join_broadcast(pts, admin.admin_df(spark))
    pplan = plan_of(j)
    # the bbox range Filter must run in a codegen stage BELOW the
    # Python evaluation node (the lon/lat derivation is constant-folded
    # into the filter condition, so match the numeric range form)
    check("pip_join bbox prefilter in codegen", pplan,
          must=[r"Filter \[codegen id", r">= -?\d+\.\d+",
                r"MapInPandas"])

    # 4. cell encode: pure column math, no python nodes
    enc = Q.QUERIES["geo_cell_tile_encode"](spark, SF_DIR)
    check("cell_encode JVM-only", plan_of(enc),
          must=[r"HashAggregate"],
          must_not=[r"MapInPandas|ArrowEvalPython|BatchEvalPython"])

    # 5. first-match join: single shuffle window, no cartesian
    fm = Q.QUERIES["ogr_join_first_match"](spark, SF_DIR)
    check("first_match join no-cartesian", plan_of(fm),
          must=[r"Window"], must_not=[r"CartesianProduct"])

    # ---- round-2 operators ----
    import numpy as np

    from gdal_spark.raster import grid as G
    from gdal_spark.raster import gridding as GR
    from gdal_spark.raster import proximity as PX
    from gdal_spark.raster import warp as W

    # 6. IDW scatter path: per-point tile fan-out is a JVM Generate
    #    (explode over sequence), no driver collect, no cross join
    pts3 = spark.range(10_000).select(
        (F.rand(1) * 100).alias("x"), (F.rand(2) * 100).alias("y"),
        F.rand(3).alias("v"))
    spec = G.GridSpec(128, 128, (0.0, 1.0, 0.0, 128.0, 0.0, -1.0), tile=32)
    gi = GR.grid_idw(pts3, spec, radius=5.0)
    check("grid_idw scatter JVM fan-out", plan_of(gi),
          must=[r"Generate", r"FlatMapGroupsInPandas"],
          must_not=[r"CartesianProduct|BroadcastNestedLoopJoin"])

    # 7. proximity scale path: the level probe and the gather rectangle
    #    are JVM Generates (explode over sequence) equi-joined on block
    #    and tile keys; no cross or nested-loop join
    tiles_df = spark.createDataFrame(
        [(0, 0, np.eye(8).ravel().tolist())],
        "tile_y int, tile_x int, px array<double>")
    pspec = G.GridSpec(8, 8, (0, 1, 0, 8, 0, -1), tile=8)
    pr = PX.proximity_ring(tiles_df, pspec)
    check("proximity ring equi-join gather", plan_of(pr),
          must=[r"Generate", r"FlatMapGroupsInPandas"],
          must_not=[r"CartesianProduct|BroadcastNestedLoopJoin"])

    # 8. warp dependency relation: computed by a vectorized Python map
    #    over a Range scan (never a driver loop), exploded JVM-side
    dep = W._dep_ranges(spark, G.world_3857(5, 64), G.world_4326(500, 250, tile=125))
    check("warp dep relation from Range", plan_of(dep),
          must=[r"Range", r"MapInPandas"])

    # 9. dedup_clusters: the CC loop and pair join stay equi-joins
    dc = Q.QUERIES["dedup_clusters"](spark, SF_DIR)
    check("dedup_clusters no-cartesian", plan_of(dc),
          must_not=[r"CartesianProduct"], must=[r"AdaptiveSparkPlan"])

    # 10a. S2 cell rollup: the cube-face Hilbert encode is pure JVM
    #      column math (codegen bit walk), never a Python node
    s2q = Q.QUERIES["geo_s2_cell_rollup"](spark, SF_DIR)
    check("s2_cell_rollup JVM-only", plan_of(s2q),
          must=[r"HashAggregate"],
          must_not=[r"MapInPandas|ArrowEvalPython|BatchEvalPython"])

    # 10. overlay layer algebra: candidate pairing is a cell equi-join
    from gdal_spark.operators.overlay_join import overlay_intersection_join
    ov = overlay_intersection_join(admin.overlay_df(spark),
                                   admin.overlay_df(spark), same_layer=True)
    check("overlay join cell equi-join", plan_of(ov),
          must=[r"MapInPandas"], must_not=[r"CartesianProduct"])

    # ---- round-4 gates ----

    # 11. grid metrics default to the scatter path: per-point tile
    #     fan-out is a JVM Generate; no cross join, no broadcast of
    #     the point cloud
    gm = Q.QUERIES["raster_grid_metrics"](spark, SF_DIR)
    check("grid_metrics scatter fan-out", plan_of(gm),
          must=[r"Generate", r"FlatMapGroupsInPandas"],
          must_not=[r"CartesianProduct|BroadcastNestedLoopJoin"])

    # 12. warp CRS gate (incl. the r5 datum-shifted tm branch): the
    #     source-tile gather stays an equi-join on tile keys
    wc = Q.QUERIES["raster_warp_crs_checksum"](spark, SF_DIR)
    check("warp_crs gather equi-join", plan_of(wc),
          must=[r"AdaptiveSparkPlan", r"FlatMapGroupsInPandas"],
          must_not=[r"CartesianProduct|BroadcastNestedLoopJoin"])

    # 13. VRT composed read: per-source byte-range tasks are MapInPandas
    #     over the block relation — no driver pixel loop
    import tempfile

    from gdal_spark.raster import geotiff as GT
    from gdal_spark.raster import vrt as VRT
    with tempfile.TemporaryDirectory() as td:
        vspec = G.GridSpec(32, 32, (0.0, 1.0, 0.0, 32.0, 0.0, -1.0),
                           tile=16)
        vt = spark.createDataFrame(
            [(ty, tx, np.full(256, 1.0).tolist())
             for ty in range(2) for tx in range(2)],
            "tile_y int, tile_x int, px array<double>")
        GT.write_geotiff(vt, vspec, os.path.join(td, "a.tif"))
        vpath = os.path.join(td, "ab.vrt")
        VRT.build_vrt(vpath, [os.path.join(td, "a.tif")])
        _, vtiles = VRT.read_vrt(spark, vpath)
        check("vrt composed read MapInPandas", plan_of(vtiles),
              must=[r"MapInPandas|FlatMapGroupsInPandas"],
              must_not=[r"CartesianProduct"])

    # ---- round-5 gates ----

    # 14. warp cutline: the mask join is a tile-key equi-join (prunes
    #     fully-outside tiles from the plan); the blank is JVM zip_with
    #     — no Python node AFTER the rasterized mask is joined
    cl = Q.QUERIES["raster_warp_cutline_checksum"](spark, SF_DIR)
    check("warp_cutline mask equi-join", plan_of(cl),
          must=[r"FlatMapGroupsInPandas", r"zip_with"],
          must_not=[r"CartesianProduct|BroadcastNestedLoopJoin"])

    # 15. contour iso-polygons: boundary build + ring chaining stay
    #     equi-joins (cross-tile stitch = polygonize merge pattern)
    cp = Q.QUERIES["raster_contour_polygons"](spark, SF_DIR)
    check("contour_polygons no-cartesian", plan_of(cp),
          must=[r"AdaptiveSparkPlan"],
          must_not=[r"CartesianProduct|BroadcastNestedLoopJoin"])

    # 16. minhash near-dup: banded self-join is an equi-join on
    #     (band, signature), never all-pairs
    mh = Q.QUERIES["dedup_minhash_pairs"](spark, SF_DIR)
    check("minhash banded equi-join", plan_of(mh),
          must=[r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"],
          must_not=[r"CartesianProduct|BroadcastNestedLoopJoin"])

    # 17. sum pyramid: every level write_pyramid writes (sparse JVM
    #     overviews, unioned) is densified by exactly ONE Python node,
    #     a MapInArrow; no per-level or per-tile grouped pandas stage
    from gdal_spark.raster import tilewriter as TW
    sp = TW.sum_pyramid(pages.page_points(spark, SF_DIR), 5, 1, 32)
    check("write_pyramid one MapInArrow", plan_of(sp),
          must=[r"(?m)^\(\d+\) MapInArrow"],
          must_not=[r"(?m)^\(\d+\) MapInArrow[\s\S]*^\(\d+\) MapInArrow",
                    r"FlatMapGroupsInPandas|MapInPandas|ArrowEvalPython|"
                    r"BatchEvalPython"])

    header = (
        "# PLANS — physical-plan audit evidence\n\n"
        f"Generated by tools/plan_audit.py at sf dir {SF_DIR}.\n"
        "Each section lists the load-bearing lines of the formatted\n"
        "physical plan (pushdown, pruning, join strategy, Python stage\n"
        "placement) with the asserted properties.\n\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write(header + "\n".join(sections))

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
