"""Driver contract for the spark-graft builder (PySpark target).

entry()      — flagship query: pages -> geo point derivation ->
               broadcast point-in-polygon join vs admin polygons ->
               z8 tile assignment -> per (polygon, tile) rollup.
queries()    — 58 entries (the driver's correctness window)
               covering SURVEY §2 (see COVERAGE.md for the
               line-by-line operator map): relational/OGR-SQL
               semantics, spatial joins + kNN + Hilbert sort, the
               raster surface (density/rasterize/warp incl. cutline +
               datum-shifted CRSs/pyramid/overview kernels/
               polygonize/focal/DEM derivatives/fill-nodata/calc/
               mosaic/proximity/footprint/contour segments AND
               iso-polygons/sieve/gridding/pansharpen/interpolate,
               gated by per-tile GDAL checksums), dedup/similarity/
               text/multimodal ops (PNG + baseline + progressive
               JPEG), and window/sessionization.
oracle_sql() — DuckDB-equivalent SQL per query (bit-exact by design;
               see gdal_spark/queries.py docstring for the
               cross-engine exactness rules). ALL 58 queries have
               oracles: three non-relational ones (viewshed ray walk,
               IDW float-sum order, sieve cascade — proofs in their
               docstrings) pin golden VALUES literals FROZEN as source
               constants (gdal_spark/golden_pins.py — the
               reference's own autotest checksum-pinning discipline),
               each additionally backed by an exact
               distributed==single-node pytest oracle.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gdal_spark import queries as Q  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: spatial join + tile assignment on sf0.001 pages."""
    from pyspark.sql import functions as F

    from gdal_spark.geo import mercator
    from gdal_spark.operators import pip_join
    from gdal_spark.sources import admin, pages

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    sf_dir = "/root/testdata/sf0.001"
    pts = pages.page_points(spark, sf_dir).select("doc_id", "url", "lon", "lat")
    polys = admin.admin_df(spark)
    joined = pip_join.pip_join_broadcast(pts, polys, how="inner")
    return (
        joined.withColumn("tile_x", mercator.tile_x_col(F.col("lon"), 8))
        .withColumn("tile_y", mercator.tile_y_col(F.col("lat"), 8))
        .groupBy("poly_id", "tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("n_pages"), F.min("url").alias("first_url"))
        .orderBy("poly_id", "tile_x", "tile_y")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(Q.QUERIES)


def oracle_sql() -> dict[str, str]:
    """Registry oracles + golden-literal pins for the three
    non-relational gates (sieve cascade / viewshed ray walk / IDW
    float-sum order): their expected outputs are computed once by the
    single-node numpy reference implementations and emitted as
    `SELECT ... FROM (VALUES ...)` — the reference's own golden-constant
    discipline (autotest/pymod/gdaltest.py:298-366 checksum pinning)."""
    from gdal_spark import golden

    out = dict(Q.ORACLES)
    out.update(golden.golden_oracles())
    return out
