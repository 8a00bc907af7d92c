"""Points -> density raster: the bridge from the pages table to the
raster world (the engine's `gdal_rasterize -burn 1 -add` analog for
point layers, alg/gdalrasterize.cpp point path + llrasterize.cpp:233
GDALdllImagePoint: a point burns the pixel containing it).

Spark-first: pixel assignment is pure JVM column math (floor exprs —
the same math `gdal raster tile` uses for tile indices), the count per
pixel is a partial-aggregated groupBy, and tile assembly is one
streaming `mapInArrow` over the pixels sorted by tile
(`tilebatch.densify`: one numpy scatter per Arrow batch, no Python
call per tile). The sparse (pixel -> count) relation IS the
scale-friendly representation at 10^12 rows; dense tile arrays only
materialize per task, a bounded batch at a time.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..geo import mercator
from . import grid as G
from . import tilebatch as TB


def global_pixel_cols_3857(lon: Column, lat: Column, zoom: int,
                           tile: int = 256) -> tuple[Column, Column]:
    """(gx, gy) global pixel indices on a world_3857 grid — JVM only."""
    n = (1 << zoom) * tile
    gx = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n)))
    gx = F.greatest(F.least(gx, F.lit(n - 1)), F.lit(0)).cast("long")
    my = mercator.merc_y_col(lat)
    gy = F.floor((F.lit(mercator.ORIGIN_SHIFT) - my)
                 / F.lit(2.0 * mercator.ORIGIN_SHIFT) * F.lit(float(n)))
    gy = F.greatest(F.least(gy, F.lit(n - 1)), F.lit(0)).cast("long")
    return gx, gy


def global_pixel_counts(points: DataFrame, zoom: int, tile: int = 256,
                        lon_col: str = "lon", lat_col: str = "lat",
                        weight_col: str | None = None) -> DataFrame:
    """-> (gx, gy, v): sparse counts (or weight sums) per global pixel.

    One shuffle (groupBy pixel) with map-side partial aggregation; at
    10^12 input rows the output is bounded by the number of nonzero
    pixels, not rows.
    """
    gx, gy = global_pixel_cols_3857(F.col(lon_col), F.col(lat_col), zoom, tile)
    with_px = points.withColumn("gx", gx).withColumn("gy", gy)
    agg = (F.sum(weight_col) if weight_col else F.count(F.lit(1))).cast("double")
    return with_px.groupBy("gx", "gy").agg(agg.alias("v"))


def tile_pixel_cols(tile: int) -> list[Column]:
    """(gx, gy) -> [tile_y, tile_x, pxi]: the tile holding the pixel and
    the pixel's row-major index inside it."""
    return [(F.col("gy") / tile).cast("int").alias("tile_y"),
            (F.col("gx") / tile).cast("int").alias("tile_x"),
            ((F.col("gy") % tile) * tile + (F.col("gx") % tile)).alias("pxi")]


def points_to_pixel_counts(points: DataFrame, zoom: int, tile: int = 256,
                           lon_col: str = "lon", lat_col: str = "lat",
                           weight_col: str | None = None) -> DataFrame:
    """-> (tile_y, tile_x, pxi, v): `global_pixel_counts` addressed by
    tile."""
    return (global_pixel_counts(points, zoom, tile, lon_col, lat_col,
                                weight_col)
            .select(*tile_pixel_cols(tile), "v"))


def tiles_to_pixels(tiles: DataFrame, spec: G.GridSpec) -> DataFrame:
    """Dense tile rows -> the sparse NONZERO global-pixel relation
    (gx, gy, v), the inverse of `density_tiles`' densify. One
    `np.flatnonzero` per Arrow batch; output is bounded by occupied
    pixels, not raster size. A tile's row stride is its own width:
    partial edge tiles are narrower than spec.tile."""
    t = spec.tile

    def emit(batches):
        for b in batches:
            ty = b.column("tile_y").to_numpy().astype(np.int64)
            tx = b.column("tile_x").to_numpy().astype(np.int64)
            off, vals = TB.px_values(b.column("px"))
            hit = np.flatnonzero(vals)
            row = np.searchsorted(off, hit, side="right") - 1
            i = hit - off[row]
            w = np.minimum(t, spec.width - tx * t)[row]
            yield pa.RecordBatch.from_arrays(
                [tx[row] * t + i % w, ty[row] * t + i // w, vals[hit]],
                names=["gx", "gy", "v"])

    return (tiles.select("tile_y", "tile_x", "px")
            .mapInArrow(emit, "gx long, gy long, v double"))


def density_tiles(points: DataFrame, zoom: int, tile: int = 256,
                  lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """points -> dense density tiles (tile_y, tile_x, px) on the
    world_3857 grid at `zoom`: only tiles holding a point."""
    return TB.densify(
        points_to_pixel_counts(points, zoom, tile, lon_col, lat_col),
        ["tile_y", "tile_x"], tile)
