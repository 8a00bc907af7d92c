"""Zoom-pyramid overviews: z tiles -> z-1 tiles by 2x2 reduction.

Reference semantics: `gdal raster tile` computes overview zooms from
the 4 child tiles of each parent (apps/gdalalg_raster_tile.cpp:1576-
1710); the reduction kernels mirror gcore/overview.cpp — Near (:165,
top-left child pixel), Average (:1106, mean of the 2x2 block; nodata-
aware), plus Sum/RMS (:309) — Sum is the natural kernel for density
rasters (counts stay counts). Tile addressing: parent = (tx//2, ty//2),
child quadrant = (tx%2, ty%2) in XYZ orientation.

Spark-first: one `groupBy(parent)` + `applyInPandas` per zoom level —
a single shuffle whose key count shrinks 4x per level. (The density
pyramid writer needs none of this for `sum`: it sums the sparse pixel
counts in the JVM, `tilewriter.sum_pyramid`.) The `--resume`
behavior (gdalalg_raster_tile.cpp:289 — generate only missing tiles)
is a filter against the committed buckets of the manifest
(gdal_spark.checkpoint), giving idempotent restart per the north rule.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import grid as G


def downsample_2x2_np(block: np.ndarray, kernel: str = "average",
                      nodata: float | None = None) -> np.ndarray:
    """(2h, 2w) -> (h, w) by the named kernel (overview.cpp analogs)."""
    a = block.reshape(block.shape[0] // 2, 2, block.shape[1] // 2, 2)
    if kernel == "near":
        return a[:, 0, :, 0].copy()
    if kernel == "sum":
        return a.sum(axis=(1, 3))
    if kernel == "rms":
        return np.sqrt((a.astype(np.float64) ** 2).mean(axis=(1, 3)))
    if kernel == "mode":
        # majority of the 4 pixels, ties -> smallest value (deterministic)
        flat = a.transpose(0, 2, 1, 3).reshape(a.shape[0], a.shape[2], 4)
        out = np.empty((a.shape[0], a.shape[2]), dtype=block.dtype)
        for i in range(out.shape[0]):
            for j in range(out.shape[1]):
                vals, cnt = np.unique(flat[i, j], return_counts=True)
                out[i, j] = vals[np.argmax(cnt)]
        return out
    if kernel == "average":
        if nodata is None:
            return a.mean(axis=(1, 3))
        valid = a != nodata
        n = valid.sum(axis=(1, 3))
        s = np.where(valid, a, 0.0).sum(axis=(1, 3))
        out = np.where(n > 0, s / np.maximum(n, 1), nodata)
        return out
    raise ValueError(f"unknown kernel {kernel!r}")


def overview_level(tiles: DataFrame, zoom: int, kernel: str = "average",
                   tile: int = 256, nodata: float | None = None) -> DataFrame:
    """One pyramid step: tiles at `zoom` -> tiles at `zoom - 1`.

    Kernels: near/average/sum/rms/mode reduce each 2x2 block directly;
    'gauss' (gcore/overview.cpp:1996) composes the existing focal halo
    pass (3x3 gaussian smooth) with even-index decimation — GDAL's
    gauss overview IS convolve-then-sample; 'cubic' (overview.cpp:3393)
    delegates to the warp operator's 4x4 cubic convolution between the
    two zoom grids (dst centers map to src t=0.5, the uniform cubic
    decimation stencil). Both reuse already-exact machinery; edge
    pixels whose support leaves the raster emit 0 (density rasters are
    zero there; GDAL renormalizes instead — documented difference)."""
    if kernel == "gauss":
        from .focal import focal
        spec = G.world_3857(zoom, tile)
        smoothed = focal(tiles, spec, "gauss3x3")
        return overview_level(smoothed, zoom, "near", tile, nodata)
    if kernel == "cubic":
        from . import warp as W
        return W.warp(tiles, G.world_3857(zoom, tile),
                      G.world_3857(zoom - 1, tile), kernel="cubic")
    parented = tiles.select(
        (F.col("tile_y") / 2).cast("int").alias("p_ty"),
        (F.col("tile_x") / 2).cast("int").alias("p_tx"),
        (F.col("tile_y") % 2).cast("int").alias("qy"),
        (F.col("tile_x") % 2).cast("int").alias("qx"),
        "px",
    )

    def reduce_parent(key, pdf: pd.DataFrame) -> pd.DataFrame:
        ty, tx = int(key[0]), int(key[1])
        full = np.zeros((2 * tile, 2 * tile), dtype=np.float64)
        if nodata is not None:
            full[:] = nodata
        for _, row in pdf.iterrows():
            qy, qx = int(row["qy"]), int(row["qx"])
            full[qy * tile:(qy + 1) * tile, qx * tile:(qx + 1) * tile] = \
                np.asarray(row["px"], np.float64).reshape(tile, tile)
        half = downsample_2x2_np(full, kernel, nodata)
        return pd.DataFrame({"tile_y": [ty], "tile_x": [tx],
                             "px": [half.ravel().tolist()]})

    return (parented.groupBy("p_ty", "p_tx")
            .applyInPandas(reduce_parent, G.TILE_SCHEMA))


def build_pyramid(base_tiles: DataFrame, base_zoom: int, min_zoom: int,
                  kernel: str = "average", tile: int = 256,
                  nodata: float | None = None) -> dict[int, DataFrame]:
    """-> {zoom: tiles} for base_zoom down to min_zoom. Each level is a
    lazy DataFrame deriving from the one above (one shuffle per level);
    callers persist levels they fan out from."""
    levels = {base_zoom: base_tiles}
    cur = base_tiles
    for z in range(base_zoom, min_zoom, -1):
        cur = overview_level(cur, z, kernel, tile, nodata)
        levels[z - 1] = cur
    return levels
