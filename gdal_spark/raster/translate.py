"""gdalwarp / gdal_translate file-to-file drivers over the GeoTIFF
codec — the CLI-shaped top of the raster stack.

Reference surfaces: apps/gdalwarp_lib.cpp (reproject: suggested output
grid + kernel choice + nodata) and apps/gdal_translate_lib.cpp
(-projwin window, -outsize resize, -scale linear rescale, -ot type,
-a_nodata). Each option maps onto an existing distributed operator —
this module only composes:

    read_geotiff -> [crop | resize | scale | warp] -> write_geotiff

so the plan stays the operators' plans (byte-range tile reads, tile
dependency joins, distributed deflate on write); nothing new touches
the driver beyond the IFD probe and the block concatenation.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from . import calc as C
from . import geotiff as GT
from . import grid as G
from . import warp as W


def gdalwarp(spark: SparkSession, src_path: str, dst_path: str,
             dst_crs: str, kernel: str = "near", nodata: float = 0.0,
             tile: int = 256, dtype: str = "float64",
             compression: str = "deflate",
             dst_spec: G.GridSpec | None = None,
             cutline: str | list[bytes] | None = None,
             crop_to_cutline: bool = False,
             cutline_all_touched: bool = False) -> G.GridSpec:
    """`gdalwarp -t_srs <dst_crs> -r <kernel> [-cutline ds]
    [-crop_to_cutline] [-wo CUTLINE_ALL_TOUCHED] src dst` — reproject
    one GeoTIFF into another. The destination grid defaults to the
    GDALSuggestedWarpOutput edge-walk choice; pass dst_spec to pin it
    (gdalwarp -te/-tr/-ts). Returns the destination GridSpec.

    cutline (apps/gdalwarp_lib.cpp:188-206): a vector path or WKB
    polygon list in the SOURCE CRS; source pixels outside it become
    nodata before resampling (alg/gdalcutline.cpp:218 masker).
    crop_to_cutline shrinks the suggested output grid to the cutline's
    envelope in the target CRS, snapped OUTWARD to whole target pixels
    on the suggested grid (the -crop_to_cutline extent math)."""
    src_spec, src_bands = GT.read_geotiff_bands(spark, src_path)
    cut_df = None
    if cutline is not None:
        from pyspark.sql import functions as F

        from ..sources import registry as REG

        if isinstance(cutline, str):
            cut_df = (REG.open_vector(spark, cutline)
                      .select(F.monotonically_increasing_id()
                              .alias("fid"), "geom"))
        else:
            cut_df = spark.createDataFrame(
                [(i, bytearray(g)) for i, g in enumerate(cutline)],
                "fid long, geom binary")
        src_bands = [W.apply_cutline(b, cut_df, src_spec, nodata=nodata,
                                     all_touched=cutline_all_touched)
                     for b in src_bands]
    dst = dst_spec or W.suggested_warp_output(src_spec, dst_crs, tile=tile)
    if crop_to_cutline:
        if cut_df is None:
            raise ValueError("crop_to_cutline needs cutline=")
        dst = _crop_spec_to_cutline(dst, cut_df, src_spec.crs)
    warped = [W.warp(b, src_spec, dst, kernel=kernel, nodata=nodata)
              for b in src_bands]
    nd = nodata if nodata != 0.0 else None
    if len(warped) == 1:
        GT.write_geotiff(warped[0], dst, dst_path, dtype=dtype,
                         compression=compression, nodata=nd)
    else:
        GT.write_geotiff_bands(warped, dst, dst_path, dtype=dtype,
                               compression=compression, nodata=nd)
    return dst


#: cutlines are feature-scale metadata; refuse to collect more
_CUTLINE_MAX_FEATURES = 10_000
_CUTLINE_MAX_VERTICES = 100_000


def _crop_spec_to_cutline(dst: G.GridSpec, cut_df, src_crs: str) -> G.GridSpec:
    """-crop_to_cutline (apps/gdalwarp_lib.cpp CropToCutline): cutline
    envelope in the TARGET CRS, snapped outward to whole pixels of the
    suggested output grid. The cutline is metadata-sized (a budget
    fence guards the collect); everything pixel-scale stays
    distributed."""
    from ..geo import crs as _crs
    from ..geo import wkb as _wkb

    rows = cut_df.limit(_CUTLINE_MAX_FEATURES + 1).collect()
    if len(rows) > _CUTLINE_MAX_FEATURES:
        raise ValueError(
            f"cutline exceeds {_CUTLINE_MAX_FEATURES} features; "
            "dissolve it or pass dst_spec=")
    xs, ys, total = [], [], 0
    for r in rows:
        for poly in _wkb.polygon_rings(bytes(r["geom"])):
            for ring in poly[:1]:  # envelope: exterior rings suffice
                total += len(ring)
                if total > _CUTLINE_MAX_VERTICES:
                    raise ValueError(
                        f"cutline exceeds {_CUTLINE_MAX_VERTICES} "
                        "vertices; simplify it or pass dst_spec=")
                tx, ty = _crs.transform_np(src_crs, dst.crs,
                                           ring[:, 0], ring[:, 1])
                xs.append(tx)
                ys.append(ty)
    if not xs:
        raise ValueError("empty cutline")
    ax = np.concatenate(xs)
    ay = np.concatenate(ys)
    px, py = dst.world_to_pixel(ax, ay)
    x0 = int(np.clip(np.floor(px.min()), 0, dst.width - 1))
    x1 = int(np.clip(np.ceil(px.max()), x0 + 1, dst.width))
    y0 = int(np.clip(np.floor(py.min()), 0, dst.height - 1))
    y1 = int(np.clip(np.ceil(py.max()), y0 + 1, dst.height))
    gt = dst.gt
    return G.GridSpec(x1 - x0, y1 - y0,
                      (gt[0] + x0 * gt[1], gt[1], gt[2],
                       gt[3] + y0 * gt[5], gt[4], gt[5]),
                      crs=dst.crs, tile=dst.tile)


def gdal_translate(spark: SparkSession, src_path: str, dst_path: str,
                   projwin: tuple[float, float, float, float] | None = None,
                   outsize: tuple[int, int] | None = None,
                   scale: tuple[float, float, float, float] | None = None,
                   resize_kernel: str = "bilinear",
                   dtype: str = "float64", compression: str = "deflate",
                   nodata: float | None = None,
                   band: int = 0) -> G.GridSpec:
    """`gdal_translate [-b band] [-projwin ulx uly lrx lry]
    [-outsize w h] [-scale src_min src_max dst_min dst_max] [-ot type]
    src dst`. Options apply in the reference's order: band selection,
    window, resize, rescale, then type conversion at write."""
    from .vrt import open_raster

    spec, tiles = open_raster(spark, src_path, band=band)
    if projwin is not None:
        ulx, uly, lrx, lry = projwin
        px0, py0 = spec.world_to_pixel(np.array([ulx]), np.array([uly]))
        px1, py1 = spec.world_to_pixel(np.array([lrx]), np.array([lry]))
        x0 = max(0, int(np.floor(px0[0])))
        y0 = max(0, int(np.floor(py0[0])))
        x1 = min(spec.width, int(np.ceil(px1[0])))
        y1 = min(spec.height, int(np.ceil(py1[0])))
        if x1 <= x0 or y1 <= y0:
            raise ValueError(f"-projwin {projwin} is outside the raster")
        tiles, spec = C.crop(tiles, spec, x0, y0, x1 - x0, y1 - y0)
    if outsize is not None:
        tiles, spec = C.resize(tiles, spec, outsize[0], outsize[1],
                               kernel=resize_kernel)
    if scale is not None:
        s0, s1, d0, d1 = (float(v) for v in scale)
        if s1 == s0:
            raise ValueError("-scale: src_min == src_max")
        a = (d1 - d0) / (s1 - s0)
        tiles = C.calc(tiles, lambda v: (v - F.lit(s0)) * F.lit(a)
                       + F.lit(d0))
    GT.write_geotiff(tiles, spec, dst_path, dtype=dtype,
                     compression=compression, nodata=nodata)
    return spec
