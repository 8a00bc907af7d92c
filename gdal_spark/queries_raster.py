"""Raster-surface queries for the driver gate: density rasters, the
tile pyramid, rasterize, warp, polygonize — each checksummed with the
reference's 16-bit image checksum (alg/gdalchecksum.cpp:48) so the
oracle comparison gates on EXACT pixel content, not just shapes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from .geo import mercator, wkb
from .queries import dsum_sql, register
from .raster import checksum as CK
from .raster import density as D
from .raster import grid as G
from .raster import polygonize as PZ
from .raster import rasterize as R
from .raster import tilewriter as TW
from .raster import warp as W
from .sources import admin, pages

# one shared base zoom for the density raster family
ZOOM, TILE = 5, 64            # 2048 x 2048 world grid, 32x32 tiles
N5 = (1 << ZOOM) * TILE

_PTS = f"SELECT doc_id, {pages.LON_SQL} AS lon, {pages.LAT_SQL} AS lat FROM documents"


def _px_cte(zoom: int, tile: int, mask: str | None = None) -> str:
    """pts+px CTEs; `mask` (a predicate over gx, gy) drops masked
    source pixels — masked-to-nodata(0) and absent are the same thing
    in the sparse relation, which is exactly the cutline semantics."""
    gx, gy = G.pixel_index_sql_3857(zoom, tile, "lon", "lat")
    having = f"\n       HAVING {mask}" if mask else ""
    return (f"pts AS ({_PTS}),\n"
            f"px AS (SELECT gx, gy, CAST(count(*) AS DOUBLE) AS v\n"
            f"       FROM (SELECT {gx} AS gx, {gy} AS gy FROM pts)\n"
            f"       GROUP BY gx, gy{having})")


def _tile_checksum_sql(width: int, tile: int) -> str:
    return f"""
    SELECT CAST(gy // {tile} AS INTEGER) AS tile_y,
           CAST(gx // {tile} AS INTEGER) AS tile_x,
           {CK.checksum_sql('v', 'gx', 'gy', width)} AS checksum,
           count(*) FILTER (WHERE v <> 0) AS n_nonzero
    FROM px GROUP BY tile_y, tile_x
    HAVING count(*) FILTER (WHERE v <> 0) > 0
    ORDER BY tile_y, tile_x
    """


def density_checksum(spark, sf_dir):
    """Page-density raster at z5 (the rasterized point layer of the
    north star), gated by per-tile GDAL checksums. Pixel assignment is
    pure JVM column math; only tile assembly runs in Arrow UDFs."""
    pts = pages.page_points(spark, sf_dir)
    spec = G.world_3857(ZOOM, TILE)
    tiles = D.density_tiles(pts, ZOOM, TILE)
    return (R.tiles_checksum(tiles, spec)
            .filter(F.col("n_nonzero") > 0)
            .orderBy("tile_y", "tile_x"))


def pyramid_checksum(spark, sf_dir):
    """Overview pyramid z5 -> z3 with the SUM kernel (counts stay
    counts). Oracle identity: sum-downsampling density == computing
    density on the coarser grid (exact floor-composition: the pixel
    fraction (lon+180)/360 is rounded ONCE, then scaled by exact
    powers of two at every zoom)."""
    pts = pages.page_points(spark, sf_dir)
    z3 = (TW.sum_pyramid(pts, ZOOM, 3, TILE).filter(F.col("zoom") == 3)
          .select("tile_y", "tile_x", "px"))
    spec = G.world_3857(3, TILE)
    return (R.tiles_checksum(z3, spec)
            .filter(F.col("n_nonzero") > 0)
            .orderBy("tile_y", "tile_x"))


@register(
    "raster_density_pyramid_checksum",
    oracle=f"""
    SELECT 5 AS zoom, tile_y, tile_x, checksum, n_nonzero FROM (
      WITH {_px_cte(ZOOM, TILE)}
      {_tile_checksum_sql(N5, TILE)})
    UNION ALL
    SELECT 3 AS zoom, tile_y, tile_x, checksum, n_nonzero FROM (
      WITH {_px_cte(3, TILE)}
      {_tile_checksum_sql((1 << 3) * TILE, TILE)})
    ORDER BY zoom, tile_y, tile_x
    """,
)
def density_pyramid_checksum(spark, sf_dir):
    """The density raster family, one gate (merged for the 50-entry
    window): zoom=5 the base page-density raster (rasterized point
    layer of the north star), zoom=3 the overview pyramid built from
    it with the SUM kernel — gated by per-tile GDAL checksums; the
    pyramid oracle is the exact floor-composition identity
    (sum-downsampling density == density on the coarser grid)."""
    z5 = density_checksum(spark, sf_dir).select(
        F.lit(5).alias("zoom"), "tile_y", "tile_x", "checksum", "n_nonzero")
    z3 = pyramid_checksum(spark, sf_dir).select(
        F.lit(3).alias("zoom"), "tile_y", "tile_x", "checksum", "n_nonzero")
    return z5.unionByName(z3).orderBy("zoom", "tile_y", "tile_x")


# ------------------------------------------------------------- rasterize

RAST_W, RAST_H, RAST_TILE = 360, 180, 45


def _rasterize_oracle() -> str:
    from .geo import geom

    terms = []
    for pid, _name, ring in admin.admin_rings():
        pred = geom.convex_halfplane_sql(ring, "cx", "cy")
        terms.append(f"(CASE WHEN {pred} THEN {pid + 1} ELSE 0 END)")
    burn = " + ".join(terms)
    return f"""
    WITH pxg AS (
      SELECT x, y, (-180.0 + (x + 0.5) * 1.0) AS cx, (90.0 - (y + 0.5) * 1.0) AS cy
      FROM (SELECT range AS x FROM range({RAST_W})), (SELECT range AS y FROM range({RAST_H}))
    ),
    px AS (SELECT x AS gx, y AS gy, CAST({burn} AS DOUBLE) AS v FROM pxg)
    {_tile_checksum_sql(RAST_W, RAST_TILE)}
    """


@register("raster_rasterize_checksum", oracle=_rasterize_oracle())
def rasterize_checksum(spark, sf_dir):
    """gdal_rasterize analog: burn the admin polygons (burn=poly_id+1,
    MERGE_ALG=ADD) into a 1-degree world grid; per-tile checksums.

    The oracle exploits the fill-rule equivalence proven in unit tests:
    scanline pixel-center fill == center-in-polygon == half-plane SQL
    for the convex fixture rings (llrasterize.cpp:41-45 rule)."""
    spec = G.world_4326(RAST_W, RAST_H, tile=RAST_TILE)
    rows = [(pid, float(pid + 1), bytearray(wkb.polygon([ring])))
            for pid, _n, ring in admin.admin_rings()]
    polys = spark.createDataFrame(rows, "fid long, burn double, geom binary")
    tiles = R.rasterize(polys, spec, merge="add")
    return (R.tiles_checksum(tiles, spec)
            .filter(F.col("n_nonzero") > 0)
            .orderBy("tile_y", "tile_x"))


# ------------------------------------------------------------------ warp

WARP_W, WARP_H, WARP_TILE = 1000, 500, 125


def _warp_oracle(mask: str | None = None) -> str:
    src_spec = G.world_3857(ZOOM, TILE)
    res_x = 360.0 / WARP_W
    res_y = 180.0 / WARP_H
    # EXACT mirror of warp.py numpy algebra:
    #   mx = cx * LON2M ; spx = (mx - gt0) / gt1 ; sgx = floor(spx)
    #   my = merc(cy)   ; spy = (my - gt3) / gt5 ; sgy = floor(spy)
    cx = f"(-180.0 + (x + 0.5) * {res_x!r})"
    cy = f"(90.0 - (y + 0.5) * {res_y!r})"
    mx = f"(({cx}) * {mercator.LON2M!r})"
    my = mercator.merc_y_sql(cy)
    spx = f"((({mx}) - ({src_spec.gt[0]!r})) / {src_spec.gt[1]!r})"
    spy = f"((({my}) - ({src_spec.gt[3]!r})) / ({src_spec.gt[5]!r}))"
    return f"""
    WITH {_px_cte(ZOOM, TILE, mask)},
    dst AS (
      SELECT x, y, CAST(floor({spx}) AS BIGINT) AS sgx,
                   CAST(floor({spy}) AS BIGINT) AS sgy
      FROM (SELECT range AS x FROM range({WARP_W})), (SELECT range AS y FROM range({WARP_H}))
    ),
    warped AS (
      SELECT d.x AS gx, d.y AS gy,
             CASE WHEN d.sgx BETWEEN 0 AND {N5 - 1} AND d.sgy BETWEEN 0 AND {N5 - 1}
                  THEN coalesce(p.v, 0.0) ELSE 0.0 END AS v
      FROM dst d LEFT JOIN px p ON p.gx = d.sgx AND p.gy = d.sgy
    ),
    px2 AS (SELECT gx, gy, v FROM warped)
    SELECT CAST(gy // {WARP_TILE} AS INTEGER) AS tile_y,
           CAST(gx // {WARP_TILE} AS INTEGER) AS tile_x,
           {CK.checksum_sql('v', 'gx', 'gy', WARP_W)} AS checksum,
           count(*) FILTER (WHERE v <> 0) AS n_nonzero
    FROM px2 GROUP BY tile_y, tile_x
    HAVING count(*) FILTER (WHERE v <> 0) > 0
    ORDER BY tile_y, tile_x
    """


def warp_checksum(spark, sf_dir):
    """gdalwarp analog: reproject the z5 density raster from
    EPSG:3857 to a 1000x500 EPSG:4326 grid with the NEAR kernel;
    per-tile checksums of the warped band."""
    pts = pages.page_points(spark, sf_dir)
    src_spec = G.world_3857(ZOOM, TILE)
    src_tiles = D.density_tiles(pts, ZOOM, TILE)
    dst_spec = G.world_4326(WARP_W, WARP_H, tile=WARP_TILE)
    out = W.warp(src_tiles, src_spec, dst_spec, kernel="near")
    return (R.tiles_checksum(out, dst_spec)
            .filter(F.col("n_nonzero") > 0)
            .orderBy("tile_y", "tile_x"))


CW_W, CW_H, CW_TILE = 500, 250, 125  # dst grid for cubic/average gates


def _warp_xform_sql():
    """Shared dst->src transform text (mirrors warp._dst_pos_in_src_px
    operand order exactly)."""
    src_spec = G.world_3857(ZOOM, TILE)
    res_x = 360.0 / CW_W
    res_y = 180.0 / CW_H

    def spx_of(cx: str) -> str:
        mx = f"(({cx}) * {mercator.LON2M!r})"
        return f"((({mx}) - ({src_spec.gt[0]!r})) / {src_spec.gt[1]!r})"

    def spy_of(cy: str) -> str:
        my = mercator.merc_y_sql(cy)
        return f"((({my}) - ({src_spec.gt[3]!r})) / ({src_spec.gt[5]!r}))"

    cx = f"(-180.0 + (x + 0.5) * {res_x!r})"
    cy = f"(90.0 - (y + 0.5) * {res_y!r})"
    return spx_of, spy_of, cx, cy, res_x, res_y


def _warp_cubic_oracle() -> str:
    spx_of, spy_of, cx, cy, _, _ = _warp_xform_sql()
    fx = f"({spx_of(cx)} - 0.5)"
    fy = f"({spy_of(cy)} - 0.5)"
    w0x, w1x, w2x, w3x = W.cubic_weight_sql("tx")
    w0y, w1y, w2y, w3y = W.cubic_weight_sql("ty")
    vcols = ",\n             ".join(
        f"coalesce(max(CASE WHEN p.gx = d.x0 + {i - 1} AND p.gy = d.y0 + {j - 1} "
        f"THEN p.v END), 0.0) AS v{j}{i}"
        for j in range(4) for i in range(4))
    row = lambda j: (f"(((v{j}0 * wx0 + v{j}1 * wx1) + v{j}2 * wx2) + v{j}3 * wx3)")
    acc = (f"((({row(0)}) * wy0 + ({row(1)}) * wy1) "
           f"+ ({row(2)}) * wy2) + ({row(3)}) * wy3"
           )
    return f"""
    WITH {_px_cte(ZOOM, TILE)},
    dst AS (
      SELECT x, y,
             CAST(floor({fx}) AS BIGINT) AS x0,
             CAST(floor({fy}) AS BIGINT) AS y0,
             ({fx} - floor({fx})) AS tx,
             ({fy} - floor({fy})) AS ty
      FROM (SELECT range AS x FROM range({CW_W})), (SELECT range AS y FROM range({CW_H}))
    ),
    g AS (
      SELECT d.x, d.y, d.x0, d.y0, d.tx, d.ty,
             {vcols}
      FROM dst d LEFT JOIN px p
        ON p.gx BETWEEN d.x0 - 1 AND d.x0 + 2
       AND p.gy BETWEEN d.y0 - 1 AND d.y0 + 2
      GROUP BY d.x, d.y, d.x0, d.y0, d.tx, d.ty
    ),
    wgt AS (
      SELECT *, {w0x} AS wx0, {w1x} AS wx1, {w2x} AS wx2, {w3x} AS wx3,
                {w0y} AS wy0, {w1y} AS wy1, {w2y} AS wy2, {w3y} AS wy3
      FROM g
    ),
    warped AS (
      SELECT x AS gx, y AS gy,
             CASE WHEN x0 - 1 >= 0 AND x0 + 2 <= {N5 - 1}
                   AND y0 - 1 >= 0 AND y0 + 2 <= {N5 - 1}
                  THEN ({acc}) ELSE 0.0 END AS v
      FROM wgt
    )
    SELECT CAST(gy // {CW_TILE} AS INTEGER) AS tile_y,
           CAST(gx // {CW_TILE} AS INTEGER) AS tile_x,
           {CK.checksum_sql('v', 'gx', 'gy', CW_W)} AS checksum,
           count(*) FILTER (WHERE v <> 0) AS n_nonzero
    FROM warped GROUP BY tile_y, tile_x
    HAVING count(*) FILTER (WHERE v <> 0) > 0
    ORDER BY tile_y, tile_x
    """


def _warp_average_oracle(mask: str | None = None) -> str:
    spx_of, spy_of, cx, cy, res_x, res_y = _warp_xform_sql()
    # footprint edges: positions x -+ 0.5 have center-world at the
    # pixel's west/east edge ((gx - 0.5 + 0.5) * res == gx * res, exact)
    exW = spx_of(f"(-180.0 + x * {res_x!r})")
    exE = spx_of(f"(-180.0 + (x + 1) * {res_x!r})")
    eyN = spy_of(f"(90.0 - y * {res_y!r})")
    eyS = spy_of(f"(90.0 - (y + 1) * {res_y!r})")
    spx = spx_of(cx)
    spy = spy_of(cy)
    return f"""
    WITH {_px_cte(ZOOM, TILE, mask)},
    dst AS (
      SELECT x, y,
             CAST(ceil(least({exW}, {exE}) - 0.5) AS BIGINT) AS xlo0,
             CAST(ceil(greatest({exW}, {exE}) - 0.5) - 1 AS BIGINT) AS xhi0,
             CAST(ceil(least({eyN}, {eyS}) - 0.5) AS BIGINT) AS ylo0,
             CAST(ceil(greatest({eyN}, {eyS}) - 0.5) - 1 AS BIGINT) AS yhi0,
             CAST(floor({spx}) AS BIGINT) AS cx0,
             CAST(floor({spy}) AS BIGINT) AS cy0
      FROM (SELECT range AS x FROM range({CW_W})), (SELECT range AS y FROM range({CW_H}))
    ),
    boxes AS (
      SELECT x, y,
             greatest(CASE WHEN xhi0 < xlo0 THEN cx0 ELSE xlo0 END, 0) AS xlo,
             least(CASE WHEN xhi0 < xlo0 THEN cx0 ELSE xhi0 END, {N5 - 1}) AS xhi,
             greatest(CASE WHEN yhi0 < ylo0 THEN cy0 ELSE ylo0 END, 0) AS ylo,
             least(CASE WHEN yhi0 < ylo0 THEN cy0 ELSE yhi0 END, {N5 - 1}) AS yhi
      FROM dst
    ),
    summed AS (
      SELECT b.x, b.y, b.xlo, b.xhi, b.ylo, b.yhi,
             coalesce(sum(p.v), 0.0) AS ssum
      FROM boxes b LEFT JOIN px p
        ON p.gx BETWEEN b.xlo AND b.xhi AND p.gy BETWEEN b.ylo AND b.yhi
      GROUP BY b.x, b.y, b.xlo, b.xhi, b.ylo, b.yhi
    ),
    warped AS (
      SELECT x AS gx, y AS gy,
             CASE WHEN xlo <= xhi AND ylo <= yhi
                  THEN ssum / CAST((xhi - xlo + 1) * (yhi - ylo + 1) AS DOUBLE)
                  ELSE 0.0 END AS v
      FROM summed
    )
    SELECT CAST(gy // {CW_TILE} AS INTEGER) AS tile_y,
           CAST(gx // {CW_TILE} AS INTEGER) AS tile_x,
           {CK.checksum_sql('v', 'gx', 'gy', CW_W)} AS checksum,
           count(*) FILTER (WHERE v <> 0) AS n_nonzero
    FROM warped GROUP BY tile_y, tile_x
    HAVING count(*) FILTER (WHERE v <> 0) > 0
    ORDER BY tile_y, tile_x
    """


def _warp_kernel_query(spark, sf_dir, kernel: str, src_tiles=None):
    src_spec = G.world_3857(ZOOM, TILE)
    if src_tiles is None:
        pts = pages.page_points(spark, sf_dir)
        src_tiles = D.density_tiles(pts, ZOOM, TILE)
    dst_spec = G.world_4326(CW_W, CW_H, tile=CW_TILE)
    out = W.warp(src_tiles, src_spec, dst_spec, kernel=kernel)
    return (R.tiles_checksum(out, dst_spec)
            .filter(F.col("n_nonzero") > 0)
            .orderBy("tile_y", "tile_x"))


def warp_cubic_checksum(spark, sf_dir):
    """gdalwarp -r cubic (gdalwarper.h GRA_Cubic, a = -0.5 cubic
    convolution): z5 density 3857 -> 4326, per-tile checksums. The
    oracle mirrors the 16-term fixed-association float expression, so
    the checksum comparison is bit-exact."""
    return _warp_kernel_query(spark, sf_dir, "cubic")


def warp_average_checksum(spark, sf_dir):
    """gdalwarp -r average (GRA_Average): mean of source pixels in the
    dst pixel's source-space footprint (integer-valued band -> exact
    integer box sums on both engines; empty footprints degrade to the
    center pixel, GDAL-style)."""
    return _warp_kernel_query(spark, sf_dir, "average")


def _warp_lanczos_oracle() -> str:
    """6x6 lanczos with the poly-sin weights of warp.lanczos_weight_sql
    — every float op mirrors the numpy kernel's operand order, so the
    checksum comparison is bit-exact."""
    spx_of, spy_of, cx, cy, _, _ = _warp_xform_sql()
    fx = f"({spx_of(cx)} - 0.5)"
    fy = f"({spy_of(cy)} - 0.5)"
    wxs = W.lanczos_weight_sql("tx")
    wys = W.lanczos_weight_sql("ty")
    vcols = ",\n             ".join(
        f"coalesce(max(CASE WHEN p.gx = d.x0 + {i - 2} AND p.gy = d.y0 + {j - 2} "
        f"THEN p.v END), 0.0) AS v{j}{i}"
        for j in range(6) for i in range(6))
    # in-raster tap zeroing (GWKResample clamps + renormalizes)
    wx_eff = ", ".join(
        f"CASE WHEN x0 + {i - 2} BETWEEN 0 AND {N5 - 1} "
        f"THEN {wxs[i]} ELSE 0.0 END AS wx{i}" for i in range(6))
    wy_eff = ", ".join(
        f"CASE WHEN y0 + {j - 2} BETWEEN 0 AND {N5 - 1} "
        f"THEN {wys[j]} ELSE 0.0 END AS wy{j}" for j in range(6))

    def lrow(j: int) -> str:
        acc = f"v{j}0 * wx0"
        for i in range(1, 6):
            acc = f"({acc} + v{j}{i} * wx{i})"
        return acc

    num = f"({lrow(0)}) * wy0"
    for j in range(1, 6):
        num = f"({num} + ({lrow(j)}) * wy{j})"
    sx = "wx0"
    sy = "wy0"
    for i in range(1, 6):
        sx = f"({sx} + wx{i})"
        sy = f"({sy} + wy{i})"
    return f"""
    WITH {_px_cte(ZOOM, TILE)},
    dst AS (
      SELECT x, y,
             CAST(floor({fx}) AS BIGINT) AS x0,
             CAST(floor({fy}) AS BIGINT) AS y0,
             ({fx} - floor({fx})) AS tx,
             ({fy} - floor({fy})) AS ty
      FROM (SELECT range AS x FROM range({CW_W})), (SELECT range AS y FROM range({CW_H}))
    ),
    g AS (
      SELECT d.x, d.y, d.x0, d.y0, d.tx, d.ty,
             {vcols}
      FROM dst d LEFT JOIN px p
        ON p.gx BETWEEN d.x0 - 2 AND d.x0 + 3
       AND p.gy BETWEEN d.y0 - 2 AND d.y0 + 3
      GROUP BY d.x, d.y, d.x0, d.y0, d.tx, d.ty
    ),
    wgt AS (SELECT *, {wx_eff}, {wy_eff} FROM g),
    warped AS (
      SELECT x AS gx, y AS gy,
             CASE WHEN ({sx}) * ({sy}) <> 0.0
                  THEN ({num}) / (({sx}) * ({sy})) ELSE 0.0 END AS v
      FROM wgt
    )
    SELECT CAST(gy // {CW_TILE} AS INTEGER) AS tile_y,
           CAST(gx // {CW_TILE} AS INTEGER) AS tile_x,
           {CK.checksum_sql('v', 'gx', 'gy', CW_W)} AS checksum,
           count(*) FILTER (WHERE v <> 0) AS n_nonzero
    FROM warped GROUP BY tile_y, tile_x
    HAVING count(*) FILTER (WHERE v <> 0) > 0
    ORDER BY tile_y, tile_x
    """


def _warp_mode_oracle() -> str:
    """Mode is VALUE SELECTION over the same footprint box as average
    (gdalwarpkernel.cpp GWKAverageOrMode) with ties to the smallest
    value (GWKTS_Min) — always exactly oracle-able. Implicit zeros
    (absent sparse-relation pixels) are counted as box_area - matches."""
    spx_of, spy_of, cx, cy, res_x, res_y = _warp_xform_sql()
    exW = spx_of(f"(-180.0 + x * {res_x!r})")
    exE = spx_of(f"(-180.0 + (x + 1) * {res_x!r})")
    eyN = spy_of(f"(90.0 - y * {res_y!r})")
    eyS = spy_of(f"(90.0 - (y + 1) * {res_y!r})")
    spx = spx_of(cx)
    spy = spy_of(cy)
    return f"""
    WITH {_px_cte(ZOOM, TILE)},
    dst AS (
      SELECT x, y,
             CAST(ceil(least({exW}, {exE}) - 0.5) AS BIGINT) AS xlo0,
             CAST(ceil(greatest({exW}, {exE}) - 0.5) - 1 AS BIGINT) AS xhi0,
             CAST(ceil(least({eyN}, {eyS}) - 0.5) AS BIGINT) AS ylo0,
             CAST(ceil(greatest({eyN}, {eyS}) - 0.5) - 1 AS BIGINT) AS yhi0,
             CAST(floor({spx}) AS BIGINT) AS cx0,
             CAST(floor({spy}) AS BIGINT) AS cy0
      FROM (SELECT range AS x FROM range({CW_W})), (SELECT range AS y FROM range({CW_H}))
    ),
    boxes AS (
      SELECT x, y,
             greatest(CASE WHEN xhi0 < xlo0 THEN cx0 ELSE xlo0 END, 0) AS xlo,
             least(CASE WHEN xhi0 < xlo0 THEN cx0 ELSE xhi0 END, {N5 - 1}) AS xhi,
             greatest(CASE WHEN yhi0 < ylo0 THEN cy0 ELSE ylo0 END, 0) AS ylo,
             least(CASE WHEN yhi0 < ylo0 THEN cy0 ELSE yhi0 END, {N5 - 1}) AS yhi
      FROM dst
    ),
    counts AS (
      SELECT b.x, b.y, p.v, count(*) AS c
      FROM boxes b JOIN px p
        ON p.gx BETWEEN b.xlo AND b.xhi AND p.gy BETWEEN b.ylo AND b.yhi
      GROUP BY b.x, b.y, p.v
    ),
    tot AS (SELECT x, y, sum(c) AS tc FROM counts GROUP BY x, y),
    withzero AS (
      SELECT x, y, v, c FROM counts
      UNION ALL
      SELECT b.x, b.y, 0.0 AS v, b.area - coalesce(t.tc, 0) AS c
      FROM (SELECT x, y, (xhi - xlo + 1) * (yhi - ylo + 1) AS area
            FROM boxes WHERE xlo <= xhi AND ylo <= yhi) b
      LEFT JOIN tot t ON t.x = b.x AND t.y = b.y
      WHERE b.area > coalesce(t.tc, 0)
    ),
    best AS (
      SELECT x, y, v FROM (
        SELECT x, y, v,
               row_number() OVER (PARTITION BY x, y
                                  ORDER BY c DESC, v ASC) AS rn
        FROM withzero) WHERE rn = 1
    ),
    warped AS (
      SELECT b.x AS gx, b.y AS gy,
             CASE WHEN b.xlo <= b.xhi AND b.ylo <= b.yhi
                  THEN coalesce(m.v, 0.0) ELSE 0.0 END AS v
      FROM boxes b LEFT JOIN best m ON m.x = b.x AND m.y = b.y
    )
    SELECT CAST(gy // {CW_TILE} AS INTEGER) AS tile_y,
           CAST(gx // {CW_TILE} AS INTEGER) AS tile_x,
           {CK.checksum_sql('v', 'gx', 'gy', CW_W)} AS checksum,
           count(*) FILTER (WHERE v <> 0) AS n_nonzero
    FROM warped GROUP BY tile_y, tile_x
    HAVING count(*) FILTER (WHERE v <> 0) > 0
    ORDER BY tile_y, tile_x
    """


def _warp_box_ctes() -> str:
    """Shared `dst` + `boxes` CTE text: the center-rule source-space
    footprint box of GWKAverageOrModeThread, identical float ops to
    the numpy kernel (and to the average/mode oracles above)."""
    spx_of, spy_of, cx, cy, res_x, res_y = _warp_xform_sql()
    exW = spx_of(f"(-180.0 + x * {res_x!r})")
    exE = spx_of(f"(-180.0 + (x + 1) * {res_x!r})")
    eyN = spy_of(f"(90.0 - y * {res_y!r})")
    eyS = spy_of(f"(90.0 - (y + 1) * {res_y!r})")
    spx = spx_of(cx)
    spy = spy_of(cy)
    return f"""
    dst AS (
      SELECT x, y,
             CAST(ceil(least({exW}, {exE}) - 0.5) AS BIGINT) AS xlo0,
             CAST(ceil(greatest({exW}, {exE}) - 0.5) - 1 AS BIGINT) AS xhi0,
             CAST(ceil(least({eyN}, {eyS}) - 0.5) AS BIGINT) AS ylo0,
             CAST(ceil(greatest({eyN}, {eyS}) - 0.5) - 1 AS BIGINT) AS yhi0,
             CAST(floor({spx}) AS BIGINT) AS cx0,
             CAST(floor({spy}) AS BIGINT) AS cy0
      FROM (SELECT range AS x FROM range({CW_W})), (SELECT range AS y FROM range({CW_H}))
    ),
    boxes AS (
      SELECT x, y,
             greatest(CASE WHEN xhi0 < xlo0 THEN cx0 ELSE xlo0 END, 0) AS xlo,
             least(CASE WHEN xhi0 < xlo0 THEN cx0 ELSE xhi0 END, {N5 - 1}) AS xhi,
             greatest(CASE WHEN yhi0 < ylo0 THEN cy0 ELSE ylo0 END, 0) AS ylo,
             least(CASE WHEN yhi0 < ylo0 THEN cy0 ELSE yhi0 END, {N5 - 1}) AS yhi
      FROM dst
    )"""


def _warp_checksum_tail() -> str:
    return f"""
    SELECT CAST(gy // {CW_TILE} AS INTEGER) AS tile_y,
           CAST(gx // {CW_TILE} AS INTEGER) AS tile_x,
           {CK.checksum_sql('v', 'gx', 'gy', CW_W)} AS checksum,
           count(*) FILTER (WHERE v <> 0) AS n_nonzero
    FROM warped GROUP BY tile_y, tile_x
    HAVING count(*) FILTER (WHERE v <> 0) > 0
    ORDER BY tile_y, tile_x
    """


def _warp_minmax_oracle(fn: str) -> str:
    """GRA_Min / GRA_Max: exact value selection over the footprint
    box. Implicit zeros (absent sparse pixels) participate whenever
    the box is not fully covered by present pixels."""
    agg = {"min": "min", "max": "max"}[fn]
    pick = {"min": "least", "max": "greatest"}[fn]
    return f"""
    WITH {_px_cte(ZOOM, TILE)},
    {_warp_box_ctes()},
    summed AS (
      SELECT b.x, b.y, b.xlo, b.xhi, b.ylo, b.yhi,
             {agg}(p.v) AS vpres, count(p.v) AS npres
      FROM boxes b LEFT JOIN px p
        ON p.gx BETWEEN b.xlo AND b.xhi AND p.gy BETWEEN b.ylo AND b.yhi
      GROUP BY b.x, b.y, b.xlo, b.xhi, b.ylo, b.yhi
    ),
    warped AS (
      SELECT x AS gx, y AS gy,
             CASE WHEN xlo <= xhi AND ylo <= yhi THEN
               CASE WHEN npres < (xhi - xlo + 1) * (yhi - ylo + 1)
                    THEN {pick}(coalesce(vpres, 0.0), 0.0)
                    ELSE vpres END
             ELSE 0.0 END AS v
      FROM summed
    )
    {_warp_checksum_tail()}"""


def _warp_quant_oracle(q: float) -> str:
    """GRA_Med / GRA_Q1 / GRA_Q3: sort the footprint multiset, take
    index ceil(q*n - 1) (gdalwarpkernel.cpp:8340). Implicit zeros
    sort before the (positive) present values, so the selection is
    `0` when the index lands in the zero prefix, else the
    (idx - zeros)-th present value."""
    return f"""
    WITH {_px_cte(ZOOM, TILE)},
    {_warp_box_ctes()},
    summed AS (
      SELECT b.x, b.y, b.xlo, b.xhi, b.ylo, b.yhi,
             list(p.v ORDER BY p.v) FILTER (WHERE p.v IS NOT NULL) AS vals,
             count(p.v) AS npres
      FROM boxes b LEFT JOIN px p
        ON p.gx BETWEEN b.xlo AND b.xhi AND p.gy BETWEEN b.ylo AND b.yhi
      GROUP BY b.x, b.y, b.xlo, b.xhi, b.ylo, b.yhi
    ),
    idxed AS (
      SELECT x, y, xlo, xhi, ylo, yhi, vals, npres,
             (xhi - xlo + 1) * (yhi - ylo + 1) AS boxn,
             greatest(CAST(ceil({q!r} * ((xhi - xlo + 1) * (yhi - ylo + 1)) - 1)
                           AS BIGINT), 0) AS idx
      FROM summed
    ),
    warped AS (
      SELECT x AS gx, y AS gy,
             CASE WHEN xlo <= xhi AND ylo <= yhi THEN
               CASE WHEN idx < boxn - npres THEN 0.0
                    ELSE vals[CAST(idx - (boxn - npres) + 1 AS BIGINT)] END
             ELSE 0.0 END AS v
      FROM idxed
    )
    {_warp_checksum_tail()}"""


def _warp_rms_oracle() -> str:
    """GRA_RMS: sqrt(sum(v^2)/n) over the footprint box — squares and
    sums exact for the integer-valued band, division and sqrt IEEE
    correctly-rounded on both engines."""
    return f"""
    WITH {_px_cte(ZOOM, TILE)},
    {_warp_box_ctes()},
    summed AS (
      SELECT b.x, b.y, b.xlo, b.xhi, b.ylo, b.yhi,
             coalesce(sum(p.v * p.v), 0.0) AS ssq
      FROM boxes b LEFT JOIN px p
        ON p.gx BETWEEN b.xlo AND b.xhi AND p.gy BETWEEN b.ylo AND b.yhi
      GROUP BY b.x, b.y, b.xlo, b.xhi, b.ylo, b.yhi
    ),
    warped AS (
      SELECT x AS gx, y AS gy,
             CASE WHEN xlo <= xhi AND ylo <= yhi
                  THEN sqrt(ssq / CAST((xhi - xlo + 1) * (yhi - ylo + 1)
                                       AS DOUBLE))
                  ELSE 0.0 END AS v
      FROM summed
    )
    {_warp_checksum_tail()}"""


def _warp_sum_oracle() -> str:
    """GRA_Sum (GWKSumPreserving): fractional-overlap-weighted scatter.
    Terms fold in (gy, gx) order with left-associated adds — the exact
    accumulation order of the numpy kernel's row-major loop (absent
    pixels contribute exact 0.0 and are skipped on both sides)."""
    spx_of, spy_of, cx, cy, res_x, res_y = _warp_xform_sql()
    exW = spx_of(f"(-180.0 + x * {res_x!r})")
    exE = spx_of(f"(-180.0 + (x + 1) * {res_x!r})")
    eyN = spy_of(f"(90.0 - y * {res_y!r})")
    eyS = spy_of(f"(90.0 - (y + 1) * {res_y!r})")
    term = ("((p.v * (least(b.exhi, CAST(p.gx AS DOUBLE) + 1.0)"
            " - greatest(b.exlo, CAST(p.gx AS DOUBLE))))"
            " * (least(b.eyhi, CAST(p.gy AS DOUBLE) + 1.0)"
            " - greatest(b.eylo, CAST(p.gy AS DOUBLE))))")
    return f"""
    WITH {_px_cte(ZOOM, TILE)},
    dst AS (
      SELECT x, y,
             least({exW}, {exE}) AS exlo, greatest({exW}, {exE}) AS exhi,
             least({eyN}, {eyS}) AS eylo, greatest({eyN}, {eyS}) AS eyhi
      FROM (SELECT range AS x FROM range({CW_W})), (SELECT range AS y FROM range({CW_H}))
    ),
    fboxes AS (
      SELECT x, y, exlo, exhi, eylo, eyhi,
             greatest(CAST(floor(exlo) AS BIGINT), 0) AS sxlo,
             least(CAST(ceil(exhi) AS BIGINT) - 1, {N5 - 1}) AS sxhi,
             greatest(CAST(floor(eylo) AS BIGINT), 0) AS sylo,
             least(CAST(ceil(eyhi) AS BIGINT) - 1, {N5 - 1}) AS syhi
      FROM dst
    ),
    summed AS (
      SELECT b.x, b.y,
             list({term} ORDER BY p.gy, p.gx)
               FILTER (WHERE p.v IS NOT NULL) AS terms
      FROM fboxes b LEFT JOIN px p
        ON p.gx BETWEEN b.sxlo AND b.sxhi AND p.gy BETWEEN b.sylo AND b.syhi
      GROUP BY b.x, b.y
    ),
    warped AS (
      SELECT x AS gx, y AS gy,
             CASE WHEN terms IS NOT NULL AND len(terms) > 0
                  THEN list_reduce(terms, (a, b) -> a + b)
                  ELSE 0.0 END AS v
      FROM summed
    )
    {_warp_checksum_tail()}"""


def _warp_cubicspline_oracle() -> str:
    """4x4 cubic B-spline (GWKBSpline) with out-of-raster tap zeroing
    + weight renormalization — every float op mirrors the numpy
    kernel's operand order, so the checksum comparison is bit-exact
    (the lanczos oracle pattern with 16 taps)."""
    spx_of, spy_of, cx, cy, _, _ = _warp_xform_sql()
    fx = f"({spx_of(cx)} - 0.5)"
    fy = f"({spy_of(cy)} - 0.5)"
    wxs = W.bspline_weight_sql("tx")
    wys = W.bspline_weight_sql("ty")
    vcols = ",\n             ".join(
        f"coalesce(max(CASE WHEN p.gx = d.x0 + {i - 1} AND p.gy = d.y0 + {j - 1} "
        f"THEN p.v END), 0.0) AS v{j}{i}"
        for j in range(4) for i in range(4))
    wx_eff = ", ".join(
        f"CASE WHEN x0 + {i - 1} BETWEEN 0 AND {N5 - 1} "
        f"THEN {wxs[i]} ELSE 0.0 END AS wx{i}" for i in range(4))
    wy_eff = ", ".join(
        f"CASE WHEN y0 + {j - 1} BETWEEN 0 AND {N5 - 1} "
        f"THEN {wys[j]} ELSE 0.0 END AS wy{j}" for j in range(4))

    def srow(j: int) -> str:
        acc = f"v{j}0 * wx0"
        for i in range(1, 4):
            acc = f"({acc} + v{j}{i} * wx{i})"
        return acc

    num = f"({srow(0)}) * wy0"
    for j in range(1, 4):
        num = f"({num} + ({srow(j)}) * wy{j})"
    sx = "wx0"
    sy = "wy0"
    for i in range(1, 4):
        sx = f"({sx} + wx{i})"
        sy = f"({sy} + wy{i})"
    return f"""
    WITH {_px_cte(ZOOM, TILE)},
    dst AS (
      SELECT x, y,
             CAST(floor({fx}) AS BIGINT) AS x0,
             CAST(floor({fy}) AS BIGINT) AS y0,
             ({fx} - floor({fx})) AS tx,
             ({fy} - floor({fy})) AS ty
      FROM (SELECT range AS x FROM range({CW_W})), (SELECT range AS y FROM range({CW_H}))
    ),
    g AS (
      SELECT d.x, d.y, d.x0, d.y0, d.tx, d.ty,
             {vcols}
      FROM dst d LEFT JOIN px p
        ON p.gx BETWEEN d.x0 - 1 AND d.x0 + 2
       AND p.gy BETWEEN d.y0 - 1 AND d.y0 + 2
      GROUP BY d.x, d.y, d.x0, d.y0, d.tx, d.ty
    ),
    wgt AS (SELECT *, {wx_eff}, {wy_eff} FROM g),
    warped AS (
      SELECT x AS gx, y AS gy,
             CASE WHEN ({sx}) * ({sy}) <> 0.0
                  THEN ({num}) / (({sx}) * ({sy})) ELSE 0.0 END AS v
      FROM wgt
    )
    {_warp_checksum_tail()}"""


# LCC warp gate grid (EPSG:3978, Canada Atlas Lambert): irrational-ish
# origin/resolution so no dst pixel center routes near a source pixel
# boundary — the oracle's transcendentals (atan2/pow/sin) may differ
# from numpy's libm by ulps, and the floor() routing must absorb that
# (margin audited in tests/test_crs.py::test_lcc_gate_routing_margin).
LCC_W, LCC_H, LCC_TILE = 512, 384, 128
LCC_GT = (-2600137.123456789, 11132.987654321, 0.0,
          4000271.23456789, 0.0, -11133.3456789)


def _warp_lcc_oracle() -> str:
    from .geo import crs as _crs

    p = _crs.LCC_REGISTRY["3978"]
    src = G.world_3857(ZOOM, TILE)
    aF = p.a * p.F
    E = f"({LCC_GT[0]!r} + (x + 0.5) * {LCC_GT[1]!r})"
    N = f"({LCC_GT[3]!r} + (y + 0.5) * ({LCC_GT[5]!r}))"
    iters = "".join(
        f""",
    p{k + 1} AS (SELECT x, y, tp, th,
                (pi() / 2.0 - 2.0 * atan(tp * pow((1.0 - {p.e!r} * sin(phi))
                 / (1.0 + {p.e!r} * sin(phi)), {p.e / 2.0!r}))) AS phi
         FROM p{k})""" for k in range(8))
    ppx = f"(lon * {mercator.LON2M!r})"
    ppy = mercator.merc_y_sql("lat")
    spx = f"((({ppx}) - ({src.gt[0]!r})) / {src.gt[1]!r})"
    spy = f"((({ppy}) - ({src.gt[3]!r})) / ({src.gt[5]!r}))"
    return f"""
    WITH {_px_cte(ZOOM, TILE)},
    dst0 AS (
      SELECT x, y, ({E} - {p.e0!r}) AS dx,
             ({p.rho0!r} - ({N} - {p.n0!r})) AS dy
      FROM (SELECT range AS x FROM range({LCC_W})),
           (SELECT range AS y FROM range({LCC_H}))),
    i1 AS (SELECT x, y,
                  pow(sqrt(dx * dx + dy * dy) / {aF!r}, {1.0 / p.n!r}) AS tp,
                  atan2(dx, dy) AS th
           FROM dst0),
    p0 AS (SELECT x, y, tp, th,
                  (pi() / 2.0 - 2.0 * atan(tp)) AS phi FROM i1){iters},
    ll0 AS (SELECT x, y, (degrees(th / {p.n!r}) + {p.lon0!r}) AS lon_u,
                   degrees(phi) AS lat FROM p8),
    ll AS (SELECT x, y,
                  (lon_u - 360.0 * floor((lon_u + 180.0) / 360.0)) AS lon,
                  lat FROM ll0),
    sp AS (SELECT x, y, CAST(floor({spx}) AS BIGINT) AS sgx,
                  CAST(floor({spy}) AS BIGINT) AS sgy FROM ll),
    warped AS (
      SELECT s.x AS gx, s.y AS gy,
             CASE WHEN s.sgx BETWEEN 0 AND {N5 - 1}
                   AND s.sgy BETWEEN 0 AND {N5 - 1}
                  THEN coalesce(p.v, 0.0) ELSE 0.0 END AS v
      FROM sp s LEFT JOIN px p ON p.gx = s.sgx AND p.gy = s.sgy
    )
    SELECT CAST(gy // {LCC_TILE} AS INTEGER) AS tile_y,
           CAST(gx // {LCC_TILE} AS INTEGER) AS tile_x,
           {CK.checksum_sql('v', 'gx', 'gy', LCC_W)} AS checksum,
           count(*) FILTER (WHERE v <> 0) AS n_nonzero
    FROM warped GROUP BY tile_y, tile_x
    HAVING count(*) FILTER (WHERE v <> 0) > 0
    ORDER BY tile_y, tile_x
    """


# Polar-stereographic gate grid (EPSG:3413, NSIDC North): same
# irrational-origin discipline as the LCC gate; covers the 55N..80N
# annulus where the density raster has data (docs span |lat| < 80).
PS_W, PS_H, PS_TILE = 512, 512, 128
PS_GT = (-3909826.3707972607, 15271.234567891, 0.0,
         3894937.213278253, 0.0, -15272.345678912)


def _warp_pstereo_oracle() -> str:
    from .geo import crs as _crs

    p = _crs.PSTEREO_REGISTRY["3413"]
    src = G.world_3857(ZOOM, TILE)
    E = f"({PS_GT[0]!r} + (x + 0.5) * {PS_GT[1]!r})"
    N = f"({PS_GT[3]!r} + (y + 0.5) * ({PS_GT[5]!r}))"
    iters = "".join(
        f""",
    p{k + 1} AS (SELECT x, y, tp, th,
                (pi() / 2.0 - 2.0 * atan(tp * pow((1.0 - {p.e!r} * sin(phi))
                 / (1.0 + {p.e!r} * sin(phi)), {p.e / 2.0!r}))) AS phi
         FROM p{k})""" for k in range(8))
    ppx = f"(lon * {mercator.LON2M!r})"
    ppy = mercator.merc_y_sql("lat")
    spx = f"((({ppx}) - ({src.gt[0]!r})) / {src.gt[1]!r})"
    spy = f"((({ppy}) - ({src.gt[3]!r})) / ({src.gt[5]!r}))"
    return f"""
    WITH {_px_cte(ZOOM, TILE)},
    dst0 AS (
      SELECT x, y, {E} AS dx, {N} AS dy
      FROM (SELECT range AS x FROM range({PS_W})),
           (SELECT range AS y FROM range({PS_H}))),
    i1 AS (SELECT x, y,
                  (sqrt(dx * dx + dy * dy) / {p.rho_c!r}) AS tp,
                  atan2(dx, -dy) AS th
           FROM dst0),
    p0 AS (SELECT x, y, tp, th,
                  (pi() / 2.0 - 2.0 * atan(tp)) AS phi FROM i1){iters},
    ll0 AS (SELECT x, y, (degrees(th) + {p.lon0!r}) AS lon_u,
                   degrees(phi) AS lat FROM p8),
    ll AS (SELECT x, y,
                  (lon_u - 360.0 * floor((lon_u + 180.0) / 360.0)) AS lon,
                  lat FROM ll0),
    sp AS (SELECT x, y, CAST(floor({spx}) AS BIGINT) AS sgx,
                  CAST(floor({spy}) AS BIGINT) AS sgy FROM ll),
    warped AS (
      SELECT s.x AS gx, s.y AS gy,
             CASE WHEN s.sgx BETWEEN 0 AND {N5 - 1}
                   AND s.sgy BETWEEN 0 AND {N5 - 1}
                  THEN coalesce(p.v, 0.0) ELSE 0.0 END AS v
      FROM sp s LEFT JOIN px p ON p.gx = s.sgx AND p.gy = s.sgy
    )
    SELECT CAST(gy // {PS_TILE} AS INTEGER) AS tile_y,
           CAST(gx // {PS_TILE} AS INTEGER) AS tile_x,
           {CK.checksum_sql('v', 'gx', 'gy', PS_W)} AS checksum,
           count(*) FILTER (WHERE v <> 0) AS n_nonzero
    FROM warped GROUP BY tile_y, tile_x
    HAVING count(*) FILTER (WHERE v <> 0) > 0
    ORDER BY tile_y, tile_x
    """


# Albers gate grid (EPSG:5070, NAD83 Conus Albers): CONUS coverage
# (lon -128..-65, lat 23..52), irrational-ish origin, margin-audited.
ALB_W, ALB_H, ALB_TILE = 512, 512, 128
ALB_GT = (-2358279.9155326947, 9027.345678912, 0.0,
          3180147.6753004473, 0.0, -5703.456789123)


def _warp_albers_oracle() -> str:
    from .geo import crs as _crs

    p = _crs.ALBERS_REGISTRY["5070"]
    src = G.world_3857(ZOOM, TILE)
    e, e2 = p.e, p.e2
    E = f"({ALB_GT[0]!r} + (x + 0.5) * {ALB_GT[1]!r})"
    N = f"({ALB_GT[3]!r} + (y + 0.5) * ({ALB_GT[5]!r}))"
    # Snyder 3-16 Newton step, 10 fixed iterations; every operand
    # order mirrors _Albers.inverse verbatim (s computed once per
    # iteration in its own CTE stage, like numpy's local variable)
    step = (f"phi + ((1.0 - {e2!r} * s * s) * (1.0 - {e2!r} * s * s)"
            f" / (2.0 * cos(phi))"
            f" * (qv / {1.0 - e2!r} - s / (1.0 - {e2!r} * s * s)"
            f" + {1.0 / (2.0 * e)!r}"
            f" * ln((1.0 - {e!r} * s) / (1.0 + {e!r} * s))))")
    iters = "".join(
        f""",
    a{k} AS (SELECT x, y, qv, th, phi, sin(phi) AS s FROM p{k}),
    p{k + 1} AS (SELECT x, y, qv, th, {step} AS phi FROM a{k})"""
        for k in range(10))
    ppx = f"(lon * {mercator.LON2M!r})"
    ppy = mercator.merc_y_sql("lat")
    spx = f"((({ppx}) - ({src.gt[0]!r})) / {src.gt[1]!r})"
    spy = f"((({ppy}) - ({src.gt[3]!r})) / ({src.gt[5]!r}))"
    return f"""
    WITH {_px_cte(ZOOM, TILE)},
    dst0 AS (
      SELECT x, y, ({E} - {p.e0!r}) AS dx,
             ({p.rho0!r} - ({N} - {p.n0!r})) AS dy
      FROM (SELECT range AS x FROM range({ALB_W})),
           (SELECT range AS y FROM range({ALB_H}))),
    i1 AS (SELECT x, y, sqrt(dx * dx + dy * dy) AS rho,
                  atan2(dx, dy) AS th
           FROM dst0),
    i2 AS (SELECT x, y, th,
                  (({p.C!r} - (rho * {p.n!r} / {p.a!r})
                    * (rho * {p.n!r} / {p.a!r})) / {p.n!r}) AS qv
           FROM i1),
    p0 AS (SELECT x, y, qv, th,
                  asin(CASE WHEN qv / {p.q_pole!r} > 1.0 THEN 1.0
                            WHEN qv / {p.q_pole!r} < -1.0 THEN -1.0
                            ELSE qv / {p.q_pole!r} END) AS phi
           FROM i2){iters},
    ll0 AS (SELECT x, y, (degrees(th / {p.n!r}) + {p.lon0!r}) AS lon_u,
                   degrees(phi) AS lat FROM p10),
    ll AS (SELECT x, y,
                  (lon_u - 360.0 * floor((lon_u + 180.0) / 360.0)) AS lon,
                  lat FROM ll0),
    sp AS (SELECT x, y, CAST(floor({spx}) AS BIGINT) AS sgx,
                  CAST(floor({spy}) AS BIGINT) AS sgy FROM ll),
    warped AS (
      SELECT s.x AS gx, s.y AS gy,
             CASE WHEN s.sgx BETWEEN 0 AND {N5 - 1}
                   AND s.sgy BETWEEN 0 AND {N5 - 1}
                  THEN coalesce(p.v, 0.0) ELSE 0.0 END AS v
      FROM sp s LEFT JOIN px p ON p.gx = s.sgx AND p.gy = s.sgy
    )
    SELECT CAST(gy // {ALB_TILE} AS INTEGER) AS tile_y,
           CAST(gx // {ALB_TILE} AS INTEGER) AS tile_x,
           {CK.checksum_sql('v', 'gx', 'gy', ALB_W)} AS checksum,
           count(*) FILTER (WHERE v <> 0) AS n_nonzero
    FROM warped GROUP BY tile_y, tile_x
    HAVING count(*) FILTER (WHERE v <> 0) > 0
    ORDER BY tile_y, tile_x
    """


# OSGB36 / British National Grid gate grid (EPSG:27700): covers the
# full National Grid square with the same irrational-origin margin
# discipline as the LCC/Albers/stereo grids.
TM_W, TM_H, TM_TILE = 512, 512, 128
# origin re-searched after the r5 Helmert datum step (the ~100 m shift
# moved one dst center to 4.6e-8 px of a source boundary); margin now
# 6.0e-6 px, re-audited by tests/test_crs.py::test_tm_gate_routing_margin
TM_GT = (-298518.57383676164, 2713.1415926535897, 0.0,
         1308045.859535753, 0.0, -2714.271828182846)


def _tm_datum_cte() -> str:
    """OSGB36 -> WGS84 Helmert step in SQL, mirroring
    crs._Helmert.to_wgs84 exactly: Airy geodetic -> ECEF, the
    position-vector matrix (9 literal constants from the very numpy
    matrix the engine applies), then the fixed ECEF_ITERS-pass
    latitude iteration on the WGS84 ellipsoid."""
    from .geo import crs as _crs

    d = _crs.DATUM_REGISTRY["27700"]
    m, t = d.m, d.t
    e2s = float(d.e2)
    e2w = float(_crs._E * _crs._E)

    def D(v):
        return f"CAST('{float(v)!r}' AS DOUBLE)"

    nu_w = (f"({D(_crs._A)} / sqrt(1.0 - {D(e2w)}"
            f" * sin(phi) * sin(phi)))")
    iters = "".join(
        f""",
    g{k + 1} AS (SELECT x, y, wx, wy, wz, pr,
        atan2(wz + {D(e2w)} * {nu_w} * sin(phi), pr) AS phi
      FROM g{k})""" for k in range(_crs.ECEF_ITERS))
    return f"""ec AS (
      SELECT x, y, nu * cp * cos(lam) AS vx, nu * cp * sin(lam) AS vy,
             nu * {D(1.0 - e2s)} * sp_ AS vz
      FROM (SELECT x, y, radians(lon) AS lam,
                   sin(radians(lat)) AS sp_, cos(radians(lat)) AS cp,
                   {D(d.a)} / sqrt(1.0 - {D(e2s)} * sin(radians(lat))
                                   * sin(radians(lat))) AS nu
            FROM ll)),
    hel AS (
      SELECT x, y,
        {D(m[0, 0])} * vx + {D(m[0, 1])} * vy + {D(m[0, 2])} * vz
          + {D(t[0])} AS wx,
        {D(m[1, 0])} * vx + {D(m[1, 1])} * vy + {D(m[1, 2])} * vz
          + {D(t[1])} AS wy,
        {D(m[2, 0])} * vx + {D(m[2, 1])} * vy + {D(m[2, 2])} * vz
          + {D(t[2])} AS wz
      FROM ec),
    g0 AS (
      SELECT x, y, wx, wy, wz, sqrt(wx * wx + wy * wy) AS pr,
             atan2(wz, sqrt(wx * wx + wy * wy) * {D(1.0 - e2w)}) AS phi
      FROM hel){iters},
    llw AS (SELECT x, y, degrees(atan2(wy, wx)) AS lon,
                   degrees(phi) AS lat
            FROM g{_crs.ECEF_ITERS})"""


def _warp_tm_oracle() -> str:
    """Karney inverse TM in SQL: the beta series then the 6-step tau'
    Newton inversion (crs.py _TM.inverse), hyperbolics via exp/ln
    (DuckDB has none built in; the <=1e-15 rel cross-form noise is
    absorbed by the gate grids' >= 1e-6 px routing margins), followed
    by the OSGB36 -> WGS84 Helmert datum step (_tm_datum_cte)."""
    from .geo import crs as _crs

    p = _crs.TM_REGISTRY["27700"]
    src = G.world_3857(ZOOM, TILE)
    kab = float(p.k0 * p.abar)
    e = float(p.e)
    e2 = float(e * e)
    tau0 = float(np.sqrt(1.0 - e * e))

    def D(v):
        return f"CAST('{float(v)!r}' AS DOUBLE)"

    def sinh(u):
        return f"((exp({u}) - exp(-({u}))) / 2.0)"

    def cosh(u):
        return f"((exp({u}) + exp(-({u}))) / 2.0)"

    def atanh(u):
        return f"(0.5 * ln((1.0 + ({u})) / (1.0 - ({u}))))"

    E = f"({D(TM_GT[0])} + (x + 0.5) * {D(TM_GT[1])})"
    N = f"({D(TM_GT[3])} + (y + 0.5) * ({D(TM_GT[5])}))"
    beta_terms_xi = " - ".join(
        f"{D(b)} * sin({2.0 * j} * xi) * {cosh(f'{2.0 * j} * eta')}"
        for j, b in enumerate(p.beta, start=1))
    beta_terms_eta = " - ".join(
        f"{D(b)} * cos({2.0 * j} * xi) * {sinh(f'{2.0 * j} * eta')}"
        for j, b in enumerate(p.beta, start=1))
    newton = "".join(f""",
    t{k + 1} AS (SELECT x, y, tau_p, lam,
        (tau + ((tau_p - (tau * sqrt(1.0 + sig * sig)
                          - sig * sqrt(1.0 + tau * tau)))
                * (1.0 + {D(1.0 - e2)} * tau * tau))
               / ({D(1.0 - e2)}
                  * sqrt((1.0 + (tau * sqrt(1.0 + sig * sig)
                                 - sig * sqrt(1.0 + tau * tau))
                              * (tau * sqrt(1.0 + sig * sig)
                                 - sig * sqrt(1.0 + tau * tau)))
                         * (1.0 + tau * tau)))) AS tau
      FROM (SELECT x, y, tau_p, lam, tau,
                   {sinh(f"{D(e)} * " + atanh(f"{D(e)} * tau / sqrt(1.0 + tau * tau)"))} AS sig
            FROM t{k}))""" for k in range(6))
    ppx = f"(lon * {D(mercator.LON2M)})"
    ppy = mercator.merc_y_sql("lat")
    spx = f"((({ppx}) - ({src.gt[0]!r})) / {src.gt[1]!r})"
    spy = f"((({ppy}) - ({src.gt[3]!r})) / ({src.gt[5]!r}))"
    return f"""
    WITH {_px_cte(ZOOM, TILE)},
    dst0 AS (
      SELECT x, y, (({N}) - {D(p.n0_eff)}) / {D(kab)} AS xi,
             (({E}) - {D(p.e0)}) / {D(kab)} AS eta
      FROM (SELECT range AS x FROM range({TM_W})),
           (SELECT range AS y FROM range({TM_H}))),
    ser AS (
      SELECT x, y, (xi - {beta_terms_xi}) AS xi_p,
             (eta - {beta_terms_eta}) AS eta_p
      FROM dst0),
    t0 AS (
      SELECT x, y,
             sin(xi_p) / sqrt({sinh("eta_p")} * {sinh("eta_p")}
                              + cos(xi_p) * cos(xi_p)) AS tau_p,
             atan2({sinh("eta_p")}, cos(xi_p)) AS lam,
             (sin(xi_p) / sqrt({sinh("eta_p")} * {sinh("eta_p")}
                               + cos(xi_p) * cos(xi_p))) / {D(tau0)} AS tau
      FROM ser){newton},
    ll AS (SELECT x, y, (degrees(lam) + {D(p.lon0)}) AS lon,
                  degrees(atan(tau)) AS lat FROM t6),
    {_tm_datum_cte()},
    sp AS (SELECT x, y, CAST(floor({spx}) AS BIGINT) AS sgx,
                  CAST(floor({spy}) AS BIGINT) AS sgy FROM llw),
    warped AS (
      SELECT s.x AS gx, s.y AS gy,
             CASE WHEN s.sgx BETWEEN 0 AND {N5 - 1}
                   AND s.sgy BETWEEN 0 AND {N5 - 1}
                  THEN coalesce(p.v, 0.0) ELSE 0.0 END AS v
      FROM sp s LEFT JOIN px p ON p.gx = s.sgx AND p.gy = s.sgy
    )
    SELECT CAST(gy // {TM_TILE} AS INTEGER) AS tile_y,
           CAST(gx // {TM_TILE} AS INTEGER) AS tile_x,
           {CK.checksum_sql('v', 'gx', 'gy', TM_W)} AS checksum,
           count(*) FILTER (WHERE v <> 0) AS n_nonzero
    FROM warped GROUP BY tile_y, tile_x
    HAVING count(*) FILTER (WHERE v <> 0) > 0
    ORDER BY tile_y, tile_x
    """


def _warp_crs_oracle() -> str:
    return (f"SELECT 'albers' AS crs, tile_y, tile_x, checksum, n_nonzero"
            f" FROM ({_warp_albers_oracle()})"
            f"\nUNION ALL\n"
            f"SELECT 'lcc' AS crs, tile_y, tile_x, checksum, n_nonzero"
            f" FROM ({_warp_lcc_oracle()})"
            f"\nUNION ALL\n"
            f"SELECT 'stereo' AS crs, tile_y, tile_x, checksum, n_nonzero"
            f" FROM ({_warp_pstereo_oracle()})"
            f"\nUNION ALL\n"
            f"SELECT 'tm' AS crs, tile_y, tile_x, checksum, n_nonzero"
            f" FROM ({_warp_tm_oracle()})"
            f"\nORDER BY crs, tile_y, tile_x")


@register("raster_warp_crs_checksum", oracle=_warp_crs_oracle())
def warp_crs_checksum(spark, sf_dir):
    """gdalwarp into non-cylindrical CRS families — one gate, three
    branches (the reference reaches all via PROJ, ogr/ogrct.cpp:2263;
    geo/crs.py implements the Snyder closed forms):

      albers — EPSG:5070, NAD83 Conus Albers (Equal-Area Conic 2SP;
               forward pinned to the Snyder PP 1395 worked example)
      lcc    — EPSG:3978, NAD83 Canada Atlas Lambert (Conformal
               Conic 2SP)
      stereo — EPSG:3413, NSIDC Sea Ice Polar Stereographic North
               (variant B; forward pinned to the EPSG GN7-2 worked
               example in tests/test_crs.py)

    The z5 density raster warped 3857 -> each CRS with the NEAR
    kernel, per-tile checksums. Each oracle runs the full projection
    inverse (fixed-count latitude iterations as sequential CTE
    stages) in DuckDB; NEAR is value selection, and every gate
    grid's routing margin to pixel boundaries (>= 1e-6 px,
    pytest-audited — ~100x the cross-libm transcendental noise)
    absorbs engine differences."""
    pts = pages.page_points(spark, sf_dir)
    src_spec = G.world_3857(ZOOM, TILE)
    # shared by the three CRS branches (no subplan sharing across
    # UNION branches otherwise — see warp_kernels_checksum)
    src_tiles = D.density_tiles(pts, ZOOM, TILE).persist()
    alb_spec = G.GridSpec(ALB_W, ALB_H, ALB_GT, crs="EPSG:5070",
                          tile=ALB_TILE)
    lcc_spec = G.GridSpec(LCC_W, LCC_H, LCC_GT, crs="EPSG:3978",
                          tile=LCC_TILE)
    ps_spec = G.GridSpec(PS_W, PS_H, PS_GT, crs="EPSG:3413",
                         tile=PS_TILE)
    tm_spec = G.GridSpec(TM_W, TM_H, TM_GT, crs="EPSG:27700",
                         tile=TM_TILE)
    out = None
    for tag, spec in (("albers", alb_spec), ("lcc", lcc_spec),
                      ("stereo", ps_spec), ("tm", tm_spec)):
        one = (R.tiles_checksum(
                   W.warp(src_tiles, src_spec, spec, kernel="near"), spec)
               .filter(F.col("n_nonzero") > 0)
               .select(F.lit(tag).alias("crs"), "tile_y", "tile_x",
                       "checksum", "n_nonzero"))
        out = one if out is None else out.unionByName(one)
    return out.orderBy("crs", "tile_y", "tile_x")


def _warp_kernels_oracle() -> str:
    named = [
        ("near", _warp_oracle()),
        ("cubic", _warp_cubic_oracle()),
        ("cubicspline", _warp_cubicspline_oracle()),
        ("average", _warp_average_oracle()),
        ("lanczos", _warp_lanczos_oracle()),
        ("mode", _warp_mode_oracle()),
        ("min", _warp_minmax_oracle("min")),
        ("max", _warp_minmax_oracle("max")),
        ("med", _warp_quant_oracle(0.5)),
        ("q1", _warp_quant_oracle(0.25)),
        ("q3", _warp_quant_oracle(0.75)),
        ("rms", _warp_rms_oracle()),
        ("sum", _warp_sum_oracle()),
    ]
    branches = [
        f"SELECT '{name}' AS kernel, tile_y, tile_x, checksum, n_nonzero"
        f" FROM ({sql})"
        for name, sql in named
    ]
    return ("\nUNION ALL\n".join(branches)
            + "\nORDER BY kernel, tile_y, tile_x")


@register("raster_warp_kernels_checksum", oracle=_warp_kernels_oracle())
def warp_kernels_checksum(spark, sf_dir):
    """gdalwarp resampling kernels — ALL 14 GRA_* of
    gdalwarper.h:35-67 (bilinear is gated separately in
    raster_density_pyramid queries) — one merged gate for the
    50-entry window: the z5 density raster reprojected EPSG:3857 ->
    EPSG:4326 with NEAR (1000x500 grid) plus CUBIC, CUBICSPLINE,
    AVERAGE, LANCZOS, MODE, MIN, MAX, MED, Q1, Q3, RMS and SUM
    (500x250 grid), each branch checksummed per tile against its
    bit-exact SQL oracle (cubic/cubicspline: fixed-association
    float sums; lanczos: 36-term poly-sin weights + renormalization;
    average: exact integer box sums; mode/min/max/med/q1/q3: value
    selection; rms: exact square sums + IEEE sqrt; sum: ordered
    left-fold of fractional-overlap terms via list_reduce)."""
    # one shared source raster for all 13 branches: the z5 density
    # aggregation over the points table is the expensive subtree, and
    # Spark does not share subplans across UNION branches — persist it
    # once instead of recomputing it per kernel
    pts = pages.page_points(spark, sf_dir)
    src_spec = G.world_3857(ZOOM, TILE)
    src_tiles = D.density_tiles(pts, ZOOM, TILE).persist()
    dst_near = G.world_4326(WARP_W, WARP_H, tile=WARP_TILE)
    near = (R.tiles_checksum(
                W.warp(src_tiles, src_spec, dst_near, kernel="near"),
                dst_near)
            .filter(F.col("n_nonzero") > 0)
            .select(F.lit("near").alias("kernel"), "tile_y", "tile_x",
                    "checksum", "n_nonzero"))
    out = near
    for k in ("cubic", "cubicspline", "average", "lanczos", "mode",
              "min", "max", "med", "q1", "q3", "rms", "sum"):
        one = _warp_kernel_query(spark, sf_dir, k,
                                 src_tiles=src_tiles).select(
            F.lit(k).alias("kernel"), "tile_y", "tile_x",
            "checksum", "n_nonzero")
        out = out.unionByName(one)
    return out.orderBy("kernel", "tile_y", "tile_x")


# -------------------------------------------------------------- cutline


def _cutline_rings() -> list[np.ndarray]:
    """Two convex cutline polygons in EPSG:3857 meters (the irrational-
    ish vertex scaling keeps every z5 pixel center off the edges, the
    same no-degeneracy discipline as the admin fixture)."""
    out = []
    for cx, cy, rx, ry, nv, rot in (
            (-6.2e6, 3.1e6, 7.3e6, 4.9e6, 7, 0.3737661773),
            (9.8e6, -2.7e6, 5.1e6, 6.2e6, 5, 1.2183272631)):
        ang = rot + 2.0 * np.pi * np.arange(nv) / nv
        ring = np.column_stack([cx + rx * np.cos(ang) * 0.9988776655443,
                                cy + ry * np.sin(ang) * 1.0011223344556])
        out.append(np.vstack([ring, ring[:1]]))
    return out


def _cutline_px_pred() -> str:
    """Cutline containment as half-plane SQL over SOURCE PIXEL CENTERS
    (gx + 0.5, gy + 0.5): the ring is transformed with the very
    world_to_pixel floats the engine's rasterize uses, so the oracle
    tests the same geometry in the same space; scanline fill ==
    center-in-polygon for convex rings (the rasterize gate's proven
    equivalence, llrasterize.cpp:41-45 rule)."""
    from .geo import geom

    spec = G.world_3857(ZOOM, TILE)
    preds = []
    for ring in _cutline_rings():
        px_, py_ = spec.world_to_pixel(ring[:, 0], ring[:, 1])
        rp = np.column_stack([px_, py_])
        # interior-on-left for the >= 0 half-plane rule
        if np.sum(rp[:-1, 0] * rp[1:, 1] - rp[1:, 0] * rp[:-1, 1]) < 0:
            rp = rp[::-1]
        preds.append(geom.convex_halfplane_sql(rp, "(gx + 0.5)",
                                               "(gy + 0.5)"))
    return "(" + " OR ".join(preds) + ")"


def _warp_cutline_oracle() -> str:
    pred = _cutline_px_pred()
    return (f"SELECT 'near' AS kernel, tile_y, tile_x, checksum,"
            f" n_nonzero FROM ({_warp_oracle(mask=pred)})"
            f"\nUNION ALL\n"
            f"SELECT 'average' AS kernel, tile_y, tile_x, checksum,"
            f" n_nonzero FROM ({_warp_average_oracle(mask=pred)})"
            f"\nORDER BY kernel, tile_y, tile_x")


@register("raster_warp_cutline_checksum", oracle=_warp_cutline_oracle())
def warp_cutline_checksum(spark, sf_dir):
    """gdalwarp -cutline (GDALWarpCutlineMasker, alg/gdalcutline.cpp:218;
    options apps/gdalwarp_lib.cpp:188-206): the z5 density raster
    masked by a two-polygon cutline on the SOURCE grid, then warped
    3857 -> 4326 with NEAR (1000x500) and AVERAGE (500x250), per-tile
    checksums. Masked source pixels become nodata(0) — identical to
    absent pixels in the sparse relation, so the oracle is the plain
    warp oracle over a cutline-filtered px (half-plane containment in
    source pixel space, bit-equal ring transform)."""
    pts = pages.page_points(spark, sf_dir)
    src_spec = G.world_3857(ZOOM, TILE)
    src_tiles = D.density_tiles(pts, ZOOM, TILE)
    cut = spark.createDataFrame(
        [(i, bytearray(wkb.polygon([r])))
         for i, r in enumerate(_cutline_rings())],
        "fid long, geom binary")
    masked = W.apply_cutline(src_tiles, cut, src_spec).persist()
    dst_near = G.world_4326(WARP_W, WARP_H, tile=WARP_TILE)
    near = (R.tiles_checksum(
                W.warp(masked, src_spec, dst_near, kernel="near"),
                dst_near)
            .filter(F.col("n_nonzero") > 0)
            .select(F.lit("near").alias("kernel"), "tile_y", "tile_x",
                    "checksum", "n_nonzero"))
    avg = _warp_kernel_query(spark, sf_dir, "average",
                             src_tiles=masked).select(
        F.lit("average").alias("kernel"), "tile_y", "tile_x",
        "checksum", "n_nonzero")
    return near.unionByName(avg).orderBy("kernel", "tile_y", "tile_x")


# ------------------------------------------------------------ polygonize

PZOOM, PTILE = 4, 64
NP4 = (1 << PZOOM) * PTILE


# ------------------------------------------------------ overview kernels


def _overview_kernels_oracle() -> str:
    """One 2x reduction of the z4 density raster under 4 kernels
    (gcore/overview.cpp semantics as restated by
    geotiff._reduce_2x2_masked). The 4 children of a parent pixel
    always share one child TILE (2px and 2px+1 can't straddle an
    even tile width), so a parent enumerated from any nonzero child
    has all 4 children valid (n=4) and absent-tile parents are zero
    on both sides — the masked reduction collapses to plain
    arithmetic over the sparse px relation, in numpy's exact
    accumulation order c00+c10+c01+c11."""
    half = NP4 // 2
    ssum = "(((c00 + c10) + c01) + c11)"
    ssq = ("(((c00 * c00 + c10 * c10) + c01 * c01) + c11 * c11)")
    kernels = {"near": "c00", "average": f"({ssum} / 4.0)",
               "sum": ssum, "rms": f"sqrt({ssq} / 4.0)"}
    parts = []
    for k, expr in kernels.items():
        parts.append(f"""
      SELECT '{k}' AS kernel, tile_y, tile_x, checksum, n_nonzero FROM (
        SELECT CAST(gy // {PTILE} AS INTEGER) AS tile_y,
               CAST(gx // {PTILE} AS INTEGER) AS tile_x,
               {CK.checksum_sql('fv', 'gx', 'gy', half)} AS checksum,
               count(*) FILTER (WHERE fv <> 0) AS n_nonzero
        FROM (SELECT gx, gy, {expr} AS fv FROM ch)
        GROUP BY tile_y, tile_x
        HAVING count(*) FILTER (WHERE fv <> 0) > 0)""")
    return f"""
    WITH {_px_cte(PZOOM, PTILE)},
    par AS (SELECT DISTINCT gx // 2 AS px_, gy // 2 AS py_ FROM px),
    ch AS (
      SELECT p.px_ AS gx, p.py_ AS gy,
             coalesce(v00.v, 0.0) AS c00, coalesce(v10.v, 0.0) AS c10,
             coalesce(v01.v, 0.0) AS c01, coalesce(v11.v, 0.0) AS c11
      FROM par p
      LEFT JOIN px v00 ON v00.gx = 2 * p.px_     AND v00.gy = 2 * p.py_
      LEFT JOIN px v10 ON v10.gx = 2 * p.px_ + 1 AND v10.gy = 2 * p.py_
      LEFT JOIN px v01 ON v01.gx = 2 * p.px_     AND v01.gy = 2 * p.py_ + 1
      LEFT JOIN px v11 ON v11.gx = 2 * p.px_ + 1 AND v11.gy = 2 * p.py_ + 1
    )
    SELECT * FROM ({' UNION ALL '.join(parts)})
    ORDER BY kernel, tile_y, tile_x
    """


@register("raster_overview_kernels_checksum",
          oracle=_overview_kernels_oracle())
def overview_kernels_checksum(spark, sf_dir):
    """Overview 2x reduction kernels (gcore/overview.cpp: Near :165,
    Average, Sum, RMS — the gdaladdo -r set minus the tie-broken
    mode): geotiff.overview_once on the z4 density raster, one
    tagged checksum branch per kernel. The parent-tile gather is one
    shuffle (groupBy p_ty/p_tx); the nodata-aware mask collapses to
    n=4 on this raster (see oracle), making every kernel exact SQL
    arithmetic."""
    from .raster import geotiff as GT

    pts = pages.page_points(spark, sf_dir)
    spec = G.world_3857(PZOOM, PTILE)
    tiles = D.density_tiles(pts, PZOOM, PTILE).persist()
    out = None
    for k in ("near", "average", "sum", "rms"):
        red, ospec = GT.overview_once(tiles, spec, kernel=k)
        one = (R.tiles_checksum(red, ospec)
               .filter(F.col("n_nonzero") > 0)
               .select(F.lit(k).alias("kernel"), "tile_y", "tile_x",
                       "checksum", "n_nonzero"))
        out = one if out is None else out.unionByName(one)
    return out.orderBy("kernel", "tile_y", "tile_x")


# ----------------------------------------------------------- pansharpen


def _pansharpen_oracle() -> str:
    """Brovey fusion is per-pixel arithmetic (frmts/vrt/pansharpen:
    GDALPansharpenOperation's weighted-pseudo-panchromatic ratio), so
    the whole pipeline — band derivation, pseudo = w0*b0 + w1*b1,
    ratio guard, fused = b * ratio — is one SQL expression over the
    SAME float ops as pansharpen_np. Bands derive from the density
    raster sparsity-preservingly (v^2, 2v) so the nonzero px relation
    stays the whole story."""
    pseudo = "(0.5 * (v * v) + 0.5 * (2.0 * v))"
    ratio = f"(CASE WHEN {pseudo} <> 0 THEN v / {pseudo} ELSE 0.0 END)"
    parts = []
    for b, bx in ((0, "(v * v)"), (1, "(2.0 * v)")):
        parts.append(f"""
      SELECT {b} AS band, tile_y, tile_x, checksum, n_nonzero FROM (
        SELECT CAST(gy // {PTILE} AS INTEGER) AS tile_y,
               CAST(gx // {PTILE} AS INTEGER) AS tile_x,
               {CK.checksum_sql('fv', 'gx', 'gy', NP4)} AS checksum,
               count(*) FILTER (WHERE fv <> 0) AS n_nonzero
        FROM (SELECT gx, gy, {bx} * {ratio} AS fv FROM px)
        GROUP BY tile_y, tile_x
        HAVING count(*) FILTER (WHERE fv <> 0) > 0)""")
    return (f"WITH {_px_cte(PZOOM, PTILE)}\n"
            "SELECT * FROM (" + "\nUNION ALL\n".join(parts)
            + ") ORDER BY band, tile_y, tile_x")


@register("raster_pansharpen_checksum", oracle=_pansharpen_oracle())
def pansharpen_checksum(spark, sf_dir):
    """Brovey pansharpening (the reference's VRT pansharpened dataset,
    frmts/vrt/vrtpansharpened.cpp / alg pansharpen operation): the z4
    density raster as pan, two JVM-derived spectral bands (v^2 and
    2v), fused through raster/pansharpen.py's distributed per-tile
    kernel, per-(band, tile) checksums. The ratio guard (pseudo == 0
    -> 0) and weight fold are bit-identical between numpy and SQL."""
    from .raster import pansharpen as PS

    pts = pages.page_points(spark, sf_dir)
    spec = G.world_3857(PZOOM, PTILE)
    pan = D.density_tiles(pts, PZOOM, PTILE)
    b0 = pan.select("tile_y", "tile_x",
                    F.transform("px", lambda v: v * v).alias("px"))
    b1 = pan.select("tile_y", "tile_x",
                    F.transform("px", lambda v: F.lit(2.0) * v).alias("px"))
    fused = PS.pansharpen(pan, [b0, b1])
    out = None
    for b in (0, 1):
        one = (R.tiles_checksum(
                   fused.filter(F.col("band") == b)
                   .select("tile_y", "tile_x", "px"), spec)
               .filter(F.col("n_nonzero") > 0)
               .select(F.lit(b).alias("band"), "tile_y", "tile_x",
                       "checksum", "n_nonzero"))
        out = one if out is None else out.unionByName(one)
    return out.orderBy("band", "tile_y", "tile_x")


def _polygonize_oracle() -> str:
    return f"""
    WITH RECURSIVE {_px_cte(PZOOM, PTILE)},
    pxi AS (SELECT gx, gy, v, gy * {NP4} + gx AS pid FROM px),
    e AS (
      SELECT a.pid AS pa, b.pid AS pb FROM pxi a JOIN pxi b
      ON a.v = b.v AND ((b.gx = a.gx + 1 AND b.gy = a.gy)
                     OR (b.gx = a.gx AND b.gy = a.gy + 1))
    ),
    eb AS (SELECT pa, pb FROM e UNION SELECT pb AS pa, pa AS pb FROM e),
    reach AS (
      SELECT pid, pid AS r FROM pxi
      UNION
      SELECT eb.pa AS pid, reach.r FROM eb JOIN reach ON eb.pb = reach.pid
    ),
    root AS (SELECT pid, min(r) AS root FROM reach GROUP BY pid)
    SELECT min(v) AS value, count(*) AS n_px,
           min(gx) AS min_x, min(gy) AS min_y,
           max(gx) AS max_x, max(gy) AS max_y
    FROM pxi JOIN root USING (pid)
    GROUP BY root.root
    ORDER BY min_y, min_x, value
    """


# ----------------------------------------------------- focal / calc

FZOOM, FTILE = 3, 64
NF = (1 << FZOOM) * FTILE


def _focal_sum_oracle() -> str:
    """3x3 focal SUM with edge replicate: nine clamped lookups into the
    sparse pixel relation. Term order mirrors focal._kernel_np's
    left-associative a+b+...+i so float addition rounds identically
    (integers here, but the discipline is uniform)."""
    terms = []
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            cx = f"least(greatest(g.x + ({dx}), 0), {NF - 1})"
            cy = f"least(greatest(g.y + ({dy}), 0), {NF - 1})"
            terms.append(
                f"coalesce((SELECT v FROM px p WHERE p.gx = {cx} AND p.gy = {cy}), 0.0)")
    # numpy kernel order is a(y-1,x-1), b(y-1,x), c(y-1,x+1), d(y,x-1),
    # e, f, g(y+1,x-1), h, i — the loop above emits the same order
    s = " + ".join(terms)
    return f"""
    WITH {_px_cte(FZOOM, FTILE)},
    grid AS (
      SELECT x, y FROM (SELECT range AS x FROM range({NF})),
                        (SELECT range AS y FROM range({NF}))
    ),
    f AS (SELECT g.x AS gx, g.y AS gy, ({s}) AS v FROM grid g),
    px2 AS (SELECT gx, gy, v FROM f)
    SELECT CAST(gy // {FTILE} AS INTEGER) AS tile_y,
           CAST(gx // {FTILE} AS INTEGER) AS tile_x,
           {CK.checksum_sql('v', 'gx', 'gy', NF)} AS checksum,
           count(*) FILTER (WHERE v <> 0) AS n_nonzero
    FROM px2 GROUP BY tile_y, tile_x
    HAVING count(*) FILTER (WHERE v <> 0) > 0
    ORDER BY tile_y, tile_x
    """


@register("raster_focal_sum_checksum", oracle=_focal_sum_oracle())
def focal_sum_checksum(spark, sf_dir):
    """Focal neighborhood op (`gdal raster neighbors` /
    apps/gdaldem_lib.cpp 3x3 family) via tile halo exchange: 3x3 SUM
    over the z3 density raster, per-tile checksums. Note the engine
    emits only OCCUPIED tiles; a tile whose only nonzero focal pixels
    would come from a neighbor's halo is absent — the oracle filter
    matches occupied tiles (see n_nonzero clause)."""
    from .raster import focal as FO

    pts = pages.page_points(spark, sf_dir)
    spec = G.world_3857(FZOOM, FTILE)
    tiles = D.density_tiles(pts, FZOOM, FTILE)
    out = FO.focal(tiles, spec, "sum3x3")
    return (R.tiles_checksum(out, spec)
            .filter(F.col("n_nonzero") > 0)
            .orderBy("tile_y", "tile_x"))


def _dem_oracle() -> str:
    """The six gdaldem derivatives as SQL over the nine clamped
    neighbor lookups (focal-sum oracle pattern). Float discipline:
    every constant (1/(8*res), the degree/radian factors, cos/sin of
    the fixed sun angles) is embedded as the exact double the numpy
    kernel uses, so the only cross-libm noise is per-pixel
    atan/atan2/cos — <= 1-2 ulp on values that sit far from the
    checksum's half-integer rounding boundaries except where the
    input is an IEEE special case (flat cells: atan2(+0, -0) = pi on
    both sides, bit-exact)."""
    spec = G.world_3857(FZOOM, FTILE)
    ew8 = float(8.0 * abs(spec.gt[1]))
    ns8 = float(8.0 * abs(spec.gt[5]))
    degc = float(np.degrees(1.0))
    cz = float(np.cos(np.radians(90.0 - 45.0)))
    sz = float(np.sin(np.radians(90.0 - 45.0)))
    az = float(np.radians(315.0))

    def D(v):
        return f"CAST('{float(v)!r}' AS DOUBLE)"

    names = {}
    for nm, (dy, dx) in (("a", (-1, -1)), ("b", (-1, 0)), ("c", (-1, 1)),
                         ("d", (0, -1)), ("e", (0, 0)), ("f", (0, 1)),
                         ("g2", (1, -1)), ("h2", (1, 0)), ("i2", (1, 1))):
        cx = f"least(greatest(g.x + ({dx}), 0), {NF - 1})"
        cy = f"least(greatest(g.y + ({dy}), 0), {NF - 1})"
        names[nm] = (f"coalesce((SELECT v FROM px p WHERE p.gx = {cx}"
                     f" AND p.gy = {cy}), 0.0) AS {nm}")
    a, b, c = "a", "b", "c"
    d, e, f_, g_, h_, i_ = "d", "e", "f", "g2", "h2", "i2"
    dzdx = f"((({c} + 2.0 * {f_} + {i_}) - ({a} + 2.0 * {d} + {g_})) / {D(ew8)})"
    dzdy = f"((({g_} + 2.0 * {h_} + {i_}) - ({a} + 2.0 * {b} + {c})) / {D(ns8)})"
    grad = f"sqrt({dzdx} * {dzdx} + {dzdy} * {dzdy})"
    aspr = f"atan2({dzdy}, -{dzdx})"
    adeg = f"(90.0 - ({aspr} * {D(degc)}))"
    nsum = f"(((((((({a} + {b}) + {c}) + {d}) + {f_}) + {g_}) + {h_}) + {i_}))"
    tri = (f"(((((((abs({e} - {a}) + abs({e} - {b})) + abs({e} - {c}))"
           f" + abs({e} - {d})) + abs({e} - {f_})) + abs({e} - {g_}))"
           f" + abs({e} - {h_})) + abs({e} - {i_})) / 8.0")
    slope_r = f"atan({grad})"
    shade = (f"({D(cz)} * cos({slope_r}) + {D(sz)} * sin({slope_r})"
             f" * cos({D(az)} - {aspr}))")
    ops = {
        "slope": f"(atan({grad}) * {D(degc)})",
        "aspect": (f"CASE WHEN {adeg} < 0 THEN {adeg} + 360.0 "
                   f"WHEN {adeg} >= 360.0 THEN {adeg} - 360.0 "
                   f"ELSE {adeg} END"),
        "hillshade": f"least(greatest(255.0 * {shade}, 0.0), 255.0)",
        "tpi": f"({e} - {nsum} / 8.0)",
        "tri": tri,
        "roughness": (f"greatest({a},{b},{c},{d},{e},{f_},{g_},{h_},{i_})"
                      f" - least({a},{b},{c},{d},{e},{f_},{g_},{h_},{i_})"),
    }
    parts = []
    for k, expr in ops.items():
        parts.append(f"""
      SELECT '{k}' AS op, tile_y, tile_x, checksum, n_nonzero FROM (
        SELECT CAST(gy // {FTILE} AS INTEGER) AS tile_y,
               CAST(gx // {FTILE} AS INTEGER) AS tile_x,
               {CK.checksum_sql('fv', 'gx', 'gy', NF)} AS checksum,
               count(*) FILTER (WHERE fv <> 0) AS n_nonzero
        FROM (SELECT gx, gy, ({expr}) AS fv FROM nb)
        GROUP BY tile_y, tile_x)""")
    nt = NF // FTILE
    return f"""
    WITH {_px_cte(FZOOM, FTILE)},
    -- the engine emits a tile iff its 9-neighborhood holds an
    -- OCCUPIED input tile (the halo fan's group keys) — aspect and
    -- hillshade are nonzero on flat ground, so mirror that set
    occ AS (SELECT DISTINCT CAST(gy // {FTILE} AS INTEGER) AS ty,
                   CAST(gx // {FTILE} AS INTEGER) AS tx FROM px),
    gset AS (SELECT DISTINCT o.ty + d.dy AS ty, o.tx + d.dx AS tx
             FROM occ o, (VALUES (-1,-1), (-1,0), (-1,1), (0,-1),
                          (0,0), (0,1), (1,-1), (1,0), (1,1)) d(dy, dx)
             WHERE o.ty + d.dy BETWEEN 0 AND {nt - 1}
               AND o.tx + d.dx BETWEEN 0 AND {nt - 1}),
    grid AS (
      SELECT x, y
      FROM (SELECT range AS x FROM range({NF})),
           (SELECT range AS y FROM range({NF}))
      WHERE EXISTS (SELECT 1 FROM gset
                    WHERE gset.ty = CAST(y // {FTILE} AS INTEGER)
                      AND gset.tx = CAST(x // {FTILE} AS INTEGER))
    ),
    nb AS (SELECT g.x AS gx, g.y AS gy, {', '.join(names.values())}
           FROM grid g)
    SELECT * FROM ({' UNION ALL '.join(parts)})
    ORDER BY op, tile_y, tile_x
    """


def _fillnodata_oracle() -> str:
    """One neighbor-mean fill pass in SQL: with nodata = 0 over the
    sparse px relation, invalid neighbors contribute exactly 0 to the
    sum, so fill = sum(8 neighbors)/count(nonzero neighbors) in
    focal._kernel_np's stack order; nodata pixels take the fill,
    valid pixels pass through. Tile set mirrors the engine's
    occupied-9-neighborhood groups (DEM-gate rule)."""
    nbs = []
    for nm, (dy, dx) in (("a", (-1, -1)), ("b", (-1, 0)), ("c", (-1, 1)),
                         ("d", (0, -1)), ("e", (0, 0)), ("f", (0, 1)),
                         ("g2", (1, -1)), ("h2", (1, 0)), ("i2", (1, 1))):
        cx = f"least(greatest(g.x + ({dx}), 0), {NF - 1})"
        cy = f"least(greatest(g.y + ({dy}), 0), {NF - 1})"
        nbs.append(f"coalesce((SELECT v FROM px p WHERE p.gx = {cx}"
                   f" AND p.gy = {cy}), 0.0) AS {nm}")
    ring = ["a", "b", "c", "d", "f", "g2", "h2", "i2"]
    s = " + ".join(ring)
    cnt = " + ".join(f"CAST({n} <> 0 AS INTEGER)" for n in ring)
    nt = NF // FTILE
    return f"""
    WITH {_px_cte(FZOOM, FTILE)},
    occ AS (SELECT DISTINCT CAST(gy // {FTILE} AS INTEGER) AS ty,
                   CAST(gx // {FTILE} AS INTEGER) AS tx FROM px),
    gset AS (SELECT DISTINCT o.ty + d.dy AS ty, o.tx + d.dx AS tx
             FROM occ o, (VALUES (-1,-1), (-1,0), (-1,1), (0,-1),
                          (0,0), (0,1), (1,-1), (1,0), (1,1)) d(dy, dx)
             WHERE o.ty + d.dy BETWEEN 0 AND {nt - 1}
               AND o.tx + d.dx BETWEEN 0 AND {nt - 1}),
    grid AS (
      SELECT x, y
      FROM (SELECT range AS x FROM range({NF})),
           (SELECT range AS y FROM range({NF}))
      WHERE EXISTS (SELECT 1 FROM gset
                    WHERE gset.ty = CAST(y // {FTILE} AS INTEGER)
                      AND gset.tx = CAST(x // {FTILE} AS INTEGER))
    ),
    nb AS (SELECT g.x AS gx, g.y AS gy, {', '.join(nbs)} FROM grid g),
    f2 AS (
      SELECT gx, gy,
        CASE WHEN e = 0 THEN
          (CASE WHEN ({cnt}) > 0 THEN ({s}) / ({cnt}) ELSE 0.0 END)
        ELSE e END AS fv
      FROM nb)
    SELECT CAST(gy // {FTILE} AS INTEGER) AS tile_y,
           CAST(gx // {FTILE} AS INTEGER) AS tile_x,
           {CK.checksum_sql('fv', 'gx', 'gy', NF)} AS checksum,
           count(*) FILTER (WHERE fv <> 0) AS n_nonzero
    FROM f2 GROUP BY tile_y, tile_x
    ORDER BY tile_y, tile_x
    """


@register("raster_fillnodata_checksum", oracle=_fillnodata_oracle())
def fillnodata_checksum(spark, sf_dir):
    """Fill-nodata (alg/rasterfill.cpp interpolation family, the
    gdal_fillnodata utility's kernel): one neighbor-mean pass over
    the z3 density raster with nodata=0 — every hole pixel adjacent
    to data takes the mean of its valid 8-neighbors, data passes
    through. One halo shuffle; checksum per tile over the engine's
    occupied-9-neighborhood groups."""
    from .raster import focal as FO

    pts = pages.page_points(spark, sf_dir)
    spec = G.world_3857(FZOOM, FTILE)
    tiles = D.density_tiles(pts, FZOOM, FTILE)
    out = FO.fillnodata(tiles, spec, nodata=0.0, iterations=1)
    return (R.tiles_checksum(out, spec)
            .orderBy("tile_y", "tile_x"))


@register("raster_dem_derivatives_checksum", oracle=_dem_oracle())
def dem_derivatives_checksum(spark, sf_dir):
    """The gdaldem derivative family (apps/gdaldem_lib.cpp — Horn
    slope/aspect/hillshade, Wilson TPI, Riley TRI, roughness) over
    the z3 density raster treated as a DEM: one tagged checksum
    branch per mode, all six computed by the SAME halo-exchange focal
    kernel the gdaldem utility wrapper uses. Flat (all-zero) regions
    exercise the IEEE special cases (atan2(+0, -0) = pi) identically
    on both sides; no nonzero-tile filter because aspect/hillshade
    are nonzero even on flat ground."""
    from .raster import focal as FO

    pts = pages.page_points(spark, sf_dir)
    spec = G.world_3857(FZOOM, FTILE)
    tiles = D.density_tiles(pts, FZOOM, FTILE).persist()
    out = None
    for op in ("slope", "aspect", "hillshade", "tpi", "tri",
               "roughness"):
        one = (R.tiles_checksum(FO.focal(tiles, spec, op), spec)
               .select(F.lit(op).alias("op"), "tile_y", "tile_x",
                       "checksum", "n_nonzero"))
        out = one if out is None else out.unionByName(one)
    return out.orderBy("op", "tile_y", "tile_x")


_RECLASSIFY_ORACLE = f"""
    WITH {_px_cte(ZOOM, TILE)},
    px2 AS (SELECT gx, gy,
                   CAST(CASE WHEN v >= 1 AND v < 2 THEN 10
                             WHEN v >= 2 AND v < 5 THEN 20
                             WHEN v >= 5 THEN 30 ELSE 0 END AS DOUBLE) AS v
            FROM px)
    SELECT CAST(gy // {TILE} AS INTEGER) AS tile_y,
           CAST(gx // {TILE} AS INTEGER) AS tile_x,
           {CK.checksum_sql('v', 'gx', 'gy', N5)} AS checksum,
           count(*) FILTER (WHERE v <> 0) AS n_nonzero
    FROM px2 GROUP BY tile_y, tile_x
    HAVING count(*) FILTER (WHERE v <> 0) > 0
    ORDER BY tile_y, tile_x
    """


def reclassify_checksum(spark, sf_dir):
    """Reclassify (apps/gdalalg_raster_reclassify.cpp range table) of
    the z5 density raster — runs as F.transform over the pixel array
    (JVM higher-order function, no Python)."""
    from .raster import calc as C

    pts = pages.page_points(spark, sf_dir)
    spec = G.world_3857(ZOOM, TILE)
    tiles = D.density_tiles(pts, ZOOM, TILE)
    out = C.reclassify(tiles, [1.0, 2.0, 5.0, 1e18], [10.0, 20.0, 30.0])
    return (R.tiles_checksum(out, spec)
            .filter(F.col("n_nonzero") > 0)
            .orderBy("tile_y", "tile_x"))


def mosaic_checksum(spark, sf_dir):
    """Mosaic (apps/gdalalg_raster_mosaic.cpp, sum method): densities
    of the 'en' docs and the non-'en' docs mosaicked back together must
    equal the all-docs density — checksummed per tile against the
    plain density oracle (an algebraic identity the merge must hold)."""
    from .raster import calc as C

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pts = d.select("doc_id", "lang",
                   pages.lon_col(F.col("doc_id")).alias("lon"),
                   pages.lat_col(F.col("doc_id")).alias("lat"))
    spec = G.world_3857(ZOOM, TILE)
    en = D.density_tiles(pts.filter(F.col("lang") == "en"), ZOOM, TILE)
    rest = D.density_tiles(pts.filter(F.col("lang") != "en"), ZOOM, TILE)
    merged = C.mosaic([en, rest], method="sum")
    return (R.tiles_checksum(merged, spec)
            .filter(F.col("n_nonzero") > 0)
            .orderBy("tile_y", "tile_x"))


@register(
    "raster_calc_checksum",
    oracle=f"""
    SELECT 'reclassify' AS op, tile_y, tile_x, checksum, n_nonzero
    FROM ({_RECLASSIFY_ORACLE})
    UNION ALL
    SELECT 'mosaic' AS op, tile_y, tile_x, checksum, n_nonzero
    FROM (WITH {_px_cte(ZOOM, TILE)}
          {_tile_checksum_sql(N5, TILE)})
    ORDER BY op, tile_y, tile_x
    """,
)
def calc_checksum(spark, sf_dir):
    """Raster calc family, one gate (merged for the 50-entry window):
    op='reclassify'  range-table reclassify of the z5 density raster
                     (apps/gdalalg_raster_reclassify.cpp) via
                     F.transform — JVM higher-order function;
    op='mosaic'      mosaic-sum identity (apps/gdalalg_raster_mosaic.cpp):
                     per-language densities mosaicked back together
                     must equal the all-docs density."""
    rc = reclassify_checksum(spark, sf_dir).select(
        F.lit("reclassify").alias("op"), "tile_y", "tile_x",
        "checksum", "n_nonzero")
    mo = mosaic_checksum(spark, sf_dir).select(
        F.lit("mosaic").alias("op"), "tile_y", "tile_x",
        "checksum", "n_nonzero")
    return rc.unionByName(mo).orderBy("op", "tile_y", "tile_x")


def _interp_oracle() -> str:
    src = G.world_3857(ZOOM, TILE)
    mx = f"(qs.lon * {mercator.LON2M!r})"
    my = mercator.merc_y_sql("qs.lat")
    spx = f"((({mx}) - ({src.gt[0]!r})) / {src.gt[1]!r})"
    spy = f"((({my}) - ({src.gt[3]!r})) / ({src.gt[5]!r}))"
    return f"""
    WITH {_px_cte(ZOOM, TILE)},
    qs AS (SELECT doc_id AS pt_id, lon, lat FROM ({_PTS}) WHERE doc_id % 10 = 0),
    routed AS (SELECT pt_id, CAST(floor({spx}) AS BIGINT) AS sgx,
                      CAST(floor({spy}) AS BIGINT) AS sgy FROM qs)
    SELECT r.pt_id AS pt_id, coalesce(p.v, 0.0) AS value
    FROM routed r LEFT JOIN px p ON p.gx = r.sgx AND p.gy = r.sgy
    ORDER BY pt_id
    """


@register("raster_interpolate_at_points", oracle=_interp_oracle())
def interpolate_at_points_q(spark, sf_dir):
    """Interpolate-at-point (alg/gdal_interpolateatpoint.cpp): sample
    the z5 density raster at every 10th page's mercator position with
    the NEAR kernel — each point lands in its own pixel, so value >= 1
    unless clamping shifted the pixel assignment (the oracle proves
    the routing math matches bit-for-bit)."""
    from .raster import calc as C

    pts = pages.page_points(spark, sf_dir)
    spec = G.world_3857(ZOOM, TILE)
    tiles = D.density_tiles(pts, ZOOM, TILE)
    qs = (pts.filter(F.col("doc_id") % 10 == 0)
          .select(F.col("doc_id").alias("pt_id"),
                  mercator.merc_x_col(F.col("lon")).alias("x"),
                  mercator.merc_y_col(F.col("lat")).alias("y")))
    return (C.interpolate_at_points(tiles, spec, qs, kernel="near")
            .orderBy("pt_id"))


PXZOOM, PXTILE = 2, 32
NPX = (1 << PXZOOM) * PXTILE


def _proximity_oracle() -> str:
    return f"""
    WITH {_px_cte(PXZOOM, PXTILE)},
    occ AS (SELECT DISTINCT CAST(gy // {PXTILE} AS INTEGER) AS tile_y,
                            CAST(gx // {PXTILE} AS INTEGER) AS tile_x FROM px),
    allpx AS (
      SELECT o.tile_y, o.tile_x,
             o.tile_x * {PXTILE} + dx.range AS x,
             o.tile_y * {PXTILE} + dy.range AS y
      FROM occ o, range({PXTILE}) dx, range({PXTILE}) dy),
    d AS (
      SELECT tile_y, tile_x, x, y,
             (SELECT min(sqrt(CAST((p.gx - a.x) * (p.gx - a.x)
                            + (p.gy - a.y) * (p.gy - a.y) AS DOUBLE)))
              FROM px p) AS dist
      FROM allpx a)
    SELECT tile_y, tile_x,
           CAST(sum(CAST(floor(dist) AS BIGINT)) AS BIGINT) AS sum_floor_dist,
           count(*) FILTER (WHERE dist = 0) AS n_zero
    FROM d GROUP BY tile_y, tile_x ORDER BY tile_y, tile_x
    """


@register("raster_proximity", oracle=_proximity_oracle())
def proximity_q(spark, sf_dir):
    """Proximity raster (alg/gdalproximity.cpp:94): per-pixel distance
    to the nearest occupied pixel of the z2 density raster, summarized
    per occupied tile as sum(floor(dist)) + zero-distance count.
    floor(sqrt(integer)) is cross-engine stable: the argument of floor
    only hits an integer when the radicand is a perfect square, where
    sqrt is exact."""
    from .raster import proximity as PX

    pts = pages.page_points(spark, sf_dir)
    spec = G.world_3857(PXZOOM, PXTILE)
    tiles = D.density_tiles(pts, PXZOOM, PXTILE)
    dist = PX.proximity(tiles, spec)
    agg = (dist.select(
        "tile_y", "tile_x",
        F.aggregate("px", F.lit(0).cast("long"),
                    lambda a, x: a + F.floor(x).cast("long")).alias("sum_floor_dist"),
        F.size(F.filter("px", lambda x: x == 0)).cast("long").alias("n_zero"),
    ))
    return agg.orderBy("tile_y", "tile_x")


def _footprint_oracle() -> str:
    """Polygonize CTE over the BINARY mask (every occupied pixel -> 1)."""
    gx, gy = G.pixel_index_sql_3857(PZOOM, PTILE, "lon", "lat")
    return f"""
    WITH RECURSIVE pts AS ({_PTS}),
    px AS (SELECT gx, gy, 1.0 AS v
           FROM (SELECT {gx} AS gx, {gy} AS gy FROM pts) GROUP BY gx, gy),
    pxi AS (SELECT gx, gy, v, gy * {NP4} + gx AS pid FROM px),
    e AS (
      SELECT a.pid AS pa, b.pid AS pb FROM pxi a JOIN pxi b
      ON (b.gx = a.gx + 1 AND b.gy = a.gy)
      OR (b.gx = a.gx AND b.gy = a.gy + 1)
    ),
    eb AS (SELECT pa, pb FROM e UNION SELECT pb AS pa, pa AS pb FROM e),
    reach AS (
      SELECT pid, pid AS r FROM pxi
      UNION
      SELECT eb.pa AS pid, reach.r FROM eb JOIN reach ON eb.pb = reach.pid
    ),
    root AS (SELECT pid, min(r) AS root FROM reach GROUP BY pid)
    SELECT count(*) AS n_px,
           min(gx) AS min_x, min(gy) AS min_y,
           max(gx) AS max_x, max(gy) AS max_y
    FROM pxi JOIN root USING (pid)
    GROUP BY root.root
    ORDER BY min_y, min_x
    """


@register("raster_footprint_components", oracle=_footprint_oracle())
def footprint_components(spark, sf_dir):
    """Footprint (apps/gdal_footprint_lib.cpp): valid-data mask ->
    polygons — composed as calc(mask) |> polygonize, the same pipeline
    the reference uses internally."""
    from .raster import calc as C

    pts = pages.page_points(spark, sf_dir)
    spec = G.world_3857(PZOOM, PTILE)
    tiles = D.density_tiles(pts, PZOOM, PTILE)
    mask = C.calc(tiles, lambda v: F.when(v > 0, 1.0).otherwise(0.0))
    return (PZ.polygonize(mask, spec, connect8=False)
            .withColumn("n_px", F.col("n_px").cast("long"))
            .select("n_px", "min_x", "min_y", "max_x", "max_y")
            .orderBy("min_y", "min_x"))


GN_ZOOM, GN_TILE = 1, 32
GN_N = (1 << GN_ZOOM) * GN_TILE
GN_RADIUS = 3.0e6  # meters


def _grid_nearest_oracle() -> str:
    spec = G.world_3857(GN_ZOOM, GN_TILE)
    r2 = GN_RADIUS * GN_RADIUS
    nx = f"({spec.gt[0]!r} + (x + 0.5) * {spec.gt[1]!r})"
    ny = f"({spec.gt[3]!r} + (y + 0.5) * ({spec.gt[5]!r}))"
    ppx = f"({pages.LON_SQL} * {mercator.LON2M!r})"
    ppy = mercator.merc_y_sql(pages.LAT_SQL)
    return f"""
    WITH p AS (SELECT {ppx} AS px, {ppy} AS py,
                      CAST(n_chars AS DOUBLE) AS v
               FROM documents),
    nodes AS (
      SELECT x, y, {nx} AS nx, {ny} AS ny
      FROM (SELECT range AS x FROM range({GN_N})),
           (SELECT range AS y FROM range({GN_N}))),
    cand AS (
      SELECT n.x, n.y,
             ((n.nx - p.px) * (n.nx - p.px)
              + (n.ny - p.py) * (n.ny - p.py)) AS d2, p.v
      FROM nodes n, p),
    dm AS (SELECT x, y, min(d2) AS dmin FROM cand
           WHERE d2 <= {r2!r} GROUP BY x, y),
    val AS (SELECT c.x, c.y, min(c.v) AS v
            FROM cand c JOIN dm ON c.x = dm.x AND c.y = dm.y
                              AND c.d2 = dm.dmin
            GROUP BY c.x, c.y),
    px AS (SELECT n.x AS gx, n.y AS gy, coalesce(val.v, 0.0) AS v
           FROM nodes n LEFT JOIN val ON val.x = n.x AND val.y = n.y)
    {_tile_checksum_sql(GN_N, GN_TILE)}
    """


GM_NODATA = -1.0
GM_SMOOTH = 5.0e5      # invdistnn smoothing (meters)
GM_MAXPTS = 4          # invdistnn nearest-neighbour cap
# The metric gate sums float distances, so point coords must be
# IEEE-identical in Spark and DuckDB: Y maps lat linearly into the
# mercator range (one multiply — exact) instead of through log/tan,
# whose JVM and libm implementations differ in the last ulp. The real
# mercator transform is gated elsewhere (density/tile/warp gates, where
# only floor-binning consumes it).
GM_Y_SCALE = mercator.ORIGIN_SHIFT / 80.0
# linear-TIN part: an affine field A + B*x + C*y is reproduced EXACTLY
# (to fp) by barycentric interpolation on ANY triangulation — the
# relational oracle for a non-relational algorithm; positive range so
# Spark HALF_UP round == DuckDB half-away round
GM_LIN_A, GM_LIN_B, GM_LIN_C = 5000.0, 1.0e-5, -7.0e-6


def _grid_metrics_oracle() -> str:
    """One relational oracle for the WHOLE gdalgrid metric family.
    Value-selection metrics (nearest/min/max/range/count) are plain
    aggregates; the order-sensitive float folds (average distances,
    invdistnn weighted sums) are pinned with DuckDB `list_reduce` left
    folds over exactly the candidate order the engine kernels sum in
    (sorted-point order; rank-then-quadrant round-robin for the
    per-quadrant variant) — every term is elementary IEEE arithmetic
    (power=2 avoids pow), so the fold is bit-exact."""
    spec = G.world_3857(GN_ZOOM, GN_TILE)
    r = GN_RADIUS

    def D(v: float) -> str:
        # a bare decimal literal parses as DECIMAL in DuckDB; float
        # constants must enter the expression tree as DOUBLE or the
        # node-coordinate arithmetic silently runs in decimal
        return f"CAST('{v!r}' AS DOUBLE)"

    r1sq, r2sq, r12sq = D(r * r), D(r * r), D((r * r) * (r * r))
    s2 = D(GM_SMOOTH * GM_SMOOTH)
    rr = D(r * r)
    nx = f"({D(spec.gt[0])} + (x + 0.5) * {D(spec.gt[1])})"
    ny = f"({D(spec.gt[3])} + (y + 0.5) * ({D(spec.gt[5])}))"
    ppx = f"({pages.LON_SQL} * {D(mercator.LON2M)})"
    ppy = f"({pages.LAT_SQL} * {D(GM_Y_SCALE)})"
    fold = "(a, b) -> a + b"
    nd = f"{GM_NODATA!r}"
    return f"""
    WITH p AS (SELECT {ppx} AS px, {ppy} AS py,
                      CAST(n_chars AS DOUBLE) AS v
               FROM documents),
    nodes AS (
      SELECT CAST(x AS BIGINT) AS gx, CAST(y AS BIGINT) AS gy,
             {nx} AS nx, {ny} AS ny
      FROM (SELECT range AS x FROM range({GN_N})),
           (SELECT range AS y FROM range({GN_N}))),
    cand AS (
      SELECT n.gx, n.gy, p.px, p.py, p.v,
             (p.px - n.nx) AS dx, (p.py - n.ny) AS dy,
             ((p.px - n.nx) * (p.px - n.nx)
              + (p.py - n.ny) * (p.py - n.ny)) AS d2
      FROM nodes n, p),
    ell AS (SELECT * FROM cand
            WHERE {r2sq} * (dx * dx) + {r1sq} * (dy * dy)
                  <= {r12sq}),
    selagg AS (
      SELECT gx, gy, count(*) AS n, min(v) AS mn, max(v) AS mx,
             list_reduce(list(sqrt(d2) ORDER BY px, py, v),
                         {fold}) AS distsum,
             sum(v) AS vsum
      FROM ell GROUP BY gx, gy),
    pairs AS (
      SELECT a.gx, a.gy,
             sqrt((b.px - a.px) * (b.px - a.px)
                  + (b.py - a.py) * (b.py - a.py)) AS pd,
             a.px AS ax, a.py AS ay, a.v AS av,
             b.px AS bx, b.py AS by, b.v AS bv
      FROM ell a JOIN ell b
        ON a.gx = b.gx AND a.gy = b.gy
       AND (a.px, a.py, a.v) < (b.px, b.py, b.v)),
    pairagg AS (
      SELECT gx, gy, count(*) AS n,
             list_reduce(list(pd ORDER BY ax, ay, av, bx, by, bv),
                         {fold}) AS pdsum
      FROM pairs GROUP BY gx, gy),
    nnsel AS (
      SELECT gx, gy, v, (d2 + {s2}) AS rsm2,
             CASE WHEN dx >= 0 THEN 1 ELSE 0 END
             + CASE WHEN dy >= 0 THEN 2 ELSE 0 END AS quad
      FROM cand WHERE d2 <= {rr}),
    nn AS (
      SELECT gx, gy,
             list_reduce(list((1.0 / rsm2) * v ORDER BY rnk),
                         {fold}) AS num,
             list_reduce(list(1.0 / rsm2 ORDER BY rnk), {fold}) AS den
      FROM (SELECT *, row_number() OVER (PARTITION BY gx, gy
                                         ORDER BY rsm2, v) AS rnk
            FROM nnsel)
      WHERE rnk <= {GM_MAXPTS} GROUP BY gx, gy),
    nnq AS (
      SELECT gx, gy, count(DISTINCT quad) AS nquads,
             list_reduce(list((1.0 / rsm2) * v ORDER BY qrnk, quad),
                         {fold}) AS num,
             list_reduce(list(1.0 / rsm2 ORDER BY qrnk, quad),
                         {fold}) AS den
      FROM (SELECT *, row_number() OVER (PARTITION BY gx, gy, quad
                                         ORDER BY rsm2, v) AS qrnk
            FROM nnsel)
      WHERE qrnk <= 1 GROUP BY gx, gy),
    ndm AS (SELECT gx, gy, min(d2) AS dmin FROM cand
            WHERE d2 <= {rr} GROUP BY gx, gy),
    nval AS (SELECT c.gx, c.gy, min(c.v) AS v
             FROM cand c JOIN ndm ON c.gx = ndm.gx AND c.gy = ndm.gy
                               AND c.d2 = ndm.dmin
             GROUP BY c.gx, c.gy)
    SELECT 'nearest' AS part, n.gx, n.gy, coalesce(nval.v, {nd}) AS v
    FROM nodes n LEFT JOIN nval ON nval.gx = n.gx AND nval.gy = n.gy
    UNION ALL
    SELECT 'minimum', n.gx, n.gy, coalesce(s.mn, {nd})
    FROM nodes n LEFT JOIN selagg s ON s.gx = n.gx AND s.gy = n.gy
    UNION ALL
    SELECT 'maximum', n.gx, n.gy, coalesce(s.mx, {nd})
    FROM nodes n LEFT JOIN selagg s ON s.gx = n.gx AND s.gy = n.gy
    UNION ALL
    SELECT 'range', n.gx, n.gy, coalesce(s.mx - s.mn, {nd})
    FROM nodes n LEFT JOIN selagg s ON s.gx = n.gx AND s.gy = n.gy
    UNION ALL
    SELECT 'count', n.gx, n.gy,
           coalesce(CAST(s.n AS DOUBLE), {nd})
    FROM nodes n LEFT JOIN selagg s ON s.gx = n.gx AND s.gy = n.gy
    UNION ALL
    SELECT 'avg_dist', n.gx, n.gy, coalesce(s.distsum / s.n, {nd})
    FROM nodes n LEFT JOIN selagg s ON s.gx = n.gx AND s.gy = n.gy
    UNION ALL
    SELECT 'avg_dist_pts', n.gx, n.gy, coalesce(pa.pdsum / pa.n, {nd})
    FROM nodes n LEFT JOIN pairagg pa ON pa.gx = n.gx AND pa.gy = n.gy
    UNION ALL
    SELECT 'average', n.gx, n.gy, coalesce(s.vsum / s.n, {nd})
    FROM nodes n LEFT JOIN selagg s ON s.gx = n.gx AND s.gy = n.gy
    UNION ALL
    SELECT 'invdistnn', n.gx, n.gy, coalesce(nn.num / nn.den, {nd})
    FROM nodes n LEFT JOIN nn ON nn.gx = n.gx AND nn.gy = n.gy
    UNION ALL
    SELECT 'invdistnn_quadrant', n.gx, n.gy,
           CASE WHEN q.nquads = 4 THEN q.num / q.den ELSE {nd} END
    FROM nodes n LEFT JOIN nnq q ON q.gx = n.gx AND q.gy = n.gy
    UNION ALL
    SELECT 'linear', n.gx, n.gy,
           round({D(GM_LIN_A)} + {D(GM_LIN_B)} * n.nx
                 + {D(GM_LIN_C)} * n.ny, 3)
    FROM nodes n
    ORDER BY part, gy, gx
    """


def _nodes_long(tiles, spec, part: str):
    """Dense tile relation -> (part, gx, gy, v) node rows (uniform
    tiles only — the gate grid divides evenly)."""
    t = spec.tile
    assert spec.width % t == 0 and spec.height % t == 0
    e = F.posexplode("px")
    return (tiles.select("tile_y", "tile_x", e.alias("pos", "v"))
            .select(F.lit(part).alias("part"),
                    (F.col("tile_x") * t + F.col("pos") % t)
                    .cast("long").alias("gx"),
                    (F.col("tile_y") * t + (F.col("pos") / t).cast("int"))
                    .cast("long").alias("gy"),
                    F.col("v")))


@register("raster_grid_metrics", oracle=_grid_metrics_oracle())
def grid_metrics_q(spark, sf_dir):
    """The gdalgrid metric family over page points on the z1 mercator
    node grid, one long-format union gate (part, gx, gy, v):

      nearest            GDALGridNearestNeighbor (alg/gdalgrid.cpp:881)
      minimum/maximum/   GDALGridDataMetric* (:1058,:1378,:1545,:1841,
      range/count/         :2135,:2410; CLI steps
      avg_dist/            apps/gdalalg_vector_grid_data_metrics.cpp)
      avg_dist_pts
      average            GDALGridMovingAverage (:630,
                           apps/gdalalg_vector_grid_average.cpp)
      invdistnn          GDALGridInverseDistanceToAPowerNearestNeighbor
                           (:242), radius + 4 nearest, smoothing
      invdistnn_quadrant the per-quadrant variant (:351), 1 point per
                           quadrant round-robin, all-quadrants minimum
      linear             GDALGridLinear (:2565, alg/delaunay.c) — TIN
                           barycentric interpolation; gated via affine
                           reproduction (exact on any triangulation)

    Selection metrics are relational; the float folds (distance sums,
    inverse-distance weighted sums) are pinned bit-exactly with DuckDB
    list_reduce left folds in the engine's documented summation order.
    All parts run the scatter (per-point tile fan-out) physical path."""
    from .raster import gridding as GR

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pts = d.select(
        F.col("n_chars").cast("double").alias("v"),
        mercator.merc_x_col(pages.lon_col(F.col("doc_id"))).alias("x"),
        (pages.lat_col(F.col("doc_id")) * F.lit(GM_Y_SCALE)).alias("y"))
    spec = G.world_3857(GN_ZOOM, GN_TILE)
    nd = GM_NODATA
    parts = [
        ("nearest", GR.grid_nearest(pts, spec, radius=GN_RADIUS, nodata=nd)),
        ("minimum", GR.grid_data_metric(pts, spec, "minimum", GN_RADIUS,
                                        nodata=nd)),
        ("maximum", GR.grid_data_metric(pts, spec, "maximum", GN_RADIUS,
                                        nodata=nd)),
        ("range", GR.grid_data_metric(pts, spec, "range", GN_RADIUS,
                                      nodata=nd)),
        ("count", GR.grid_data_metric(pts, spec, "count", GN_RADIUS,
                                      nodata=nd)),
        ("avg_dist", GR.grid_data_metric(pts, spec, "average_distance",
                                         GN_RADIUS, nodata=nd)),
        ("avg_dist_pts", GR.grid_data_metric(
            pts, spec, "average_distance_pts", GN_RADIUS, nodata=nd)),
        ("average", GR.grid_average(pts, spec, GN_RADIUS, nodata=nd)),
        ("invdistnn", GR.grid_invdistnn(
            pts, spec, radius=GN_RADIUS, power=2.0, smoothing=GM_SMOOTH,
            max_points=GM_MAXPTS, min_points=1, nodata=nd)),
        ("invdistnn_quadrant", GR.grid_invdistnn(
            pts, spec, radius=GN_RADIUS, power=2.0, smoothing=GM_SMOOTH,
            max_points=0, min_points_per_quadrant=1,
            max_points_per_quadrant=1, nodata=nd)),
    ]
    # linear TIN (GDALGridLinear): an affine value field over the page
    # points plus the four world corners (hull covers every node, so
    # the barycentric surface equals the affine field to fp; rounded at
    # 1e-3 on both sides — interpolation residual is ~1e-10)
    aff = (F.lit(GM_LIN_A) + F.lit(GM_LIN_B) * F.col("x")
           + F.lit(GM_LIN_C) * F.col("y"))
    O = mercator.ORIGIN_SHIFT
    corners = spark.createDataFrame(
        [(x, y, GM_LIN_A + GM_LIN_B * x + GM_LIN_C * y)
         for x in (-O, O) for y in (-O, O)],
        "x double, y double, v double")
    lin_pts = pts.withColumn("v", aff).unionByName(corners)
    lin = GR.grid_linear(lin_pts, spec, radius=0.0, nodata=nd)
    parts.append(("linear", lin))
    out = None
    for name, tiles in parts:
        rows = _nodes_long(tiles, spec, name)
        if name == "linear":
            rows = rows.withColumn("v", F.round("v", 3))
        out = rows if out is None else out.unionByName(rows)
    return out.orderBy("part", "gy", "gx")


_RAMP = [(0.0, (0, 0, 255)), (2.0, (0, 255, 0)), (8.0, (255, 255, 0)),
         (40.0, (255, 0, 0))]


def _color_relief_oracle() -> str:
    def chan_sql(ch: int) -> str:
        stops = _RAMP
        # mirrors calc.color_relief's nested-WHEN evaluation order and
        # Python-folded literals exactly (v1-v0 and c1-c0 folded BEFORE
        # the SQL, same as F.lit in the Column build)
        branches = [f"WHEN v <= {float(stops[0][0])!r} "
                    f"THEN {float(stops[0][1][ch])!r}"]
        for i in range(1, len(stops)):
            v0, c0 = float(stops[i - 1][0]), float(stops[i - 1][1][ch])
            v1, c1 = float(stops[i][0]), float(stops[i][1][ch])
            interp = (f"round({c0!r} + ((v - {v0!r}) / {v1 - v0!r}) "
                      f"* {c1 - c0!r})")
            branches.append(f"WHEN v <= {v1!r} THEN {interp}")
        return ("CASE " + " ".join(branches)
                + f" ELSE {float(stops[-1][1][ch])!r} END")

    occ = f"""
    occ AS (SELECT DISTINCT CAST(gy // {FTILE} AS INTEGER) AS tile_y,
                            CAST(gx // {FTILE} AS INTEGER) AS tile_x FROM px),
    allpx AS (
      SELECT grid.tile_y, grid.tile_x, grid.gx, grid.gy,
             coalesce(p.v, 0.0) AS v
      FROM (SELECT o.tile_y, o.tile_x,
                   o.tile_x * {FTILE} + dx.range AS gx,
                   o.tile_y * {FTILE} + dy.range AS gy
            FROM occ o, range({FTILE}) dx, range({FTILE}) dy) grid
      LEFT JOIN px p ON p.gx = grid.gx AND p.gy = grid.gy)"""
    return f"""
    WITH {_px_cte(FZOOM, FTILE)},
    {occ},
    rgb AS (SELECT tile_y, tile_x, gx, gy,
                   {chan_sql(0)} AS r, {chan_sql(1)} AS g,
                   {chan_sql(2)} AS b
            FROM allpx)
    SELECT tile_y, tile_x,
           {CK.checksum_sql('r', 'gx', 'gy', NF)} AS ck_r,
           {CK.checksum_sql('g', 'gx', 'gy', NF)} AS ck_g,
           {CK.checksum_sql('b', 'gx', 'gy', NF)} AS ck_b
    FROM rgb GROUP BY tile_y, tile_x ORDER BY tile_y, tile_x
    """


@register("raster_color_relief_checksum", oracle=_color_relief_oracle())
def color_relief_checksum(spark, sf_dir):
    """gdaldem color-relief over the z3 density raster: a 4-stop ramp,
    linear interpolation, per-tile checksums of all three channels.
    Spark round (HALF_UP, positive domain) == DuckDB round (half away
    from zero) on identical doubles, so the comparison is bit-exact."""
    from .raster import calc as C

    pts = pages.page_points(spark, sf_dir)
    spec = G.world_3857(FZOOM, FTILE)
    tiles = D.density_tiles(pts, FZOOM, FTILE)
    rgb = C.color_relief(tiles, _RAMP)
    out = None
    for ch, name in (("r", "ck_r"), ("g", "ck_g"), ("b", "ck_b")):
        one = R.tiles_checksum(
            rgb.select("tile_y", "tile_x", F.col(ch).alias("px")), spec
        ).select("tile_y", "tile_x", F.col("checksum").alias(name))
        out = one if out is None else out.join(one, ["tile_y", "tile_x"])
    return out.orderBy("tile_y", "tile_x")


@register("raster_viewshed_counts")  # rows-only: see tests/test_viewshed.py
def viewshed_counts_q(spark, sf_dir):
    """Viewshed (alg/viewshed/viewshed.cpp:124) over the z3 density
    raster as terrain, observer at the grid center 50 px up: per-tile
    visible-pixel counts + visible-distance extrema.

    Why no SQL oracle (documented proof): visibility is a max over an
    ITERATED interpolation chain — each ray walks its intermediate
    samples, and every sample is a bilinear blend of four pixels at a
    ray-dependent fractional position; expressing the per-ray walk
    relationally needs a recursive join whose float accumulation order
    SQL does not pin. The exactness gate is tests/test_viewshed.py:
    the distributed path and the single-node oracle share the LOS
    kernel and are bit-identical."""
    from .raster import viewshed as VS

    pts = pages.page_points(spark, sf_dir)
    spec = G.world_3857(FZOOM, FTILE)
    tiles = D.density_tiles(pts, FZOOM, FTILE)
    vis = VS.viewshed(tiles, spec, ox=NF // 2, oy=NF // 2,
                      obs_height=50.0, max_distance=200.0,
                      out_of_range=-1.0)
    return (vis.select(
        "tile_y", "tile_x",
        F.size(F.filter("px", lambda x: x == 1.0)).cast("long").alias("n_visible"),
        F.size(F.filter("px", lambda x: x == 0.0)).cast("long").alias("n_hidden"))
        .filter((F.col("n_visible") > 0) | (F.col("n_hidden") > 0))
        .orderBy("tile_y", "tile_x"))


@register("raster_grid_idw")  # rows-only: see tests/test_fill_grid.py
def grid_idw_q(spark, sf_dir):
    """Grid interpolation (alg/gdalgrid.cpp IDW): scattered page points
    (value = n_chars) -> full z1 surface in mercator space; per-tile
    checksums. Exactness gated by tests/test_fill_grid.py
    (distributed == single-node); float IDW sums are order-sensitive,
    so no SQL oracle."""
    from .raster import gridding as GR

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pts = d.select(
        F.col("n_chars").cast("double").alias("v"),
        mercator.merc_x_col(pages.lon_col(F.col("doc_id"))).alias("x"),
        mercator.merc_y_col(pages.lat_col(F.col("doc_id"))).alias("y"))
    spec = G.world_3857(1, 64)  # 128px world, 4 tiles
    out = GR.grid_idw(pts, spec, power=2.0)
    return R.tiles_checksum(out, spec).orderBy("tile_y", "tile_x")


@register(
    "raster_band_statistics",
    oracle=f"""
    WITH {_px_cte(ZOOM, TILE)}
    SELECT count(*) AS n_nonzero,
           min(v) AS min_v, max(v) AS max_v,
           {dsum_sql('v', 18, 2)} AS sum_v,
           {dsum_sql('v', 18, 2)} / count(*) AS mean_nonzero,
           count(*) FILTER (WHERE v = 1) AS hist_1,
           count(*) FILTER (WHERE v = 2) AS hist_2,
           count(*) FILTER (WHERE v >= 3) AS hist_3plus
    FROM px
    """,
)
def band_statistics(spark, sf_dir):
    """Band statistics + histogram (gcore/gdalrasterband.cpp
    ComputeStatistics / GetHistogram): computed on the SPARSE pixel
    relation (zero pixels excluded, like the reference's approx-ok
    nonzero stats path) with partial aggregation — no dense
    materialization at any zoom."""
    from .queries import dsum

    pts = pages.page_points(spark, sf_dir)
    px = D.points_to_pixel_counts(pts, ZOOM, TILE)
    return px.agg(
        F.count(F.lit(1)).alias("n_nonzero"),
        F.min("v").alias("min_v"), F.max("v").alias("max_v"),
        dsum(F.col("v"), 18, 2).alias("sum_v"),
        (dsum(F.col("v"), 18, 2) / F.count(F.lit(1))).alias("mean_nonzero"),
        F.count(F.when(F.col("v") == 1, 1)).alias("hist_1"),
        F.count(F.when(F.col("v") == 2, 1)).alias("hist_2"),
        F.count(F.when(F.col("v") >= 3, 1)).alias("hist_3plus"),
    )


def _contour_oracle() -> str:
    """Marching squares IN SQL: the crossing-point SET per square is
    determined by the corner >= level bits alone (saddle pairing only
    changes which points pair into segments, never the points), so the
    endpoint multiset, segment count, and extrema are all relational.
    Interpolation mirrors contour._interp's float ops exactly."""
    return f"""
    WITH {_px_cte(FZOOM, FTILE)},
    sq AS (
      SELECT DISTINCT gx + dx AS sx, gy + dy AS sy
      FROM px, (VALUES (0, 0), (-1, 0), (0, -1), (-1, -1)) AS d(dx, dy)
      WHERE gx + dx BETWEEN 0 AND {NF - 2}
        AND gy + dy BETWEEN 0 AND {NF - 2}
    ),
    c AS (
      SELECT s.sx, s.sy,
             coalesce(p00.v, 0.0) AS c00, coalesce(p10.v, 0.0) AS c10,
             coalesce(p01.v, 0.0) AS c01, coalesce(p11.v, 0.0) AS c11
      FROM sq s
      LEFT JOIN px p00 ON p00.gx = s.sx     AND p00.gy = s.sy
      LEFT JOIN px p10 ON p10.gx = s.sx + 1 AND p10.gy = s.sy
      LEFT JOIN px p01 ON p01.gx = s.sx     AND p01.gy = s.sy + 1
      LEFT JOIN px p11 ON p11.gx = s.sx + 1 AND p11.gy = s.sy + 1
    ),
    b AS (SELECT *, (c00 >= 0.5) AS g00, (c10 >= 0.5) AS g10,
                 (c01 >= 0.5) AS g01, (c11 >= 0.5) AS g11 FROM c),
    act AS (SELECT * FROM b
            WHERE NOT (g00 = g10 AND g10 = g01 AND g01 = g11)),
    mpts AS (
      SELECT sx, sy,
        CASE WHEN g00 <> g10 THEN (CAST(sx AS DOUBLE) + 0.5)
             + (0.5 - c00) / (c10 - c00) END AS topx,
        CASE WHEN g01 <> g11 THEN (CAST(sx AS DOUBLE) + 0.5)
             + (0.5 - c01) / (c11 - c01) END AS botx,
        CASE WHEN g00 <> g01 THEN (CAST(sy AS DOUBLE) + 0.5)
             + (0.5 - c00) / (c01 - c00) END AS lefty,
        CASE WHEN g10 <> g11 THEN (CAST(sy AS DOUBLE) + 0.5)
             + (0.5 - c10) / (c11 - c10) END AS righty,
        CASE WHEN (g00 AND g11 AND NOT g10 AND NOT g01)
               OR (g10 AND g01 AND NOT g00 AND NOT g11)
             THEN 2 ELSE 1 END AS nseg
      FROM act),
    ep AS (
      SELECT topx AS x, CAST(sy AS DOUBLE) + 0.5 AS y FROM mpts
      WHERE topx IS NOT NULL
      UNION ALL SELECT botx, CAST(sy AS DOUBLE) + 1.5 FROM mpts
      WHERE botx IS NOT NULL
      UNION ALL SELECT CAST(sx AS DOUBLE) + 0.5, lefty FROM mpts
      WHERE lefty IS NOT NULL
      UNION ALL SELECT CAST(sx AS DOUBLE) + 1.5, righty FROM mpts
      WHERE righty IS NOT NULL)
    SELECT 0.5 AS level,
           (SELECT CAST(sum(nseg) AS BIGINT) FROM mpts) AS n_segments,
           min(x) AS min_x, max(x) AS max_x,
           min(y) AS min_y, max(y) AS max_y,
           {dsum_sql('x')} AS sum_x, {dsum_sql('y')} AS sum_y
    FROM ep
    """


@register("raster_contour_segments", oracle=_contour_oracle())
def contour_segments_q(spark, sf_dir):
    """Contour (alg/contour.cpp marching squares): iso-line segments of
    the z3 density raster at level 0.5 (the occupied-region outline),
    emitted in global pixel coordinates via the halo-exchange square
    ownership rule. The oracle re-derives the marching-squares crossing
    points relationally (the endpoint SET is saddle-pairing-independent)
    with identical float interpolation; tests/test_contour.py
    additionally pins the full segment pairing distributed ==
    single-node."""
    from .queries import dsum
    from .raster import contour as CN

    pts = pages.page_points(spark, sf_dir)
    spec = G.world_3857(FZOOM, FTILE)
    tiles = D.density_tiles(pts, FZOOM, FTILE)
    segs = CN.contour(tiles, spec, levels=[0.5]).persist()
    eps = (segs.select("level", F.col("x1").alias("x"), F.col("y1").alias("y"))
           .unionByName(
               segs.select("level", F.col("x2").alias("x"),
                           F.col("y2").alias("y"))))
    n = segs.groupBy("level").agg(F.count(F.lit(1)).alias("n_segments"))
    agg = (eps.groupBy("level")
           .agg(F.min("x").alias("min_x"), F.max("x").alias("max_x"),
                F.min("y").alias("min_y"), F.max("y").alias("max_y"),
                dsum(F.col("x")).alias("sum_x"),
                dsum(F.col("y")).alias("sum_y")))
    return (n.join(agg, "level")
            .select("level", "n_segments", "min_x", "max_x",
                    "min_y", "max_y", "sum_x", "sum_y")
            .orderBy("level"))


# contour POLYGONIZE gate: coarser grid (counts reach 2) so BOTH
# levels are active and all three slots get rings
PGZOOM, PGTILE = 1, 64
NPG = (1 << PGZOOM) * PGTILE
PGLEVELS = (0.5, 1.5)


def _border_vals_sql() -> str:
    """(side, vertical, reverse, idx, va) for the four raster-frame
    sides; absent pixels are 0 (contour._SIDES order/orientation)."""
    n1 = NPG - 1
    sides = (("top", "FALSE", "TRUE", "gy = 0", "gx"),
             ("bottom", "FALSE", "FALSE", f"gy = {n1}", "gx"),
             ("left", "TRUE", "FALSE", "gx = 0", "gy"),
             ("right", "TRUE", "TRUE", f"gx = {n1}", "gy"))
    parts = []
    for side, vert, rev, cond, axis in sides:
        parts.append(f"""
      SELECT '{side}' AS side, {vert} AS vertical, {rev} AS reverse,
             r.range AS idx, coalesce(px.v, 0.0) AS va
      FROM range(0, {NPG}) r
      LEFT JOIN px ON px.{cond.split(' = ')[0]} = {cond.split(' = ')[1]}
                  AND px.{axis} = r.range""")
    return " UNION ALL ".join(parts)


def _contour_polygons_oracle() -> str:
    """Iso-polygon ring relation IN SQL (alg/contour.cpp POLYGONIZE;
    ring chaining segment_merger.h:26, nesting
    polygon_ring_appender.h:30). The directed per-slot boundary
    (fixed-saddle contour chords duplicated into both adjacent slots +
    raster-frame pieces split at crossings) is fully relational with
    the same float ops as the engine; rings are the cycles of the
    per-slot functional graph (every vertex has exactly one out-edge),
    recovered with a recursive min-root closure exactly like the
    polygonize oracle. Chaining preserves the edge multiset, so every
    per-ring aggregate (edge count, shoelace area, bbox) matches the
    assembled engine output bit-for-bit."""
    lvals = ", ".join(f"({k}, {float(l)})" for k, l in enumerate(PGLEVELS))
    first_slot = " + ".join(f"CAST(va >= {float(l)} AS INTEGER)"
                            for l in PGLEVELS)
    n1 = NPG - 1
    return f"""
    WITH RECURSIVE {_px_cte(PGZOOM, PGTILE)},
    lv(k, l) AS (VALUES {lvals}),
    sq AS (
      SELECT DISTINCT gx + dx AS sx, gy + dy AS sy
      FROM px, (VALUES (0, 0), (-1, 0), (0, -1), (-1, -1)) AS d(dx, dy)
      WHERE gx + dx BETWEEN 0 AND {NPG - 2}
        AND gy + dy BETWEEN 0 AND {NPG - 2}
    ),
    c AS (
      SELECT s.sx, s.sy,
             coalesce(p00.v, 0.0) AS c00, coalesce(p10.v, 0.0) AS c10,
             coalesce(p01.v, 0.0) AS c01, coalesce(p11.v, 0.0) AS c11
      FROM sq s
      LEFT JOIN px p00 ON p00.gx = s.sx     AND p00.gy = s.sy
      LEFT JOIN px p10 ON p10.gx = s.sx + 1 AND p10.gy = s.sy
      LEFT JOIN px p01 ON p01.gx = s.sx     AND p01.gy = s.sy + 1
      LEFT JOIN px p11 ON p11.gx = s.sx + 1 AND p11.gy = s.sy + 1
    ),
    cc AS (
      SELECT c.*, lv.k, lv.l,
             CAST(c00 >= l AS INTEGER) + 2 * CAST(c10 >= l AS INTEGER)
             + 4 * CAST(c01 >= l AS INTEGER)
             + 8 * CAST(c11 >= l AS INTEGER) AS idx
      FROM c, lv
    ),
    -- crossing points of the active squares, same float ops as
    -- contour._interp (x = (sx + 0.5) + (l - va) / (vb - va))
    p AS (
      SELECT k, idx,
        (CAST(sx AS DOUBLE) + 0.5) + (l - c00) / (c10 - c00) AS tx,
        CAST(sy AS DOUBLE) + 0.5 AS ty,
        (CAST(sx AS DOUBLE) + 0.5) + (l - c01) / (c11 - c01) AS bx,
        CAST(sy AS DOUBLE) + 1.5 AS "by",
        CAST(sx AS DOUBLE) + 0.5 AS lx,
        (CAST(sy AS DOUBLE) + 0.5) + (l - c00) / (c01 - c00) AS ly,
        CAST(sx AS DOUBLE) + 1.5 AS rx,
        (CAST(sy AS DOUBLE) + 0.5) + (l - c10) / (c11 - c10) AS ry
      FROM cc WHERE idx NOT IN (0, 15)
    ),
    -- directed marching-squares table, HIGH side on the left
    -- (contour._square_segments), FIXED saddle pairing (square.h:249)
    seg AS (
      SELECT k,
        CASE idx WHEN 1 THEN lx WHEN 3 THEN lx WHEN 9 THEN lx
                 WHEN 11 THEN lx
                 WHEN 2 THEN tx WHEN 10 THEN tx WHEN 14 THEN tx
                 WHEN 4 THEN bx WHEN 5 THEN bx WHEN 6 THEN bx
                 WHEN 7 THEN bx
                 WHEN 8 THEN rx WHEN 12 THEN rx WHEN 13 THEN rx END AS ax,
        CASE idx WHEN 1 THEN ly WHEN 3 THEN ly WHEN 9 THEN ly
                 WHEN 11 THEN ly
                 WHEN 2 THEN ty WHEN 10 THEN ty WHEN 14 THEN ty
                 WHEN 4 THEN "by" WHEN 5 THEN "by" WHEN 6 THEN "by"
                 WHEN 7 THEN "by"
                 WHEN 8 THEN ry WHEN 12 THEN ry WHEN 13 THEN ry END AS ay,
        CASE idx WHEN 1 THEN tx WHEN 5 THEN tx WHEN 13 THEN tx
                 WHEN 2 THEN rx WHEN 3 THEN rx WHEN 7 THEN rx
                 WHEN 4 THEN lx WHEN 6 THEN lx WHEN 12 THEN lx
                 WHEN 14 THEN lx
                 WHEN 8 THEN bx WHEN 9 THEN bx WHEN 10 THEN bx
                 WHEN 11 THEN bx END AS bx2,
        CASE idx WHEN 1 THEN ty WHEN 5 THEN ty WHEN 13 THEN ty
                 WHEN 2 THEN ry WHEN 3 THEN ry WHEN 7 THEN ry
                 WHEN 4 THEN ly WHEN 6 THEN ly WHEN 12 THEN ly
                 WHEN 14 THEN ly
                 WHEN 8 THEN "by" WHEN 9 THEN "by" WHEN 10 THEN "by"
                 WHEN 11 THEN "by" END AS by2
      FROM p
      UNION ALL  -- second saddle chord: 9 = R->T, 6 = T->R
      SELECT k,
        CASE idx WHEN 9 THEN rx ELSE tx END,
        CASE idx WHEN 9 THEN ry ELSE ty END,
        CASE idx WHEN 9 THEN tx ELSE rx END,
        CASE idx WHEN 9 THEN ty ELSE ry END
      FROM p WHERE idx IN (6, 9)
    ),
    -- each contour bounds BOTH adjacent slots (square.h:356): high
    -- side as emitted, low side reversed
    chords AS (
      SELECT k + 1 AS slot, ax AS x1, ay AS y1, bx2 AS x2, by2 AS y2
      FROM seg
      UNION ALL
      SELECT k, bx2, by2, ax, ay FROM seg
    ),
    -- raster frame: border values (absent pixels are 0), edges
    -- between consecutive border pixel centers
    bval AS ({_border_vals_sql()}),
    bedge AS (
      SELECT side, vertical, reverse, idx, va,
             lead(va) OVER (PARTITION BY side ORDER BY idx) AS vb
      FROM bval QUALIFY vb IS NOT NULL
    ),
    -- breakpoints: edge start (slot of va) + one per level crossing
    bp AS (
      SELECT side, vertical, reverse, idx, 0.0 AS t,
             {first_slot} AS slot
      FROM bedge
      UNION ALL
      SELECT e.side, e.vertical, e.reverse, e.idx,
             (lv.l - e.va) / (e.vb - e.va) AS t,
             CASE WHEN e.va < e.vb THEN lv.k + 1 ELSE lv.k END AS slot
      FROM bedge e JOIN lv ON (e.va >= lv.l) <> (e.vb >= lv.l)
    ),
    bpiece AS (
      SELECT side, vertical, reverse, idx, slot, t AS t1,
             lead(t, 1, 1.0) OVER (PARTITION BY side, idx ORDER BY t)
               AS t2
      FROM bp
    ),
    border AS (
      SELECT CAST(slot AS INTEGER) AS slot,
        CASE WHEN vertical THEN fixed
             WHEN reverse THEN c2 ELSE c1 END AS x1,
        CASE WHEN NOT vertical THEN fixed
             WHEN reverse THEN c2 ELSE c1 END AS y1,
        CASE WHEN vertical THEN fixed
             WHEN reverse THEN c1 ELSE c2 END AS x2,
        CASE WHEN NOT vertical THEN fixed
             WHEN reverse THEN c1 ELSE c2 END AS y2
      FROM (
        SELECT *, (CAST(idx AS DOUBLE) + 0.5) + t1 AS c1,
               (CAST(idx AS DOUBLE) + 0.5) + t2 AS c2,
               CASE side WHEN 'top' THEN 0.5 WHEN 'left' THEN 0.5
                         ELSE {float(n1)} + 0.5 END AS fixed
        FROM bpiece)
    ),
    boundary AS (
      SELECT CAST(slot AS INTEGER) AS slot, x1, y1, x2, y2 FROM chords
      UNION ALL SELECT * FROM border
    ),
    -- per-slot functional graph: every vertex has one out-edge, so
    -- rings = cycles; min-root closure labels them
    vtx AS (
      SELECT slot, x1, y1, x2, y2,
             row_number() OVER (ORDER BY slot, x1, y1) AS vid
      FROM boundary
    ),
    edg AS (
      SELECT a.vid AS va_id, b.vid AS vb_id
      FROM vtx a JOIN vtx b
        ON b.slot = a.slot AND b.x1 = a.x2 AND b.y1 = a.y2
    ),
    reach AS (
      SELECT vid AS pid, vid AS r FROM vtx
      UNION
      SELECT re.pid, e.vb_id FROM reach re JOIN edg e ON e.va_id = re.r
    ),
    root AS (SELECT pid, min(r) AS ring FROM reach GROUP BY pid)
    SELECT v.slot, count(*) AS n_edges,
           {dsum_sql('v.x1 * v.y2 - v.x2 * v.y1')} AS area2,
           min(v.x1) AS min_x, min(v.y1) AS min_y,
           max(v.x1) AS max_x, max(v.y1) AS max_y
    FROM vtx v JOIN root rt ON rt.pid = v.vid
    GROUP BY v.slot, rt.ring
    ORDER BY v.slot, min_y, min_x, n_edges
    """


@register("raster_contour_polygons", oracle=_contour_polygons_oracle())
def contour_polygons_q(spark, sf_dir):
    """Contour POLYGONIZE (GDALContourGenerateEx POLYGONIZE option,
    alg/contour.cpp:569): iso-polygon RING relation of the z1 density
    raster between levels (-inf, 0.5, 1.5, +inf) — the distributed
    boundary build (oriented fixed-saddle chords duplicated into both
    adjacent slots + frame pieces, square.h:291-366) chained into
    closed rings per slot (segment_merger.h:26) with one row per ring:
    edge count, shoelace area (exteriors negative in the y-down frame,
    holes positive), bbox. Ring chaining preserves the edge multiset,
    which is what makes the assembled output SQL-oracle-able; nesting
    itself (polygon_ring_appender.h) is pytest-gated via
    contour_polygons_np == distributed contour_polygons."""
    from .queries import dsum
    from .raster import contour as CN

    pts = pages.page_points(spark, sf_dir)
    spec = G.world_3857(PGZOOM, PGTILE)
    tiles = D.density_tiles(pts, PGZOOM, PGTILE)
    pxc = D.points_to_pixel_counts(pts, PGZOOM, PGTILE)
    px = pxc.select(
        (F.col("tile_x") * PGTILE + F.col("pxi") % PGTILE).alias("gx"),
        (F.col("tile_y") * PGTILE
         + (F.col("pxi") / PGTILE).cast("int")).alias("gy"),
        "v")
    boundary = CN.contour_polygon_boundary(tiles, px, spec, list(PGLEVELS))
    edges = CN.contour_ring_edges(boundary)
    return (edges.groupBy("slot", "ring_id")
            .agg(F.count(F.lit(1)).alias("n_edges"),
                 dsum(F.col("x1") * F.col("y2")
                      - F.col("x2") * F.col("y1")).alias("area2"),
                 F.min("x1").alias("min_x"), F.min("y1").alias("min_y"),
                 F.max("x1").alias("max_x"), F.max("y1").alias("max_y"))
            .select("slot", "n_edges", "area2",
                    "min_x", "min_y", "max_x", "max_y")
            .orderBy("slot", "min_y", "min_x", "n_edges"))


@register("raster_sieve_checksum")  # rows-only: cascade not SQL-expressible
def sieve_checksum(spark, sf_dir):
    """Sieve filter (alg/gdalsievefilter.cpp:178): sub-threshold
    components of the z3 density raster merge into their largest
    neighbour; per-tile checksums of the sieved band.

    Why no SQL oracle (the documented proof): the smallest-first
    cascade is an ITERATED priority process — each merge mutates the
    component sizes that later merge decisions compare (sizes[target]
    += sizes[lab] inside the loop), and equal-size candidates pop in
    label order. A relational (recursive-CTE) formulation would need
    an ordered fold over a mutating aggregate, which SQL recursion
    (monotone set semantics) cannot express; GDAL itself runs this as
    a sequential loop (gdalsievefilter.cpp:381-478). The exactness
    gate is tests/test_sieve.py's distributed == single-node equality
    (both merge strategies), which pins every rule the cascade uses."""
    from .raster import sieve as SV

    pts = pages.page_points(spark, sf_dir)
    spec = G.world_3857(FZOOM, FTILE)
    tiles = D.density_tiles(pts, FZOOM, FTILE)
    out = SV.sieve(tiles, spec, threshold=2)
    return (R.tiles_checksum(out, spec)
            .orderBy("tile_y", "tile_x"))


def _polygonize_rings_oracle() -> str:
    return f"""
    WITH RECURSIVE {_px_cte(PZOOM, PTILE)},
    pxi AS (SELECT gx, gy, v, gy * {NP4} + gx AS pid FROM px),
    e AS (
      SELECT a.pid AS pa, b.pid AS pb FROM pxi a JOIN pxi b
      ON a.v = b.v AND ((b.gx = a.gx + 1 AND b.gy = a.gy)
                     OR (b.gx = a.gx AND b.gy = a.gy + 1))
    ),
    eb AS (SELECT pa, pb FROM e UNION SELECT pb AS pa, pa AS pb FROM e),
    reach AS (
      SELECT pid, pid AS r FROM pxi
      UNION
      SELECT eb.pa AS pid, reach.r FROM eb JOIN reach ON eb.pb = reach.pid
    ),
    root AS (SELECT pid, min(r) AS root FROM reach GROUP BY pid)
    SELECT min(v) AS value, count(*) AS n_px,
           CAST(count(*) AS DOUBLE) AS poly_area,
           min(gx) AS min_x, min(gy) AS min_y,
           max(gx) AS max_x, max(gy) AS max_y
    FROM pxi JOIN root USING (pid)
    GROUP BY root.root
    ORDER BY min_y, min_x, value
    """


def polygonize_rings(spark, sf_dir):
    """Full polygonize with TRACED RING GEOMETRY (the reference's
    emitted polygon features): per component, the shoelace area of the
    traced rings (exterior minus holes) must equal the pixel count
    EXACTLY — the oracle pins the geometry's area without needing ring
    tracing in SQL; the full shape identity (rasterize(trace(x)) == x)
    is gated in tests/test_polygonize_geoms.py."""
    from .geo import geom as _geom
    from .geo import wkb as _wkb

    pts = pages.page_points(spark, sf_dir)
    spec = G.world_3857(PZOOM, PTILE)
    tiles = D.density_tiles(pts, PZOOM, PTILE)
    geoms = PZ.polygonize_geoms(tiles, spec)

    from pyspark.sql import types as T

    @F.pandas_udf(T.DoubleType())
    def poly_area(g: pd.Series) -> pd.Series:
        out = []
        for b in g:
            rings = _wkb.polygon_rings(bytes(b))[0]
            out.append(abs(_geom.ring_area(rings[0]))
                       - sum(abs(_geom.ring_area(r)) for r in rings[1:]))
        return pd.Series(out)

    return (geoms.withColumn("poly_area", poly_area(F.col("geom")))
            .select("value", F.col("n_px").cast("long").alias("n_px"),
                    "poly_area", "min_x", "min_y", "max_x", "max_y")
            .orderBy("min_y", "min_x", "value"))


def polygonize_components(spark, sf_dir):
    """gdal_polygonize analog: connected components of the z4 density
    raster (equal-valued 4-connected pixels), value + pixel count +
    bbox per component. The oracle is a recursive-CTE transitive
    closure — tractable at test scale; the engine's tile-CCL +
    boundary-merge is the 10^12-scale path."""
    pts = pages.page_points(spark, sf_dir)
    spec = G.world_3857(PZOOM, PTILE)
    tiles = D.density_tiles(pts, PZOOM, PTILE)
    return (PZ.polygonize(tiles, spec, connect8=False)
            .withColumn("n_px", F.col("n_px").cast("long"))
            .orderBy("min_y", "min_x", "value"))


@register(
    "raster_polygonize",
    oracle=f"""
    SELECT 'rings' AS part, value, n_px, poly_area,
           min_x, min_y, max_x, max_y
    FROM ({_polygonize_rings_oracle()})
    UNION ALL
    SELECT 'components' AS part, value, n_px, CAST(0.0 AS DOUBLE) AS poly_area,
           min_x, min_y, max_x, max_y
    FROM ({_polygonize_oracle()})
    ORDER BY part, min_y, min_x, value
    """,
)
def polygonize_gate(spark, sf_dir):
    """gdal_polygonize, one gate (merged for the 50-entry window):
    part='components'  distributed tile-CCL + boundary merge — value,
                       pixel count, bbox per 4-connected component
                       (oracle: recursive-CTE transitive closure);
    part='rings'       the same components with TRACED RING GEOMETRY —
                       the shoelace area of the traced rings (exterior
                       minus holes) must equal the pixel count exactly."""
    rings = polygonize_rings(spark, sf_dir).select(
        F.lit("rings").alias("part"), "value", "n_px", "poly_area",
        "min_x", "min_y", "max_x", "max_y")
    comps = polygonize_components(spark, sf_dir).select(
        F.lit("components").alias("part"), "value", "n_px",
        F.lit(0.0).alias("poly_area"), "min_x", "min_y", "max_x", "max_y")
    return (rings.unionByName(comps)
            .orderBy("part", "min_y", "min_x", "value"))
