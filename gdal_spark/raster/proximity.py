"""Proximity raster: per-pixel distance to the nearest target pixel.

Reference: alg/gdalproximity.cpp:94 `GDALComputeProximity` — for each
pixel, the euclidean PIXEL distance to the nearest pixel whose value
is in the target set, capped at maxdist (beyond -> nodata/maxdist).
The reference runs a two-pass chamfer over scanlines (approximate at
the margins); both of our paths are EXACT and bit-identical.

`proximity` picks the path from the target count, read by one driver
fetch of at most MAX_BROADCAST_TARGETS + 1 target pixels that also
supplies the broadcast arrays:

  broadcast — target pixels of a density-style raster are its sparse
      nonzero relation, usually MUCH smaller than the raster: ship the
      target coordinate array to every task and compute each tile's
      distance field vectorized. Up to MAX_BROADCAST_TARGETS.

  level bound (`proximity_ring`, scale path) — one lazy plan: (1) an
      upper bound `ub` on each output tile's Chebyshev distance r0, in
      tiles, to its nearest target tile, read from the target-tile
      occupancy of a block hierarchy (blocks of 2^l tiles, l =
      0..ceil(log2 r_cap)) through one 3x3-block probe per level;
      (2) each tile gathers every target tile within the rectangle of
      radius R = ceil(sqrt(2) * (ub + 1)) + 1 tiles, clamped to r_cap,
      and takes the vectorized per-pixel min. A target tile is one row
      holding its targets' coordinate arrays, so the gather moves at
      most (2R + 1)^2 rows per output tile. Only tile and block keys
      are hash-joined; nothing goes through the driver once the path
      is chosen. The exactness proof is on `proximity_ring`.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import grid as G

MAX_BROADCAST_TARGETS = 2_000_000


def _target_tiles(tiles: DataFrame, spec: G.GridSpec) -> DataFrame:
    """Tiles holding a target: (t_ty, t_tx, gxs, gys), the grid
    coordinates of the tile's nonzero pixels as two arrays. A tile's
    row stride is its own width: partial edge tiles are narrower than
    spec.tile."""
    t = spec.tile
    w = F.least(F.lit(t), F.lit(spec.width) - F.col("tile_x") * t)
    hit = F.filter(F.sequence(F.lit(0), F.size("px") - 1),
                   lambda i: F.col("px")[i] != 0)
    return (tiles.select(F.col("tile_y").alias("t_ty"),
                         F.col("tile_x").alias("t_tx"),
                         hit.alias("i"), w.alias("w"))
            .filter(F.size("i") > 0)
            .select("t_ty", "t_tx",
                    F.transform("i", lambda i: F.col("t_tx") * t
                                + i % F.col("w")).alias("gxs"),
                    F.transform("i", lambda i: F.col("t_ty") * t
                                + (i / F.col("w")).cast("int")).alias("gys")))


def _dist_field(key, cand_x: np.ndarray, cand_y: np.ndarray,
                spec: G.GridSpec, max_dist: float, nodata: float):
    """Exact per-tile distance field over gathered candidates (chunked
    to bound the (pixels x candidates) matrix). Shared by both
    paths so they are bit-identical."""
    t = spec.tile
    ty_, tx_ = int(key[0]), int(key[1])
    h, w = spec.tile_shape(ty_, tx_)
    gx, gy = np.meshgrid(np.arange(tx_ * t, tx_ * t + w, dtype=np.float64),
                         np.arange(ty_ * t, ty_ * t + h, dtype=np.float64))
    px = gx.ravel()
    py = gy.ravel()
    if len(cand_x) == 0:
        out = np.full(px.shape, float(nodata))
    else:
        out = np.empty(px.shape)
        step = max(1, int(4_000_000 // max(len(cand_x), 1)))
        for i in range(0, len(px), step):
            dx = px[i:i + step, None] - cand_x[None, :]
            dy = py[i:i + step, None] - cand_y[None, :]
            out[i:i + step] = np.sqrt((dx * dx + dy * dy).min(axis=1))
        out = np.where(out <= max_dist, out, nodata)
    return pd.DataFrame({"tile_y": [ty_], "tile_x": [tx_],
                         "px": [out.tolist()]})


def proximity(tiles: DataFrame, spec: G.GridSpec,
              max_dist: float = float("inf"),
              nodata: float = -1.0) -> DataFrame:
    """-> distance tiles over the SAME tile set. Pixels farther than
    max_dist from every target get `nodata` (gdalproximity maxdist
    semantics). Distance unit: pixels.

    Up to MAX_BROADCAST_TARGETS target pixels are fetched once and
    broadcast; past that the scale path `proximity_ring` runs, after
    this one fetch of MAX_BROADCAST_TARGETS + 1 rows to the driver."""
    tbl = (_target_tiles(tiles, spec).select(F.inline(F.arrays_zip("gxs", "gys")))
           .limit(MAX_BROADCAST_TARGETS + 1).toArrow())
    if tbl.num_rows > MAX_BROADCAST_TARGETS:
        return proximity_ring(tiles, spec, max_dist, nodata)
    tx = tbl.column("gxs").to_numpy().astype(np.float64)
    ty = tbl.column("gys").to_numpy().astype(np.float64)
    b = tiles.sparkSession.sparkContext.broadcast((tx, ty))

    def dist_tile(key, pdf: pd.DataFrame) -> pd.DataFrame:
        ctx, cty = b.value
        return _dist_field(key, ctx, cty, spec, max_dist, nodata)

    # only the group keys reach Python: dist_tile reads no pixel
    return (tiles.select("tile_y", "tile_x").groupBy("tile_y", "tile_x")
            .applyInPandas(dist_tile, G.TILE_SCHEMA))


def proximity_ring(tiles: DataFrame, spec: G.GridSpec,
                   max_dist: float = float("inf"),
                   nodata: float = -1.0) -> DataFrame:
    """Scale path: a hierarchical bound on each tile's distance to its
    nearest target tile, then a bounded candidate gather. One lazy
    plan: no Spark job runs before the caller's action, nothing is
    cached. Bit-identical to the broadcast path.

    Why it is exact. r0 is a tile's Chebyshev distance, in tiles, to
    the nearest tile holding a target; r_cap is the radius past which
    every target is farther than max_dist from every pixel of the tile
    (a tile at Chebyshev r holds no pixel within (r - 1) * t), or the
    grid's extent when max_dist is infinite. At level l, tiles group
    into blocks of 2^l x 2^l (block key = tile >> l).
    - Upper bound. A target tile in a block at Chebyshev block offset
      c <= 1 from the tile's own block lies within (c + 1) * 2^l - 1
      tiles of it on each axis, so r0 <= ub = min over every hit of
      (c + 1) * 2^l - 1.
    - Completeness. At the top level L = ceil(log2 r_cap), 2^L >= r_cap:
      a target tile within r_cap tiles differs by at most one block on
      each axis, so it is a hit. A tile with no hit at any level has
      no target within r_cap: it is pure nodata, as it should be.
    - Gather. The nearest target is within sqrt(2) * (r0 + 1) * t
      pixels of every pixel of the tile; a tile at Chebyshev r' holds
      no pixel closer than (r' - 1) * t. So every target that can be
      a pixel's nearest lies within R(r0) = ceil(sqrt(2) * (r0 + 1)) + 1
      tiles. R only grows with its argument, so R(ub) >= R(r0), and
      clamping at r_cap drops only targets beyond max_dist. The
      per-pixel min over the gathered superset is the true min.
    """
    t = spec.tile
    grid_reach = max(spec.tiles_y, spec.tiles_x)
    if np.isfinite(max_dist):
        r_cap = min(int(np.ceil(max_dist / t)) + 1, grid_reach)
    else:
        r_cap = grid_reach
    top = (r_cap - 1).bit_length()  # ceil(log2 r_cap)

    ttiles = _target_tiles(tiles, spec)
    keys = tiles.select("tile_y", "tile_x")

    def shr(c: str) -> Column:
        return F.call_function("shiftright", F.col(c), F.col("lvl"))

    occ = (ttiles.select("t_ty", "t_tx",
                         F.explode(F.sequence(F.lit(0), F.lit(top))).alias("lvl"))
           .select("lvl", shr("t_ty").alias("by"), shr("t_tx").alias("bx"))
           .distinct())
    # probe i -> level i // 9, block offset (i % 9 // 3 - 1, i % 3 - 1)
    probe = (keys.select("tile_y", "tile_x", F.explode(
                 F.sequence(F.lit(0), F.lit(9 * top + 8))).alias("i"))
             .select("tile_y", "tile_x",
                     (F.col("i") / 9).cast("int").alias("lvl"),
                     ((F.col("i") % 9 / 3).cast("int") - 1).alias("dy"),
                     (F.col("i") % 3 - 1).alias("dx"))
             .select("tile_y", "tile_x", "lvl",
                     (shr("tile_y") + F.col("dy")).alias("by"),
                     (shr("tile_x") + F.col("dx")).alias("bx"),
                     F.greatest(F.abs("dy"), F.abs("dx")).alias("c")))
    ub = (probe.join(occ, ["lvl", "by", "bx"])
          .groupBy("tile_y", "tile_x")
          .agg(F.min(F.call_function("shiftleft", F.col("c") + 1, F.col("lvl"))
                     - 1).alias("ub")))

    r = F.least(F.ceil(F.lit(float(np.sqrt(2.0))) * (F.col("ub") + 1)) + 1,
                F.lit(r_cap)).cast("int")

    def span(c: str, n: int) -> Column:
        return F.sequence(F.greatest(F.col(c) - F.col("r"), F.lit(0)),
                          F.least(F.col(c) + F.col("r"), F.lit(n - 1)))

    cand = (ub.withColumn("r", r)
            .select("tile_y", "tile_x",
                    F.explode(span("tile_x", spec.tiles_x)).alias("t_tx"),
                    span("tile_y", spec.tiles_y).alias("tys"))
            .select("tile_y", "tile_x", "t_tx", F.explode("tys").alias("t_ty"))
            .join(ttiles, ["t_ty", "t_tx"])
            .select("tile_y", "tile_x", "gxs", "gys"))

    # one candidate-free row per output tile, so a tile no target
    # reaches still comes out (as pure nodata)
    none = F.lit(None).cast("array<int>")
    cand = cand.unionByName(keys.select("tile_y", "tile_x", none.alias("gxs"),
                                        none.alias("gys")))

    def dist_tile(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.dropna()
        return _dist_field(key, np.concatenate([np.empty(0), *pdf["gxs"]]),
                           np.concatenate([np.empty(0), *pdf["gys"]]),
                           spec, max_dist, nodata)

    # a fixed partition count: adaptive execution would coalesce this
    # small shuffle onto one or two tasks and serialize the numpy stage
    n = int(tiles.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return (cand.repartition(n, "tile_y", "tile_x")
            .groupBy("tile_y", "tile_x").applyInPandas(dist_tile, G.TILE_SCHEMA))


def proximity_np(canvas: np.ndarray, max_dist: float = float("inf"),
                 nodata: float = -1.0) -> np.ndarray:
    """Single-node oracle (brute force)."""
    ys, xs = np.nonzero(canvas)
    out = np.full(canvas.shape, nodata, dtype=np.float64)
    if len(xs) == 0:
        return out
    gy, gx = np.mgrid[0:canvas.shape[0], 0:canvas.shape[1]]
    d = np.sqrt(
        (gx[..., None] - xs[None, None, :]) ** 2.0
        + (gy[..., None] - ys[None, None, :]) ** 2.0).min(axis=2)
    return np.where(d <= max_dist, d, nodata)
