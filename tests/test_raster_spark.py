"""Distributed raster operators vs their single-node numpy oracles.

The contract: a distributed run over tile tasks must reproduce the
full-canvas single-node kernel bit-for-bit (same fill rule, same
checksum), for any tiling.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gdal_spark.geo import wkb
from gdal_spark.raster import checksum as CK
from gdal_spark.raster import density as D
from gdal_spark.raster import grid as G
from gdal_spark.raster import polygonize as PZ
from gdal_spark.raster import pyramid as P
from gdal_spark.raster import rasterize as R
from gdal_spark.raster import warp as W
from gdal_spark.sources import admin, pages


def tiles_to_canvas(tiles_df, spec):
    canvas = np.zeros((spec.height, spec.width), dtype=np.float64)
    for row in tiles_df.collect():
        ty, tx = row["tile_y"], row["tile_x"]
        h, w = spec.tile_shape(ty, tx)
        canvas[ty * spec.tile:ty * spec.tile + h,
               tx * spec.tile:tx * spec.tile + w] = \
            np.asarray(row["px"], np.float64).reshape(h, w)
    return canvas


def _features(n=6):
    feats = []
    for i in range(n):
        cx, cy = 10 + 13 * i, 8 + 9 * (i % 3)
        ang = np.linspace(0, 2 * np.pi, 5 + i, endpoint=False) + 0.3 * i
        r = 4.0 + 1.7 * i
        ring = np.column_stack([cx + r * np.cos(ang), cy + 0.8 * r * np.sin(ang)])
        feats.append((float(i + 1), [np.vstack([ring, ring[:1]])]))
    return feats


def test_distributed_rasterize_matches_oracle(spark):
    spec = G.GridSpec(96, 40, (0.0, 1.0, 0.0, 40.0, 0.0, -1.0), tile=16)
    feats = _features()
    for merge in ("replace", "add"):
        want = R.rasterize_np(spec, feats, merge=merge)
        rows = [(i, burn, bytearray(wkb.polygon(rings)))
                for i, (burn, rings) in enumerate(feats)]
        polys = spark.createDataFrame(rows, "fid long, burn double, geom binary")
        got = tiles_to_canvas(R.rasterize(polys, spec, merge=merge), spec)
        np.testing.assert_array_equal(got, want)


def test_distributed_rasterize_checksum_combines(spark):
    spec = G.GridSpec(96, 40, (0.0, 1.0, 0.0, 40.0, 0.0, -1.0), tile=16)
    feats = _features()
    rows = [(i, burn, bytearray(wkb.polygon(rings)))
            for i, (burn, rings) in enumerate(feats)]
    polys = spark.createDataFrame(rows, "fid long, burn double, geom binary")
    tiles = R.rasterize(polys, spec, merge="add")
    cs = R.tiles_checksum(tiles, spec)
    total = cs.agg(F.sum("checksum")).collect()[0][0] % 65536
    want = CK.checksum_np(R.rasterize_np(spec, feats, merge="add"), is_float=True)
    assert total == want


def test_density_tiles_match_direct_counts(spark, sf_dir):
    zoom, tile = 3, 64  # 512x512 world grid
    pts = pages.page_points(spark, sf_dir)
    tiles = D.density_tiles(pts, zoom, tile)
    spec = G.world_3857(zoom, tile)
    canvas = tiles_to_canvas(tiles, spec)
    # oracle: numpy pixel assignment of the same lon/lat
    pdf = pts.select("lon", "lat").toPandas()
    n = (1 << zoom) * tile
    gx = np.clip(np.floor((pdf["lon"].to_numpy() + 180.0) / 360.0 * n), 0, n - 1).astype(int)
    from gdal_spark.geo import mercator
    _, my = mercator.lonlat_to_meters_np(
        pdf["lon"].to_numpy(),
        np.clip(pdf["lat"].to_numpy(), -mercator.MERCATOR_MAX_LAT, mercator.MERCATOR_MAX_LAT))
    gy = np.clip(np.floor((mercator.ORIGIN_SHIFT - my) / (2 * mercator.ORIGIN_SHIFT) * n),
                 0, n - 1).astype(int)
    want = np.zeros((n, n))
    np.add.at(want, (gy, gx), 1.0)
    np.testing.assert_array_equal(canvas, want)
    assert canvas.sum() == len(pdf)


def test_tiles_to_pixels_partial_edge_tiles(spark):
    """53 x 37 with tile 8: the last tile column is 5 px wide and the
    last tile row 5 px high, so each tile's pixels decode with its own
    width. Every nonzero pixel comes back once, NaN included (it is
    nonzero), with its value."""
    spec = G.GridSpec(53, 37, (0.0, 1.0, 0.0, 37.0, 0.0, -1.0), tile=8)
    rng = np.random.default_rng(11)
    canvas = np.where(rng.random((37, 53)) < 0.2, rng.random((37, 53)), 0.0)
    canvas[36, 52] = np.nan
    rows = []
    for ty in range(spec.tiles_y):
        for tx in range(spec.tiles_x):
            h, w = spec.tile_shape(ty, tx)
            rows.append((ty, tx, canvas[ty * 8:ty * 8 + h,
                                        tx * 8:tx * 8 + w].ravel().tolist()))
    tiles = spark.createDataFrame(rows, "tile_y int, tile_x int, px array<double>")
    got = np.zeros_like(canvas)
    seen = np.zeros(canvas.shape, dtype=int)
    for r in D.tiles_to_pixels(tiles, spec).collect():
        got[r["gy"], r["gx"]] = r["v"]
        seen[r["gy"], r["gx"]] += 1
    np.testing.assert_array_equal(seen, (canvas != 0).astype(int))
    np.testing.assert_array_equal(got, canvas)


def test_pyramid_sum_equals_coarser_density(spark, sf_dir):
    """Sum-downsampled density at z-1 == density computed directly at
    z-1 (the 2x2 pixel containment property of the mercator pyramid)."""
    tile = 32
    pts = pages.page_points(spark, sf_dir).persist()
    base = D.density_tiles(pts, 3, tile)
    levels = P.build_pyramid(base, 3, 1, kernel="sum", tile=tile)
    for z in (2, 1):
        spec = G.world_3857(z, tile)
        got = tiles_to_canvas(levels[z], spec)
        want = tiles_to_canvas(D.density_tiles(pts, z, tile), spec)
        np.testing.assert_array_equal(got, want)
    pts.unpersist()


def test_pyramid_near_average(spark):
    """near/average kernels on a synthetic 2-tile base level."""
    tile = 4
    rows = []
    for ty in range(2):
        for tx in range(2):
            arr = np.full((tile, tile), float(ty * 2 + tx + 1))
            rows.append((ty, tx, arr.ravel().tolist()))
    base = spark.createDataFrame(rows, "tile_y int, tile_x int, px array<double>")
    out = P.overview_level(base, 1, kernel="average", tile=tile).collect()
    assert len(out) == 1
    arr = np.asarray(out[0]["px"]).reshape(tile, tile)
    # each quadrant of the parent tile is the average of one child == its value
    assert arr[0, 0] == 1.0 and arr[0, 3] == 2.0 and arr[3, 0] == 3.0 and arr[3, 3] == 4.0


def test_warp_3857_to_4326_near_matches_oracle(spark, sf_dir):
    tile = 32
    zoom = 3
    pts = pages.page_points(spark, sf_dir)
    src_spec = G.world_3857(zoom, tile)
    src_tiles = D.density_tiles(pts, zoom, tile).persist()
    dst_spec = G.world_4326(192, 96, tile=tile)
    got = tiles_to_canvas(W.warp(src_tiles, src_spec, dst_spec, kernel="near"),
                          dst_spec)
    # single-node oracle: same inverse mapping on the full canvases
    src_canvas = tiles_to_canvas(src_tiles, src_spec)
    gy, gx = np.mgrid[0:96, 0:192]
    spx, spy = W._dst_pos_in_src_px(dst_spec, src_spec,
                                    gx.ravel().astype(float), gy.ravel().astype(float))
    ix, iy = np.floor(spx).astype(int), np.floor(spy).astype(int)
    ok = (ix >= 0) & (ix < src_spec.width) & (iy >= 0) & (iy < src_spec.height)
    want = np.zeros(96 * 192)
    want[ok] = src_canvas[iy[ok], ix[ok]]
    np.testing.assert_array_equal(got.ravel(), want)
    src_tiles.unpersist()


def test_warp_bilinear_smoke(spark):
    # constant raster stays constant under bilinear warp (interior)
    tile = 16
    src_spec = G.world_3857(1, tile)  # 32x32 px world
    rows = [(ty, tx, np.full(tile * tile, 7.0).tolist())
            for ty in range(2) for tx in range(2)]
    src = spark.createDataFrame(rows, "tile_y int, tile_x int, px array<double>")
    dst_spec = G.world_4326(32, 16, tile=tile)
    canvas = tiles_to_canvas(W.warp(src, src_spec, dst_spec, kernel="bilinear"),
                             dst_spec)
    interior = canvas[4:12, 2:30]
    np.testing.assert_allclose(interior, 7.0)


def test_suggested_warp_output_edgewalk():
    src = G.world_3857(2, 32)  # 128px square world in 3857
    out = W.suggested_warp_output(src, "EPSG:4326")
    assert out.crs == "EPSG:4326"
    # bbox must be the full lon range and the mercator max-lat range
    assert out.gt[0] == pytest.approx(-180.0)
    from gdal_spark.geo import mercator
    assert out.gt[3] == pytest.approx(mercator.MERCATOR_MAX_LAT, abs=1e-6)
    # diagonal pixel count preserved-ish
    assert 0.5 < np.hypot(out.width, out.height) / np.hypot(128, 128) < 2.0


def test_distributed_polygonize_matches_oracle(spark):
    rng = np.random.default_rng(3)
    full = (rng.integers(0, 2, size=(48, 80)) * rng.integers(1, 3, size=(48, 80))
            ).astype(np.float64)
    spec = G.GridSpec(80, 48, (0.0, 1.0, 0.0, 48.0, 0.0, -1.0), tile=16)
    rows = []
    for ty in range(spec.tiles_y):
        for tx in range(spec.tiles_x):
            h, w = spec.tile_shape(ty, tx)
            sub = full[ty * 16:ty * 16 + h, tx * 16:tx * 16 + w]
            rows.append((ty, tx, sub.ravel().tolist()))
    tiles = spark.createDataFrame(rows, "tile_y int, tile_x int, px array<double>")
    got = PZ.polygonize(tiles, spec).toPandas()
    want = PZ.polygonize_np(full)
    key = ["value", "n_px", "min_x", "min_y", "max_x", "max_y"]
    gs = sorted(map(tuple, got[key].to_numpy().tolist()))
    ws = sorted(map(tuple, want[key].to_numpy().tolist()))
    assert gs == ws


def test_polygonize_components_span_many_tiles(spark):
    """One long horizontal stripe across every tile must merge into a
    single component."""
    spec = G.GridSpec(64, 16, (0.0, 1.0, 0.0, 16.0, 0.0, -1.0), tile=8)
    full = np.zeros((16, 64))
    full[5, :] = 4.0
    rows = []
    for ty in range(2):
        for tx in range(8):
            rows.append((ty, tx, full[ty * 8:(ty + 1) * 8, tx * 8:(tx + 1) * 8].ravel().tolist()))
    tiles = spark.createDataFrame(rows, "tile_y int, tile_x int, px array<double>")
    out = PZ.polygonize(tiles, spec).collect()
    assert len(out) == 1
    assert out[0]["n_px"] == 64 and out[0]["value"] == 4.0
    assert (out[0]["min_x"], out[0]["max_x"]) == (0, 63)
