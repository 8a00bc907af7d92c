"""gdalwarp / gdal_translate file-to-file drivers (apps/gdalwarp_lib.cpp,
apps/gdal_translate_lib.cpp shapes over the GeoTIFF codec)."""

import numpy as np
import pytest

from gdal_spark.raster import geotiff as GT
from gdal_spark.raster import grid as G
from gdal_spark.raster import translate as TR

TS = 16


def _write_src(spark, path, w=48, h=32, crs="EPSG:4326"):
    spec = G.GridSpec(width=w, height=h,
                      gt=(10.0, 0.125, 0.0, 52.0, 0.0, -0.125),
                      crs=crs, tile=TS)
    rng = np.random.default_rng(5)
    rows = []
    for ty in range(spec.tiles_y):
        for tx in range(spec.tiles_x):
            hh, ww = spec.tile_shape(ty, tx)
            rows.append((ty, tx,
                         rng.integers(1, 100, hh * ww)
                         .astype(float).tolist()))
    df = spark.createDataFrame(rows, G.TILE_SCHEMA)
    GT.write_geotiff(df, spec, path)
    return spec, {(r.tile_y, r.tile_x): np.asarray(r.px)
                  for r in df.collect()}


def test_gdalwarp_reprojects_file_to_file(spark, tmp_path):
    src = str(tmp_path / "src.tif")
    dst = str(tmp_path / "dst.tif")
    _write_src(spark, src)
    out_spec = TR.gdalwarp(spark, src, dst, "EPSG:3857", kernel="near",
                           tile=TS)
    spec2, tiles2 = GT.read_geotiff(spark, dst)
    assert spec2 == out_spec and spec2.crs == "EPSG:3857"
    vals = np.concatenate([np.asarray(r.px) for r in tiles2.collect()])
    # warped pixels come from the source value set (near kernel)
    assert set(np.unique(vals[vals > 0])) <= set(range(1, 100))
    assert (vals > 0).sum() > 0.5 * len(vals)


def test_translate_projwin_crop(spark, tmp_path):
    src = str(tmp_path / "src.tif")
    dst = str(tmp_path / "crop.tif")
    spec, blocks = _write_src(spark, src)
    # world window covering pixel window x:[8,40) y:[8,24)
    ulx = spec.gt[0] + 8 * spec.gt[1]
    uly = spec.gt[3] + 8 * spec.gt[5]
    lrx = spec.gt[0] + 40 * spec.gt[1]
    lry = spec.gt[3] + 24 * spec.gt[5]
    out = TR.gdal_translate(spark, src, dst, projwin=(ulx, uly, lrx, lry))
    assert (out.width, out.height) == (32, 16)
    spec2, tiles2 = GT.read_geotiff(spark, dst)
    assert spec2.gt[0] == pytest.approx(ulx)
    assert spec2.gt[3] == pytest.approx(uly)
    # crop content matches the source pixel window exactly
    full = np.zeros((spec.height, spec.width))
    for (ty, tx), px in blocks.items():
        h, w = spec.tile_shape(ty, tx)
        full[ty * TS:ty * TS + h, tx * TS:tx * TS + w] = px.reshape(h, w)
    got = np.zeros((16, 32))
    for r in tiles2.collect():
        h, w = spec2.tile_shape(r.tile_y, r.tile_x)
        got[r.tile_y * TS:r.tile_y * TS + h,
            r.tile_x * TS:r.tile_x * TS + w] = \
            np.asarray(r.px).reshape(h, w)
    np.testing.assert_array_equal(got, full[8:24, 8:40])


def test_translate_outsize_and_scale(spark, tmp_path):
    src = str(tmp_path / "src.tif")
    dst = str(tmp_path / "small.tif")
    _write_src(spark, src)
    out = TR.gdal_translate(spark, src, dst, outsize=(24, 16),
                            scale=(0.0, 100.0, 0.0, 1.0), dtype="float32")
    assert (out.width, out.height) == (24, 16)
    _, tiles2 = GT.read_geotiff(spark, dst)
    vals = np.concatenate([np.asarray(r.px) for r in tiles2.collect()])
    assert vals.min() >= 0.0 and vals.max() <= 1.0


def test_gdalwarp_multiband(spark, tmp_path):
    spec = G.GridSpec(width=TS * 2, height=TS * 2,
                      gt=(10.0, 0.125, 0.0, 52.0, 0.0, -0.125),
                      crs="EPSG:4326", tile=TS)
    bands = []
    for v in (10.0, 20.0, 30.0):
        rows = [(ty, tx, [v] * (TS * TS))
                for ty in range(2) for tx in range(2)]
        bands.append(spark.createDataFrame(rows, G.TILE_SCHEMA))
    src = str(tmp_path / "rgb_src.tif")
    GT.write_geotiff_bands(bands, spec, src, dtype="uint8")
    dst = str(tmp_path / "rgb_warp.tif")
    TR.gdalwarp(spark, src, dst, "EPSG:3857", kernel="near", tile=TS)
    spec2, dfs = GT.read_geotiff_bands(spark, dst)
    assert spec2.crs == "EPSG:3857" and len(dfs) == 3
    for df, v in zip(dfs, (10.0, 20.0, 30.0)):
        vals = np.concatenate([np.asarray(r.px) for r in df.collect()])
        assert set(np.unique(vals)) <= {0.0, v}
        assert (vals == v).sum() > 0.5 * len(vals)


def test_translate_bad_window(spark, tmp_path):
    src = str(tmp_path / "src.tif")
    _write_src(spark, src)
    with pytest.raises(ValueError, match="projwin"):
        TR.gdal_translate(spark, src, str(tmp_path / "x.tif"),
                          projwin=(999.0, 999.0, 1000.0, 998.0))


def _hexagon(cx, cy, rx, ry):
    ang = 0.31 + 2.0 * np.pi * np.arange(6) / 6
    ring = np.column_stack([cx + rx * np.cos(ang), cy + ry * np.sin(ang)])
    return np.vstack([ring, ring[:1]])


def test_apply_cutline_matches_numpy_mask(spark):
    """apply_cutline == rasterize_np mask applied to the canvas, for
    both the pixel-center and ALL_TOUCHED rules; untouched tiles are
    PRUNED (absent == nodata)."""
    from gdal_spark.raster import rasterize as RZ
    from gdal_spark.raster import warp as W
    from gdal_spark.geo import wkb
    from tests.test_sieve import _tiles
    from tests.test_raster_spark import tiles_to_canvas

    rng = np.random.default_rng(11)
    spec = G.GridSpec(48, 32, (0.0, 1.0, 0.0, 32.0, 0.0, -1.0), tile=TS)
    canvas = rng.integers(1, 50, size=(32, 48)).astype(np.float64)
    ring = _hexagon(20.3, 17.7, 14.1, 9.3)  # world == flipped-y pixel
    cut = spark.createDataFrame(
        [(0, bytearray(wkb.polygon([ring])))], "fid long, geom binary")
    for at in (False, True):
        masked = W.apply_cutline(_tiles(spark, canvas, spec), cut, spec,
                                 all_touched=at)
        got = tiles_to_canvas(masked, spec)
        m = RZ.rasterize_np(spec, [(1.0, [ring])], all_touched=at) == 1.0
        want = np.where(m, canvas, 0.0)
        np.testing.assert_array_equal(got, want)
        assert m.any() and not m.all()


def test_gdalwarp_cutline_and_crop(spark, tmp_path):
    """gdalwarp -cutline -crop_to_cutline: outside-cutline pixels are
    nodata, the cropped grid covers exactly the cutline envelope
    snapped to suggested-output pixels, and inside pixels equal the
    uncut warp of the masked source."""
    from gdal_spark.geo import wkb

    src = str(tmp_path / "src.tif")
    _write_src(spark, src)
    # cutline in source CRS (degrees): inside the 10..16 x 48..52 extent
    ring = _hexagon(12.7, 50.1, 2.1, 1.3)
    dst = str(tmp_path / "cut.tif")
    out_spec = TR.gdalwarp(spark, src, dst, "EPSG:3857", kernel="near",
                           tile=TS, cutline=[wkb.polygon([ring])],
                           crop_to_cutline=True)
    spec2, tiles2 = GT.read_geotiff(spark, dst)
    assert spec2 == out_spec
    # envelope check: cutline bbox in 3857 within one pixel of extent
    from gdal_spark.geo import crs as _crs
    tx, ty = _crs.transform_np("EPSG:4326", "EPSG:3857",
                               ring[:, 0], ring[:, 1])
    assert out_spec.gt[0] <= tx.min() <= out_spec.gt[0] + out_spec.gt[1]
    maxx = out_spec.gt[0] + out_spec.width * out_spec.gt[1]
    assert maxx - out_spec.gt[1] <= tx.max() <= maxx
    assert out_spec.gt[3] >= ty.max() >= out_spec.gt[3] + out_spec.gt[5]
    # content: some pixels masked (0), interior populated from source
    vals = np.concatenate([np.asarray(r.px) for r in tiles2.collect()])
    assert (vals == 0).any() and (vals > 0).any()
    # uncropped cutline warp: outside-cutline area is all nodata
    dst2 = str(tmp_path / "cut_full.tif")
    TR.gdalwarp(spark, src, dst2, "EPSG:3857", kernel="near", tile=TS,
                cutline=[wkb.polygon([ring])])
    spec3, tiles3 = GT.read_geotiff(spark, dst2)
    from tests.test_raster_spark import tiles_to_canvas
    full = tiles_to_canvas(tiles3, spec3)
    px, py = spec3.world_to_pixel(tx, ty)
    x0, x1 = int(px.min()) - 1, int(np.ceil(px.max())) + 1
    y0, y1 = int(py.min()) - 1, int(np.ceil(py.max())) + 1
    outside = full.copy()
    outside[max(y0, 0):y1, max(x0, 0):x1] = 0.0
    assert (outside == 0.0).all()
    assert (full[max(y0, 0):y1, max(x0, 0):x1] > 0).any()


def test_gdalwarp_crop_refuses_oversized_cutline(spark, tmp_path):
    """-crop_to_cutline collects the cutline to the driver: one feature
    past the 10,000-feature fence raises instead of cropping to the
    envelope of a silently truncated cutline."""
    from gdal_spark.geo import wkb

    src = str(tmp_path / "src.tif")
    _write_src(spark, src)
    cut = []
    for i in range(10_001):  # tiny triangles: far under the vertex fence
        x, y = 10.5 + (i % 100) * 0.05, 48.5 + (i // 100) * 0.03
        cut.append(wkb.polygon([np.array(
            [[x, y], [x + 1e-3, y], [x, y + 1e-3], [x, y]])]))
    with pytest.raises(ValueError, match="10000 features"):
        TR.gdalwarp(spark, src, str(tmp_path / "cut.tif"), "EPSG:3857",
                    kernel="near", tile=TS, cutline=cut,
                    crop_to_cutline=True)
