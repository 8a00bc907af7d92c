"""Pyramid writer: build, resume-after-partial, lineage audit."""

import shutil

import numpy as np
from pyspark.sql import functions as F

from gdal_spark.raster import grid as G
from gdal_spark.raster import tilewriter as TW
from gdal_spark.sources import pages
from tests.test_raster_spark import tiles_to_canvas


def test_write_and_read_pyramid(spark, sf_dir, tmp_path):
    out = str(tmp_path / "pyr")
    pts = pages.page_points(spark, sf_dir)
    stats = TW.write_pyramid(pts, out, base_zoom=3, min_zoom=1, tile=32)
    assert set(stats) == {3, 2, 1}
    assert all(s["written"] > 0 and s["skipped"] == 0 for s in stats.values())
    # pixel-mass conservation across zooms (sum kernel)
    n_pts = pts.count()
    for z in (3, 2, 1):
        lvl = TW.read_level(spark, out, z)
        total = lvl.select(
            F.aggregate("px", F.lit(0.0), lambda a, x: a + x).alias("s")
        ).agg(F.sum("s")).collect()[0][0]
        assert total == n_pts
        assert lvl.select("zoom").distinct().collect()[0][0] == z


def test_pyramid_resume_is_idempotent(spark, sf_dir, tmp_path):
    out = str(tmp_path / "pyr2")
    pts = pages.page_points(spark, sf_dir)
    TW.write_pyramid(pts, out, base_zoom=3, min_zoom=2, tile=32)
    # full re-run: nothing rewritten
    stats2 = TW.write_pyramid(pts, out, base_zoom=3, min_zoom=2, tile=32)
    assert all(s["written"] == 0 for s in stats2.values())
    # wipe one level: only that level regenerates (tile --resume)
    shutil.rmtree(str(tmp_path / "pyr2" / "z2"))
    stats3 = TW.write_pyramid(pts, out, base_zoom=3, min_zoom=2, tile=32)
    assert stats3[3]["written"] == 0 and stats3[2]["written"] > 0
    audit = TW.verify_pyramid(spark, out, 3, 2)
    assert audit.filter(~F.col("ok")).count() == 0


def test_pyramid_roundtrip_matches_density(spark, sf_dir, tmp_path):
    out = str(tmp_path / "pyr3")
    pts = pages.page_points(spark, sf_dir)
    TW.write_pyramid(pts, out, base_zoom=2, min_zoom=2, tile=32)
    from gdal_spark.raster import density as D
    spec = G.world_3857(2, 32)
    got = tiles_to_canvas(TW.read_level(spark, out, 2).drop("zoom"), spec)
    want = tiles_to_canvas(D.density_tiles(pts, 2, 32), spec)
    np.testing.assert_array_equal(got, want)


def test_write_pyramid_releases_cached_levels(spark, sf_dir, tmp_path):
    """write_pyramid caches each level only while the next one is
    built: Spark's cache manager holds as many entries after the call
    as before it, for a fresh write and for a resume alike."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    pts = pages.page_points(spark, sf_dir)
    before = cache.numCachedEntries()
    out = str(tmp_path / "pyr4")
    TW.write_pyramid(pts, out, base_zoom=3, min_zoom=1, tile=32)
    assert cache.numCachedEntries() == before
    TW.write_pyramid(pts, out, base_zoom=3, min_zoom=1, tile=32)
    assert cache.numCachedEntries() == before
