"""Pyramid writer: build, resume-after-partial, lineage audit."""

import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from gdal_spark.raster import density as D
from gdal_spark.raster import grid as G
from gdal_spark.raster import pyramid as P
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
    spec = G.world_3857(2, 32)
    got = tiles_to_canvas(TW.read_level(spark, out, 2).drop("zoom"), spec)
    want = tiles_to_canvas(D.density_tiles(pts, 2, 32), spec)
    np.testing.assert_array_equal(got, want)


def test_write_pyramid_releases_cached_levels(spark, sf_dir, tmp_path):
    """No cache entry write_pyramid makes outlives the call: Spark's
    cache manager holds as many entries after it as before, for a
    fresh write and for a resume alike."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    pts = pages.page_points(spark, sf_dir)
    before = cache.numCachedEntries()
    out = str(tmp_path / "pyr4")
    TW.write_pyramid(pts, out, base_zoom=3, min_zoom=1, tile=32)
    assert cache.numCachedEntries() == before
    TW.write_pyramid(pts, out, base_zoom=3, min_zoom=1, tile=32)
    assert cache.numCachedEntries() == before


def _edge_points(spark, sf_dir):
    """Pages plus points the pixel math clamps: the antimeridian and
    latitudes past web mercator's +-85.05 limit land in the grid's
    first or last pixel row / column."""
    edge = spark.createDataFrame(
        [(180.0, 89.9), (180.0, -89.9), (-180.0, 89.9), (-180.0, -90.0),
         (179.99999, 85.2), (0.0, -89.0), (180.0, 0.0), (180.0, 0.0)],
        "lon double, lat double")
    return (pages.page_points(spark, sf_dir).select("lon", "lat")
            .unionByName(edge))


def _tiles_by_key(df) -> dict:
    return {(r["tile_y"], r["tile_x"]): list(r["px"])
            for r in df.select("tile_y", "tile_x", "px").collect()}


@pytest.mark.parametrize("batch_rows", [None, 7])
def test_sum_pyramid_equals_dense_overview_chain(spark, sf_dir, tmp_path,
                                                 batch_rows):
    """Every level of write_pyramid z3 -> z0 is bit-identical to
    density_tiles + overview_level(..., "sum"), edge-clamped points
    included. With 7-row Arrow batches (the reference is built with the
    default batch size) one tile's sparse pixels arrive in several
    batches, so the densify's carry is exercised."""
    pts = _edge_points(spark, sf_dir)
    want, level = {}, D.density_tiles(pts, 3, 16)
    for z in (3, 2, 1, 0):
        if z != 3:
            level = P.overview_level(level, z + 1, "sum", 16)
        want[z] = _tiles_by_key(level)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    if batch_rows:
        spark.conf.set(conf, str(batch_rows))
    try:
        out = str(tmp_path / "pyr_sum")
        TW.write_pyramid(pts, out, base_zoom=3, min_zoom=0, tile=16)
        for z in (3, 2, 1, 0):
            got = TW.read_level(spark, out, z)
            assert {r[0] for r in got.select("zoom").distinct().collect()} == {z}
            assert _tiles_by_key(got) == want[z], z
    finally:
        spark.conf.set(conf, old)


def _python_nodes(qe, jvm) -> set[tuple[int, str]]:
    """Identities of the Python physical nodes in an executed plan,
    through AQE stages and cached relations (a cache read by several
    queries holds one plan instance, so it counts once)."""
    found = set()

    def visit(p):
        cls = p.getClass()
        name = cls.getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return visit(p.executedPlan())
        if name.endswith("QueryStageExec"):
            return visit(p.plan())
        if name == "ReusedExchangeExec":
            return visit(p.child())
        if cls.getPackage().getName() == "org.apache.spark.sql.execution.python":
            found.add((jvm.System.identityHashCode(p), p.nodeName()))
        if name == "InMemoryTableScanExec":
            visit(p.relation().cachedPlan())
        it = p.children().iterator()
        while it.hasNext():
            visit(it.next())

    visit(qe.executedPlan())
    return found


class _Queries:
    """py4j QueryExecutionListener: keeps every finished query."""

    def __init__(self):
        self.done = []

    def onSuccess(self, func_name, qe, duration_ns):
        self.done.append(qe)

    def onFailure(self, func_name, qe, exception):
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def test_write_pyramid_runs_one_python_node(spark, sf_dir, tmp_path):
    """A z5 -> z1 sum pyramid, five levels, executes exactly one Python
    plan node (the densify MapInArrow) across all its Spark queries,
    and no FlatMapGroupsInPandas."""
    from pyspark.java_gateway import ensure_callback_server_started

    sc = spark.sparkContext
    ensure_callback_server_started(sc._gateway)
    listener = _Queries()
    manager = spark._jsparkSession.listenerManager()
    manager.register(listener)
    try:
        TW.write_pyramid(pages.page_points(spark, sf_dir),
                         str(tmp_path / "pyr_one"), base_zoom=5, min_zoom=1,
                         tile=32)
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    finally:
        manager.unregister(listener)
    nodes = set().union(*[_python_nodes(qe, spark._jvm)
                          for qe in listener.done])
    assert [name for _, name in nodes] == ["MapInArrow"], nodes
