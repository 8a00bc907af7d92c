"""Proximity: level-bound scale path == broadcast path == single-node
oracle, including partial edge tiles; the scale path runs no Spark job
before the caller's action and caches nothing."""

import re

import numpy as np
from hypothesis import Phase, example, given, settings
from hypothesis import strategies as st

from gdal_spark.raster import grid as G
from gdal_spark.raster import proximity as PX
from tests.test_raster_spark import tiles_to_canvas
from tests.test_sieve import _tiles


def _canvas(seed=7, shape=(32, 48), n_targets=9):
    rng = np.random.default_rng(seed)
    c = np.zeros(shape)
    ys = rng.integers(0, shape[0], n_targets)
    xs = rng.integers(0, shape[1], n_targets)
    c[ys, xs] = 1.0
    return c


def _spec(c, tile):
    h, w = c.shape
    return G.GridSpec(w, h, (0, 1, 0, h, 0, -1), tile=tile)


def test_proximity_ring_matches_broadcast_bitexact(spark):
    c = _canvas()
    spec = _spec(c, 8)
    tiles = _tiles(spark, c, spec)
    ring = tiles_to_canvas(PX.proximity_ring(tiles, spec), spec)
    bcast = tiles_to_canvas(PX.proximity(tiles, spec), spec)
    np.testing.assert_array_equal(ring, bcast)
    want = PX.proximity_np(c)
    np.testing.assert_array_equal(ring, want)


def test_proximity_ring_max_dist_nodata_tiles(spark):
    """Finite max_dist: tiles beyond the gather cap emit pure nodata,
    identically to the broadcast path."""
    c = np.zeros((64, 64))
    c[2, 3] = 1.0  # single target in the NW corner
    spec = _spec(c, 8)
    tiles = _tiles(spark, c, spec)
    ring = tiles_to_canvas(
        PX.proximity_ring(tiles, spec, max_dist=10.0, nodata=-7.0), spec)
    bcast = tiles_to_canvas(
        PX.proximity(tiles, spec, max_dist=10.0, nodata=-7.0), spec)
    np.testing.assert_array_equal(ring, bcast)
    assert ring[2, 3] == 0.0
    assert (ring[40:, 40:] == -7.0).all()
    want = PX.proximity_np(c, max_dist=10.0, nodata=-7.0)
    np.testing.assert_array_equal(ring, want)


def test_proximity_ring_no_targets(spark):
    c = np.zeros((16, 16))
    spec = _spec(c, 8)
    tiles = _tiles(spark, c, spec)
    out = tiles_to_canvas(PX.proximity_ring(tiles, spec, nodata=-1.0), spec)
    assert (out == -1.0).all()


def test_proximity_ring_dense_targets(spark):
    """Every tile holds a target (r0 == 0 everywhere): the gather stays
    local and results still match."""
    rng = np.random.default_rng(3)
    c = (rng.uniform(size=(32, 32)) < 0.2).astype(float)
    spec = _spec(c, 8)
    tiles = _tiles(spark, c, spec)
    ring = tiles_to_canvas(PX.proximity_ring(tiles, spec), spec)
    np.testing.assert_array_equal(ring, PX.proximity_np(c))


def test_proximity_partial_edge_tiles(spark):
    """53 x 37 with tile 8: the last tile column is 5 px wide, so its
    targets must be decoded with stride 5, not 8 (both paths)."""
    c = np.zeros((37, 53))
    c[0, 0] = c[36, 52] = 1.0
    spec = _spec(c, 8)
    tiles = _tiles(spark, c, spec)
    want = PX.proximity_np(c, max_dist=25.0)
    for df in (PX.proximity(tiles, spec, max_dist=25.0),
               PX.proximity_ring(tiles, spec, max_dist=25.0)):
        np.testing.assert_array_equal(tiles_to_canvas(df, spec), want)


def test_proximity_broadcast_ships_only_tile_keys(spark):
    """The broadcast path's dist_tile reads only its group key, so the
    Python node takes (tile_y, tile_x) and no `px` array crosses the
    Arrow boundary; the output still equals the oracle."""
    c = np.zeros((64, 64))
    c[3, 5] = c[40, 50] = 1.0
    spec = _spec(c, 32)
    df = PX.proximity(_tiles(spark, c, spec), spec)
    np.testing.assert_array_equal(tiles_to_canvas(df, spec),
                                  PX.proximity_np(c))
    plan = df._jdf.queryExecution().executedPlan().toString()
    calls = re.findall(r"dist_tile\(([^)]*)\)", plan)
    assert calls, plan
    assert all("px" not in args for args in calls), calls


def test_proximity_ring_is_lazy_and_leak_free(spark):
    """Building the plan starts no Spark job, and running it leaves
    Spark's cache manager with as many entries as before the call."""
    sc = spark.sparkContext
    cache = spark._jsparkSession.sharedState().cacheManager()
    c = _canvas()
    spec = _spec(c, 8)
    tiles = _tiles(spark, c, spec)
    before = cache.numCachedEntries()
    group = "test_proximity_ring_is_lazy_and_leak_free"
    sc.setJobGroup(group, "proximity_ring laziness")
    try:
        out = PX.proximity_ring(tiles, spec)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        np.testing.assert_array_equal(tiles_to_canvas(out, spec),
                                      PX.proximity_np(c))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert cache.numCachedEntries() == before


@st.composite
def _proximity_cases(draw):
    tile = draw(st.integers(4, 16))
    # the last tile column is always partial; the last row may be
    w = tile * draw(st.integers(0, 4)) + draw(st.integers(1, tile - 1))
    h = tile * draw(st.integers(0, 4)) + draw(st.integers(0, tile - 1)) + 1
    c = np.zeros((h, w))
    if draw(st.booleans()):
        c[h - 1, w - 1] = 1.0  # a single far corner target
    else:
        rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
        n = draw(st.integers(0, 12))
        c[rng.integers(0, h, n), rng.integers(0, w, n)] = 1.0
    max_dist = draw(st.one_of(st.just(float("inf")), st.floats(0.0, 40.0)))
    return c, tile, max_dist


#: tile 4, max_dist 11 -> r_cap 4, top level 2: tile 1 (x 4..7) is 9 px
#: from the target in tile 4, which only the top level's blocks reach
_TOP_LEVEL_ONLY = np.zeros((4, 21))
_TOP_LEVEL_ONLY[0, 16] = 1.0


# at most max_examples Spark plans (no shrink phase), each on a canvas
# of <= 80 x 80 px: ~2 s apiece on local[4]
@settings(max_examples=10, deadline=None, derandomize=True,
          phases=(Phase.explicit, Phase.generate))
@given(_proximity_cases())
@example((_TOP_LEVEL_ONLY, 4, 11.0))
def test_proximity_ring_matches_numpy_oracle(spark, case):
    """Partial edge tiles, tile sizes 4-16, no / sparse / single
    far-corner targets, finite and infinite max_dist, and a target only
    the top level reaches: the scale path equals the brute-force oracle
    bit for bit."""
    c, tile, max_dist = case
    spec = _spec(c, tile)
    out = PX.proximity_ring(_tiles(spark, c, spec), spec, max_dist=max_dist,
                            nodata=-3.0)
    np.testing.assert_array_equal(
        tiles_to_canvas(out, spec),
        PX.proximity_np(c, max_dist=max_dist, nodata=-3.0))
