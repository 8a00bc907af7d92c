"""kNN two-pass plan (initial_ring pinned, so the small-input brute
force is bypassed; the registry oracle query covers that branch):
pass 1 inside the Chebyshev window, pass 2 inside the rectangle bounded
by pass 1's k-th distance, stragglers against every point. Checked
against a brute force on dense data, on far outliers, and on drawn
inputs against the DuckDB oracle; the plan runs no Spark job before
the caller's action and caches nothing."""

import duckdb
import numpy as np
import pandas as pd
from hypothesis import Phase, given, settings
from hypothesis import strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F

from gdal_spark.geo import cells
from gdal_spark.operators import knn
from gdal_spark.sources import pages


def _brute(data, queries, k):
    d = data.select(F.col("doc_id").alias("neighbor_id"),
                    F.col("lon").alias("nx"), F.col("lat").alias("ny"))
    q = queries.select(F.col("doc_id").alias("q_id"),
                       F.col("lon").alias("qx"), F.col("lat").alias("qy"))
    j = q.crossJoin(d).filter(F.col("neighbor_id") != F.col("q_id"))
    dist2 = (F.col("nx") - F.col("qx")) ** 2 + (F.col("ny") - F.col("qy")) ** 2
    w = Window.partitionBy("q_id").orderBy(F.asc("d2"), F.asc("neighbor_id"))
    return (j.withColumn("d2", dist2)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", "rank", "neighbor_id"))


def test_knn_ring_path_dense_matches_brute(spark):
    pts = pages.synth_pages(spark, 50_000).select(
        "doc_id", "lon", "lat", "cell_id").persist()
    qs = pts.filter(F.col("doc_id") % 2500 == 0)  # 20 queries
    got = {(r["q_id"], r["rank"]): r["neighbor_id"]
           for r in knn.knn_join(pts, qs, k=5, initial_ring=2).collect()}
    want = {(r["q_id"], r["rank"]): r["neighbor_id"]
            for r in _brute(pts, qs, 5).collect()}
    assert got == want and len(got) == 100
    pts.unpersist()


def test_knn_far_outlier_stragglers(spark):
    """Extreme-lon queries over 2k clustered points find fewer than k
    points in their radius-1 window: as stragglers they are scored
    against every point and must still come out exact."""
    pts = pages.synth_pages(spark, 2_000).select(
        "doc_id", "lon", "lat", "cell_id").persist()
    qs = pts.orderBy(F.asc("lon")).limit(3).union(
        pts.orderBy(F.desc("lon")).limit(3))
    got = {(r["q_id"], r["rank"]): r["neighbor_id"]
           for r in knn.knn_join(pts, qs, k=5, initial_ring=1).collect()}
    want = {(r["q_id"], r["rank"]): r["neighbor_id"]
            for r in _brute(pts, qs, 5).collect()}
    assert got == want and len(got) == 30
    pts.unpersist()


def test_knn_is_lazy_and_leak_free(spark):
    """Building the plan starts no Spark job, and running it leaves
    Spark's cache manager with as many entries as before the call."""
    sc = spark.sparkContext
    cache = spark._jsparkSession.sharedState().cacheManager()
    pts = pages.synth_pages(spark, 20_000).select("doc_id", "lon", "lat", "cell_id")
    qs = pts.filter(F.col("doc_id") % 1000 == 0)
    before = cache.numCachedEntries()
    group = "test_knn_is_lazy_and_leak_free"
    sc.setJobGroup(group, "knn_join laziness")
    try:
        near = knn.knn_join(pts, qs, k=5, initial_ring=1)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        assert len(near.collect()) == 100
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert cache.numCachedEntries() == before


#: one (lon0, lon1, lat0, lat1) region per case, so its points crowd
#: into a few tiles: near the poles (tile rows a fraction of a degree
#: high, so pass 1's k-th distance reaches rows beyond its window; |lat|
#: up to 89, past the mercator clamp at 85.05), at the antimeridian
#: (rectangle clamped at the grid's x edge), mid-latitude, and the
#: sparse world (stragglers)
_REGIONS = [(-4.0, 4.0, 78.0, 89.0), (176.0, 180.0, -89.0, -78.0),
            (179.5, 180.0, -5.0, 5.0), (-180.0, -179.5, -5.0, 5.0),
            (0.0, 12.0, 44.0, 52.0), (-180.0, 180.0, -89.0, 89.0)]


@st.composite
def _knn_cases(draw):
    lon0, lon1, lat0, lat1 = draw(st.sampled_from(_REGIONS))
    # uniform spread from a drawn seed, plus Hypothesis' own floats,
    # which favour the box edges (lon exactly 180, lat exactly 89)
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    n = draw(st.integers(1, 40))
    base = list(zip(rng.uniform(lon0, lon1, n), rng.uniform(lat0, lat1, n)))
    base += draw(st.lists(st.tuples(st.floats(lon0, lon1),
                                    st.floats(lat0, lat1)), max_size=5))
    points = base + draw(st.lists(st.sampled_from(base), max_size=10))
    ids = draw(st.permutations(range(len(points))))
    n_q = draw(st.integers(1, min(len(points), 8)))
    k = draw(st.integers(1, 6))
    return points, ids, n_q, k


# at most max_examples Spark plans (no shrink phase), each on <= 55
# rows: ~2 s apiece on local[4], so the test stays well under a minute
@settings(max_examples=10, deadline=None, derandomize=True,
          phases=(Phase.explicit, Phase.generate))
@given(_knn_cases())
def test_knn_two_pass_matches_duckdb_oracle(spark, case):
    """Polar and antimeridian points, duplicate coordinates (ties break
    on neighbor_id), sparse inputs (stragglers) and k above the row
    count: the two-pass plan equals the DuckDB brute force row for row,
    dist2 bit for bit. Cell ids come from the numpy encoder, as in the
    benchmark's pages."""
    points, ids, n_q, k = case
    lon = np.array([p[0] for p in points])
    lat = np.array([p[1] for p in points])
    pdf = pd.DataFrame({"doc_id": np.array(ids, dtype=np.int64), "lon": lon,
                        "lat": lat, "cell_id": cells.cell_encode_np(lon, lat)})
    pts = spark.createDataFrame(pdf, "doc_id long, lon double, lat double, cell_id long")
    got = sorted((r["q_id"], r["rank"], r["neighbor_id"], r["dist2"])
                 for r in knn.knn_join(pts, pts.filter(F.col("doc_id") < n_q),
                                       k=k, initial_ring=1).collect())
    con = duckdb.connect()
    con.register("pts_df", pdf)
    want = [tuple(r) for r in con.execute(knn.knn_oracle_sql(
        "SELECT doc_id, lon, lat FROM pts_df", k, f"doc_id < {n_q}")).fetchall()]
    con.close()
    assert got == sorted(want)
