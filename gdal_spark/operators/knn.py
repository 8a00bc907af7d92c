"""Cell-local k-nearest-neighbors: one lazy two-pass plan.

Reference semantics: GDAL's gridding nearest-neighbor search
(alg/gdalgrid.cpp:242-331 `GDALGridInverseDistanceToAPowerNearestNeighbor`
— CPLQuadTree radius probe bounded by nMaxPoints, plain nearest
`GDALGridNearestNeighbor`), ties resolved by distance. Our engine
restates the quadtree probe as the north star's "cell-local kNN via
ring queries", in two bounded passes instead of a widening search:

 1. pass 1 takes each query's top-k inside the Chebyshev window of
    radius `initial_ring` around its tile (the grid_disk analog on the
    Morton grid);
 2. a query with k hits takes its k-th distance `kd` as a bound and
    searches, in pass 2, the tile rectangle covering
    tile_x(qx -+ sqrt(kd)) x tile_y(qy +- sqrt(kd)), padded by one
    tile on each side and clamped to the grid;
 3. a query with fewer than k hits (a straggler) is scored against
    every data point, with the stragglers broadcast.

Both passes generate their cells per query with pure column math
(explode(sequence) on each axis -> cell id) and equi-join the data on
cell id, so the data is never replicated per query. With
`initial_ring` set the plan is lazy: no Spark job runs before the
caller's action, and nothing is cached.

Why pass 2 is exact. Pass 1 scores a subset of the data, so the true
k-th nearest point is no farther than pass 1's k-th: every true top-k
point, including one that ties on dist2 and wins on neighbor_id, has
dist2 <= kd, hence |dlon| <= sqrt(kd) and |dlat| <= sqrt(kd).
tile_x is monotone in lon and tile_y in lat (both clamp to the grid),
so that point's tile lies inside the rectangle, and the top-k over the
rectangle equals the top-k over all data. The one-tile pad absorbs the
rounding of sqrt and of qx +- sqrt(kd), and any ulp-level difference
between the encoder that assigned the data's cell ids (numpy
`cells.cell_encode_np`, or the JVM `tile_x_col`/`tile_y_col`) and the
JVM encoder used here. Distances are not wrapped at the antimeridian,
so neither is the rectangle.

When `initial_ring` is None, two counts first decide whether the whole
brute-force candidate volume is small enough that scoring every pair
once beats the two passes (measured ~2x faster on tiny inputs); above
that the two passes run from radius 1.

Distances are squared-euclidean in lon/lat degrees — matching the
DuckDB oracle's arithmetic bit-for-bit (identical doubles in, exactly
rounded IEEE products/sums out).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..geo import cells, mercator


def knn_join(data: DataFrame, queries: DataFrame, k: int = 5,
             res: int = cells.DEFAULT_RES, id_col: str = "doc_id",
             lon_col: str = "lon", lat_col: str = "lat",
             initial_ring: int | None = None) -> DataFrame:
    """-> (q_id, rank, neighbor_id, dist2): exact k nearest data points
    per query (self excluded by id), ties by neighbor id.

    `data` carries `cell_id` at resolution `res`. `initial_ring` is the
    pass-1 Chebyshev radius; None picks brute force for small inputs
    (two counts) and radius 1 otherwise.
    """
    n = 1 << res
    d = data.select(F.col(id_col).alias("neighbor_id"),
                    F.col(lon_col).alias("nx"), F.col(lat_col).alias("ny"),
                    F.col("cell_id").alias("d_cell"))
    q = queries.select(F.col(id_col).alias("q_id"),
                       F.col(lon_col).alias("qx"), F.col(lat_col).alias("qy"))

    dist2 = (F.col("nx") - F.col("qx")) * (F.col("nx") - F.col("qx")) + \
            (F.col("ny") - F.col("qy")) * (F.col("ny") - F.col("qy"))
    w = Window.partitionBy("q_id").orderBy(F.asc("dist2"), F.asc("neighbor_id"))
    out = ("q_id", "rank", "neighbor_id", "dist2")

    def topk(cand: DataFrame) -> DataFrame:
        return (cand.filter(F.col("neighbor_id") != F.col("q_id"))
                .withColumn("dist2", dist2)
                .withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k))

    def brute(qs: DataFrame) -> DataFrame:
        return topk(qs.crossJoin(d))

    def clamp(t: Column) -> Column:
        return F.greatest(F.least(t, F.lit(n - 1)), F.lit(0))

    def in_rect(qs: DataFrame, x0: Column, x1: Column, y0: Column,
                y1: Column) -> DataFrame:
        """Data rows in each query's tile rectangle [x0, x1] x [y0, y1]."""
        return (qs.select("q_id", "qx", "qy",
                          F.explode(F.sequence(x0, x1)).alias("tx"),
                          F.sequence(y0, y1).alias("tys"))
                .select("q_id", "qx", "qy", "tx", F.explode("tys").alias("ty"))
                .select("q_id", "qx", "qy", cells.cell_from_tile_col(
                    F.col("tx"), F.col("ty"), res).alias("d_cell"))
                .join(d, "d_cell"))

    if initial_ring is None:
        d_cnt = data.count()
        if d_cnt <= 10_000_000 and d_cnt * queries.count() <= 50_000_000:
            return brute(q).select(*out)
        initial_ring = 1

    r = initial_ring
    tx = mercator.tile_x_col(F.col("qx"), res)
    ty = mercator.tile_y_col(F.col("qy"), res)
    kth = (topk(in_rect(q, clamp(tx - r), clamp(tx + r), clamp(ty - r),
                        clamp(ty + r)))
           .filter(F.col("rank") == k)
           .select("q_id", "qx", "qy", F.col("dist2").alias("kd")))

    s = F.sqrt(F.col("kd"))
    near = topk(in_rect(
        kth,
        clamp(mercator.tile_x_col(F.col("qx") - s, res) - 1),
        clamp(mercator.tile_x_col(F.col("qx") + s, res) + 1),
        clamp(mercator.tile_y_col(F.col("qy") + s, res) - 1),
        clamp(mercator.tile_y_col(F.col("qy") - s, res) + 1)))
    # broadcast the finished ids and the few stragglers: the optimizer
    # pushes the anti join below a join that built `queries`, where a
    # shuffled one would shuffle every data row. The small-input branch
    # above leaves the build side to Spark, which broadcasts the data.
    stragglers = q.join(F.broadcast(kth.select("q_id")), "q_id", "left_anti")
    return near.select(*out).unionByName(
        brute(F.broadcast(stragglers)).select(*out))


def knn_oracle_sql(pts_sql: str, k: int, q_filter_sql: str) -> str:
    """Brute-force DuckDB oracle on the same point derivation."""
    return f"""
    WITH pts AS ({pts_sql}),
    qs AS (SELECT doc_id AS q_id, lon AS qx, lat AS qy FROM pts WHERE {q_filter_sql}),
    scored AS (
      SELECT q.q_id,
             row_number() OVER (
               PARTITION BY q.q_id
               ORDER BY (p.lon - q.qx) * (p.lon - q.qx)
                      + (p.lat - q.qy) * (p.lat - q.qy) ASC,
                        p.doc_id ASC) AS rank,
             p.doc_id AS neighbor_id,
             (p.lon - q.qx) * (p.lon - q.qx)
               + (p.lat - q.qy) * (p.lat - q.qy) AS dist2
      FROM pts p JOIN qs q ON p.doc_id <> q.q_id
    )
    SELECT q_id, rank, neighbor_id, dist2 FROM scored WHERE rank <= {k}
    ORDER BY q_id, rank
    """
