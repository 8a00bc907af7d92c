"""gdal_spark — a from-scratch PySpark-native spatial-join + tiling engine.

Re-expresses the query and data-processing capabilities of the reference
GDAL/OGR library (/root/reference, studied behaviorally — no code copied)
as distributed DataFrame operators:

- web-mercator math + zoom-pyramid tile addressing (geo.mercator)
- hierarchical Morton/quadkey cell index — our H3/S2 analog (geo.cells)
- WKB geometry codec + vectorized numpy geometry kernels (geo.wkb, geo.geom)
- point-in-polygon joins: broadcast and cell-partitioned shuffle paths,
  with hot-cell salting (operators.pip_join)
- cell-local kNN in two lazy passes over cell rectangles (operators.knn)
- rasterize / polygonize / warp / tile pyramid (raster.*)
- OGR-SQL semantic parity pieces: first-match LEFT JOIN, ILIKE-style
  LIKE, whole-relation aggregates (operators.ogr_sql)
- web-text pipeline ops: dedup (exact/minhash/simhash), similarity
  search, text quality analysis (operators.dedup, operators.similarity,
  functions.text)
- per-partition lineage manifests with idempotent resume (plans.lineage)

Everything is pure PySpark + numpy: geometry predicates, projections and
raster kernels are implemented from first principles because this
environment has no shapely/pyproj/h3 — and because keeping them as
vectorized numpy inside Arrow-batched pandas UDFs is the Spark-idiomatic
fast path anyway.
"""

__version__ = "0.1.0"
