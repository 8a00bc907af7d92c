"""End-to-end tile pyramid build: pages -> base density -> overview
zooms -> per-level checkpointed tile store with idempotent resume.

This is the engine's `gdal raster tile` (apps/gdalalg_raster_tile.cpp):
 - deterministic XYZ tile grid from the shared cell/tile addressing;
 - base zoom from the point layer (density) or any tile DataFrame;
 - overview zooms from 2x2 child reduction (:1576-1710). With the
   `sum` kernel the reduction runs on the sparse per-pixel counts in
   the JVM and every level is densified in one Python stage
   (`sum_pyramid`); other kernels reduce dense tiles level by level
   (`pyramid.overview_level`);
 - `--resume` (:289): only missing tiles are generated — restated as
   the checkpoint module's committed-bucket filter, so a partially-written
   level resumes idempotently (north-rule lineage requirement);
 - tile payloads are stored as parquet rows (zoom, tile_y, tile_x,
   px) bucketed by tile key — the cloud-scale form — AND can emit the
   reference's actual artifact: one PNG file per tile in the XYZ
   z/x/y.png layout (write_tiles_png; pure-Python codec raster/png.py,
   the artifact gdal2tiles' tests checksum,
   autotest/pyscripts/test_gdal2tiles.py:101-143).
"""

from __future__ import annotations

import functools
import os

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .. import checkpoint as CP
from . import density as D
from . import png as PNG
from . import pyramid as P
from . import tilebatch as TB


def sum_pyramid(points: DataFrame, base_zoom: int, min_zoom: int,
                tile: int = 256) -> DataFrame:
    """-> dense density tiles (zoom, tile_y, tile_x, px) for every zoom
    from base_zoom down to min_zoom, with the `sum` overview kernel.

    The levels stay sparse in the JVM: the base is the per-pixel count
    relation (gx, gy, v) and each coarser level sums its 2x2 children
    with one `groupBy(gx >> 1, gy >> 1)`, so a `sum` overview never
    builds a dense tile. The levels are unioned under a `zoom` column
    and densified together by ONE `tilebatch.densify` stage of one task
    per core: the count adaptive execution picks (8 on 4 cores for the
    benchmark's 100k-page z5 -> z4 pyramid) made the write slower, min
    2.1 s against 1.7 s (BASELINE.md). Equal, bit for bit, to `density_tiles` followed by
    `overview_level(..., "sum")` per level: a parent pixel is the sum of
    the same child counts, and sums of integer counts are exact in
    float64."""
    level = D.global_pixel_counts(points, base_zoom, tile)
    levels = [level.withColumn("zoom", F.lit(base_zoom))]
    for z in range(base_zoom - 1, min_zoom - 1, -1):
        level = level.groupBy(F.shiftright("gx", 1).alias("gx"),
                              F.shiftright("gy", 1).alias("gy")).agg(
            F.sum("v").alias("v"))
        levels.append(level.withColumn("zoom", F.lit(z)))
    sparse = functools.reduce(DataFrame.unionByName, levels)
    return TB.densify(
        sparse.select("zoom", *D.tile_pixel_cols(tile), "v"),
        ["zoom", "tile_y", "tile_x"], tile,
        tasks=points.sparkSession.sparkContext.defaultParallelism)


def write_pyramid(points: DataFrame, out_dir: str, base_zoom: int,
                  min_zoom: int, tile: int = 256,
                  kernel: str = "sum",
                  n_buckets: int = CP.DEFAULT_BUCKETS) -> dict[int, dict]:
    """Build + write the pyramid; returns per-zoom resume stats
    ({'written': k, 'skipped': m} bucket counts from checkpoint).

    Each zoom level is its own checkpoint stage keyed by
    (tile_y, tile_x): re-running after a partial failure rewrites
    ONLY the missing buckets of the missing levels.

    kernel="sum" (the density default) builds every level in one
    Python stage (`sum_pyramid`), caches the dense tiles once and
    writes each level as a filter of that cache. Other kernels need
    the dense children: each level is `overview_level` of the one
    above, cached only until the level built from it has been through
    run_stage. Either way no level is computed twice, though run_stage
    reads each one twice (data, then manifest), and no cache entry
    outlives the call."""
    def stage(tiles: DataFrame, z: int) -> dict:
        return CP.run_stage(tiles, os.path.join(out_dir, f"z{z}"),
                            ["tile_y", "tile_x"], n_buckets=n_buckets)

    zooms = range(base_zoom, min_zoom - 1, -1)
    if kernel == "sum":
        dense = sum_pyramid(points, base_zoom, min_zoom, tile).persist()
        try:
            return {z: stage(dense.filter(F.col("zoom") == z)
                             .select("tile_y", "tile_x", "px", "zoom"), z)
                    for z in zooms}
        finally:
            dense.unpersist()

    stats: dict[int, dict] = {}
    held = [D.density_tiles(points, base_zoom, tile).persist()]
    try:
        for z in zooms:
            if z != base_zoom:
                held.append(P.overview_level(held[-1], z + 1, kernel,
                                             tile).persist())
            stats[z] = stage(held[-1].withColumn("zoom", F.lit(z)), z)
            while len(held) > 1:
                held.pop(0).unpersist()
        return stats
    finally:
        for level in held:
            level.unpersist()


_PNG_OUT = T.StructType([
    T.StructField("zoom", T.IntegerType(), False),
    T.StructField("tile_x", T.IntegerType(), False),
    T.StructField("tile_y", T.IntegerType(), False),
    T.StructField("path", T.StringType(), False),
    T.StructField("n_bytes", T.LongType(), False),
])
_PNG_ARROW = to_arrow_schema(_PNG_OUT)


def _write_pngs(tiles: DataFrame, out_dir: str, zoom: int,
                bands: list[str], hi: int, dtype) -> DataFrame:
    """One PNG per tile row at `out_dir/zoom/x/y.png`: each band's
    pixels rounded, clipped to [0, hi] and cast to `dtype`; one band is
    grayscale, three are RGB. Executor-side writes; -> the manifest."""

    def write(batches):
        for b in batches:
            ty = b.column("tile_y").to_numpy()
            tx = b.column("tile_x").to_numpy()
            planes = [TB.px_values(b.column(c)) for c in bands]
            rows = []
            for i in range(b.num_rows):
                arrs = []
                for off, vals in planes:
                    px = np.asarray(vals[off[i]:off[i + 1]], np.float64)
                    n = int(np.sqrt(len(px)))
                    arrs.append(np.clip(np.rint(px), 0, hi).astype(dtype)
                                .reshape(n, n))
                blob = PNG.encode(arrs[0] if len(arrs) == 1
                                  else np.stack(arrs, axis=2))
                d = os.path.join(out_dir, str(zoom), str(tx[i]))
                os.makedirs(d, exist_ok=True)
                path = os.path.join(d, f"{ty[i]}.png")
                with open(path, "wb") as f:
                    f.write(blob)
                rows.append({"zoom": zoom, "tile_x": int(tx[i]),
                             "tile_y": int(ty[i]), "path": path,
                             "n_bytes": len(blob)})
            yield pa.RecordBatch.from_pylist(rows, schema=_PNG_ARROW)

    return (tiles.select("tile_y", "tile_x", *bands)
            .mapInArrow(write, _PNG_OUT))


def write_tiles_png(tiles: DataFrame, out_dir: str, zoom: int,
                    tile: int = 256) -> DataFrame:
    """Write one PNG per tile in the XYZ `z/x/y.png` layout (the
    reference tile pipeline's artifact). Pixel values encode as 16-bit
    grayscale — EXACT for integer bands in [0, 65535] (density counts),
    clipped otherwise — so decoded pixels round-trip to the parquet
    tile rows bit-for-bit. Executor-side file writes (one per tile, no
    driver funnel); returns the written-file manifest (collect/count it
    to force the write)."""
    return _write_pngs(tiles, out_dir, zoom, ["px"], 65535, np.uint16)


def write_tiles_png_rgb(tiles_rgb: DataFrame, out_dir: str, zoom: int,
                        tile: int = 256) -> DataFrame:
    """RGB tile rows (tile_y, tile_x, r, g, b byte-valued arrays — e.g.
    calc.color_relief output) -> z/x/y.png 8-bit RGB files (the
    gdal2tiles artifact for colored overlays)."""
    return _write_pngs(tiles_rgb, out_dir, zoom, ["r", "g", "b"], 255,
                       np.uint8)


def read_tile_png(out_dir: str, zoom: int, tx: int, ty: int) -> np.ndarray:
    with open(os.path.join(out_dir, str(zoom), str(tx), f"{ty}.png"),
              "rb") as f:
        return PNG.decode(f.read())


def read_level(spark: SparkSession, out_dir: str, zoom: int) -> DataFrame:
    return (spark.read.parquet(os.path.join(out_dir, f"z{zoom}"))
            .drop("bucket"))


def verify_pyramid(spark: SparkSession, out_dir: str,
                   base_zoom: int, min_zoom: int) -> DataFrame:
    """Lineage audit across every level (recomputed hashes vs
    manifests) — one row per (zoom, bucket) with ok flag."""
    parts = []
    for z in range(base_zoom, min_zoom - 1, -1):
        audit = CP.verify_stage(spark, os.path.join(out_dir, f"z{z}"),
                                ["tile_y", "tile_x"])
        parts.append(audit.withColumn("zoom", F.lit(z)))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
