"""End-to-end tile pyramid build: pages -> base density -> overview
zooms -> per-level checkpointed tile store with idempotent resume.

This is the engine's `gdal raster tile` (apps/gdalalg_raster_tile.cpp):
 - deterministic XYZ tile grid from the shared cell/tile addressing;
 - base zoom from the point layer (density) or any tile DataFrame;
 - overview zooms from 2x2 child reduction (:1576-1710);
 - `--resume` (:289): only missing tiles are generated — restated as
   the checkpoint module's manifest anti-join, so a partially-written
   level resumes idempotently (north-rule lineage requirement);
 - tile payloads are stored as parquet rows (zoom, tile_y, tile_x,
   px) bucketed by tile key — the cloud-scale form — AND can emit the
   reference's actual artifact: one PNG file per tile in the XYZ
   z/x/y.png layout (write_tiles_png; pure-Python codec raster/png.py,
   the artifact gdal2tiles' tests checksum,
   autotest/pyscripts/test_gdal2tiles.py:101-143).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import checkpoint as CP
from . import density as D
from . import png as PNG
from . import pyramid as P


def write_pyramid(points: DataFrame, out_dir: str, base_zoom: int,
                  min_zoom: int, tile: int = 256,
                  kernel: str = "sum",
                  n_buckets: int = CP.DEFAULT_BUCKETS) -> dict[int, dict]:
    """Build + write the pyramid; returns per-zoom resume stats
    ({'written': k, 'skipped': m} bucket counts from checkpoint).

    Each zoom level is its own checkpoint stage keyed by
    (tile_y, tile_x): re-running after a partial failure rewrites
    ONLY the missing buckets of the missing levels.

    Each level stays cached only until the level built from it has been
    through run_stage, so no level is computed twice and none outlives
    the call."""
    stats: dict[int, dict] = {}
    held = [D.density_tiles(points, base_zoom, tile).persist()]
    try:
        for z in range(base_zoom, min_zoom - 1, -1):
            if z != base_zoom:
                held.append(P.overview_level(held[-1], z + 1, kernel,
                                             tile).persist())
            stats[z] = CP.run_stage(
                held[-1].withColumn("zoom", F.lit(z)),
                os.path.join(out_dir, f"z{z}"),
                ["tile_y", "tile_x"], n_buckets=n_buckets)
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


def write_tiles_png(tiles: DataFrame, out_dir: str, zoom: int,
                    tile: int = 256) -> DataFrame:
    """Write one PNG per tile in the XYZ `z/x/y.png` layout (the
    reference tile pipeline's artifact). Pixel values encode as 16-bit
    grayscale — EXACT for integer bands in [0, 65535] (density counts),
    clipped otherwise — so decoded pixels round-trip to the parquet
    tile rows bit-for-bit. Executor-side file writes (one per tile, no
    driver funnel); returns the written-file manifest (collect/count it
    to force the write)."""

    def write(batches):
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                ty, tx = int(r["tile_y"]), int(r["tile_x"])
                px = np.asarray(r["px"], np.float64)
                n = int(np.sqrt(len(px)))
                arr = np.clip(np.rint(px), 0, 65535).astype(np.uint16)
                blob = PNG.encode(arr.reshape(n, n))
                d = os.path.join(out_dir, str(zoom), str(tx))
                os.makedirs(d, exist_ok=True)
                path = os.path.join(d, f"{ty}.png")
                with open(path, "wb") as f:
                    f.write(blob)
                rows.append((zoom, tx, ty, path, len(blob)))
            yield pd.DataFrame(rows, columns=[f.name for f in _PNG_OUT])

    return tiles.select("tile_y", "tile_x", "px").mapInPandas(write, _PNG_OUT)


def write_tiles_png_rgb(tiles_rgb: DataFrame, out_dir: str, zoom: int,
                        tile: int = 256) -> DataFrame:
    """RGB tile rows (tile_y, tile_x, r, g, b byte-valued arrays — e.g.
    calc.color_relief output) -> z/x/y.png 8-bit RGB files (the
    gdal2tiles artifact for colored overlays)."""

    def write(batches):
        for pdf in batches:
            rows = []
            for _, rrow in pdf.iterrows():
                ty, tx = int(rrow["tile_y"]), int(rrow["tile_x"])
                n = int(np.sqrt(len(rrow["r"])))
                arr = np.stack([
                    np.clip(np.rint(np.asarray(rrow[c], np.float64)),
                            0, 255).astype(np.uint8).reshape(n, n)
                    for c in ("r", "g", "b")], axis=2)
                blob = PNG.encode(arr)
                d = os.path.join(out_dir, str(zoom), str(tx))
                os.makedirs(d, exist_ok=True)
                path = os.path.join(d, f"{ty}.png")
                with open(path, "wb") as f:
                    f.write(blob)
                rows.append((zoom, tx, ty, path, len(blob)))
            yield pd.DataFrame(rows, columns=[f.name for f in _PNG_OUT])

    return (tiles_rgb.select("tile_y", "tile_x", "r", "g", "b")
            .mapInPandas(write, _PNG_OUT))


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
