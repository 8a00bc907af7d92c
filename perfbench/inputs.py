"""Seeded pages-table generator for the benchmark.

Inputs are a pure function of (workload, seed, size): numpy's PCG64
stream seeded with `seed` draws every coordinate, the public numpy
cell encoder (gdal_spark.geo.cells.cell_encode_np) derives `cell_id`,
and pyarrow writes the pages schema

    url, warc_ts, html, text, lang, doc_id, lon, lat, cell_id

as parquet into the benchmark's own cache, once per key. No Spark is
involved, so generation never warms the JVM that the benchmark times.

Page placement (shares of the input size):

  HOT_SHARE    a 1.4 x 1.4 degree hot spot (a mega-city analog) centred
               inside polygon HOT_POLY, so every hot page is a PIP hit
               and the hot cells need salting on the shuffle path;
  POLY_SHARE   uniform inside the bbox of a uniformly chosen polygon, so
               the JVM bbox prefilter keeps them and the exact test
               decides (roughly 70% are inside the polygon itself);
  rest         uniform over lon [-180, 180), lat [-80, 80): mostly
               misses that the bbox prefilter drops before Python.

Rows are shuffled before writing, so every scan split sees the same
mix and no task owns the whole hot spot by file order.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

HOT_SHARE = 0.20
POLY_SHARE = 0.60
HOT_POLY = 1          # admin_rings(24)[1]: 20 degrees wide, no overlaps
HOT_HALF_DEG = 0.7
N_POLYS = 24
N_FILES = 8
EPOCH0 = 1704067200   # 2024-01-01T00:00:00Z


def hot_box() -> tuple[float, float, float, float]:
    """(min_lon, min_lat, max_lon, max_lat) of the hot spot."""
    from gdal_spark.sources import admin

    cx, cy = admin.admin_rings(N_POLYS)[HOT_POLY][2][:-1].mean(axis=0)
    return (cx - HOT_HALF_DEG, cy - HOT_HALF_DEG,
            cx + HOT_HALF_DEG, cy + HOT_HALF_DEG)


def _coords(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    from gdal_spark.geo import geom
    from gdal_spark.sources import admin

    rings = admin.admin_rings(N_POLYS)
    boxes = np.array([geom.bbox_of_ring(r) for _, _, r in rings], np.float64)
    n_hot = int(round(n * HOT_SHARE))
    n_poly = int(round(n * POLY_SHARE))
    n_world = n - n_hot - n_poly

    x0, y0, x1, y1 = hot_box()
    hot_lon = rng.uniform(x0, x1, n_hot)
    hot_lat = rng.uniform(y0, y1, n_hot)

    pick = rng.integers(0, N_POLYS, n_poly)
    b = boxes[pick]
    poly_lon = b[:, 0] + rng.random(n_poly) * (b[:, 2] - b[:, 0])
    poly_lat = b[:, 1] + rng.random(n_poly) * (b[:, 3] - b[:, 1])

    world_lon = rng.uniform(-180.0, 180.0, n_world)
    world_lat = rng.uniform(-80.0, 80.0, n_world)

    lon = np.concatenate([hot_lon, poly_lon, world_lon])
    lat = np.concatenate([hot_lat, poly_lat, world_lat])
    order = rng.permutation(n)
    return lon[order], lat[order]


def _table(seed: int, n: int):
    import pyarrow as pa
    import pyarrow.compute as pc

    from gdal_spark.geo import cells

    rng = np.random.default_rng(seed)
    lon, lat = _coords(rng, n)
    doc_id = (np.int64(seed) << np.int64(32)) + np.arange(n, dtype=np.int64)
    ids = pa.array(doc_id).cast(pa.string())
    langs = np.array(["en", "de", "fr"])[rng.choice(3, n, p=[0.7, 0.2, 0.1])]
    ts = EPOCH0 + rng.integers(0, 31_536_000, n)
    return pa.table({
        "url": pc.binary_join_element_wise(
            "https://synth.example.com/p/", ids, ""),
        "warc_ts": pa.array(ts * 1_000_000, pa.timestamp("us", tz="UTC")),
        "html": pc.binary_join_element_wise("<html>", ids, "</html>", "")
                  .cast(pa.binary()),
        "text": pc.binary_join_element_wise("synthetic page body ", ids, ""),
        "lang": pa.array(langs),
        "doc_id": pa.array(doc_id),
        "lon": pa.array(lon),
        "lat": pa.array(lat),
        "cell_id": pa.array(cells.cell_encode_np(lon, lat)),
    })


def pages_table(cache_dir: str, workload: str, seed: int, n: int) -> str:
    """-> path of the parquet pages table for this key, writing it on
    the first call. A half-written directory never counts as cached:
    the table is written to a temporary name and renamed into place."""
    path = os.path.join(cache_dir, f"{workload}-s{seed}-n{n}")
    if os.path.isdir(path):
        return path
    import pyarrow.parquet as pq

    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    table = _table(seed, n)
    step = -(-n // N_FILES)
    for i in range(N_FILES):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(tmp, f"part-{i:05d}.parquet"))
    os.replace(tmp, path)
    return path


def query_sample(pages_dir: str, seed: int, n_queries: int) -> list[int]:
    """Seeded kNN query doc_ids: exactly HOT_SHARE of them in the hot
    spot, the rest inside a polygon bbox outside it. A hot query scans
    the dense hot cells, and a query in the sparse world-uniform share
    (worst near the poles, where a grid cell holds few pages) can need
    several widening ring rounds: at 250k pages one such draw took the
    kNN step from 17 to 42 Spark jobs. Drawing only from the two dense
    strata keeps the job's cost from floating with the seed."""
    import pyarrow.parquet as pq

    from gdal_spark.geo import geom
    from gdal_spark.sources import admin

    t = pq.read_table(pages_dir, columns=["doc_id", "lon", "lat"])
    ids = t.column("doc_id").to_numpy()
    lon = t.column("lon").to_numpy()
    lat = t.column("lat").to_numpy()
    x0, y0, x1, y1 = hot_box()
    hot = (lon >= x0) & (lon <= x1) & (lat >= y0) & (lat <= y1)
    in_bbox = np.zeros(len(ids), bool)
    for _, _, ring in admin.admin_rings(N_POLYS):
        bx0, by0, bx1, by1 = geom.bbox_of_ring(ring)
        in_bbox |= (lon >= bx0) & (lon <= bx1) & (lat >= by0) & (lat <= by1)
    rng = np.random.default_rng([seed, n_queries])
    n_hot = int(round(n_queries * HOT_SHARE))
    pick = np.concatenate([
        rng.choice(ids[hot], n_hot, replace=False),
        rng.choice(ids[in_bbox & ~hot], n_queries - n_hot, replace=False)])
    return sorted(int(i) for i in pick)
