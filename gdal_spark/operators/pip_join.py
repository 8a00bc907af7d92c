"""Point-in-polygon spatial join — the engine's core operator.

Reproduces the semantics of the reference's layer-algebra joins
(OGRLayer::Intersection/Clip/Erase, ogr/ogrsf_frmts/generic/
ogrlayer.cpp:5385/7537/7846) and its spatial-filter accept ladder
(ogrlayer.cpp:3994-4075: envelope reject -> exact predicate), with a
Spark-first physical design the reference (single-node, index nested
loop) does not have:

  broadcast path  — polygons small: ship (poly_id, wkb, bbox) to every
                    task; per Arrow batch do a vectorized bbox reject
                    then the exact even-odd test. This is the analog of
                    "prepared geometry + R-tree per partition": the bbox
                    pass is the R-tree probe, the reusable decoded ring
                    arrays are the prepared geometry.
  shuffle path    — polygons large: explode polygons to covering cells,
                    hash-partition BOTH sides by cell_id (+ salt for hot
                    cells), equi-join, then the exact test. The cell
                    grid plays the role GPKG's R*Tree / shapefile .qix
                    plays for the reference (SURVEY §2.3) but
                    distributes: each cell's work is an independent
                    task.

At 100 TB: the broadcast path handles dim-sized polygon sets (admin
boundaries: ~10^5 rows) with ZERO shuffle of the fact table; the
shuffle path scales to arbitrarily many polygons and salts cells whose
row count would overwhelm one task. Catalyst sees plain equi-joins, so
AQE (skew splitting, coalescing) still applies on top.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..geo import cells, geom, wkb

#: rows-per-cell above which the shuffle join salts a cell
DEFAULT_HOT_CELL_ROWS = 2_000_000


def _prepare_one(blob: bytes):
    """wkb -> (list_of_poly_ring_lists, union_bbox) — 'prepared geometry'."""
    polys = wkb.polygon_rings(bytes(blob))
    minx, miny, maxx, maxy = geom.bbox_of_ring(polys[0][0])
    for rings in polys[1:]:
        bx = geom.bbox_of_ring(rings[0])
        minx, miny = min(minx, bx[0]), min(miny, bx[1])
        maxx, maxy = max(maxx, bx[2]), max(maxy, bx[3])
    return polys, (minx, miny, maxx, maxy)


def _decode_polys(items):
    """[(pid, wkb_bytes)] -> {pid: prepared} — built once per task."""
    return {pid: _prepare_one(blob) for pid, blob in items}


class _BBoxGridIndex:
    """Coarse uniform-grid bbox index over the prepared polygons — the
    in-task analog of the reference's per-layer R-tree (GPKG R*Tree /
    shapefile .qix, SURVEY §2.3). Built once per task; per batch each
    point probes its grid bucket and tests only that bucket's
    polygons, so per-point work scales with local overlap density, not
    the polygon count."""

    def __init__(self, prepared: dict, nb: int | None = None):
        self.prepared = prepared
        boxes = np.array([pb[1] for pb in prepared.values()], np.float64)
        self.pids = np.array(list(prepared.keys()))
        self.minx = float(boxes[:, 0].min())
        self.miny = float(boxes[:, 1].min())
        self.maxx = float(boxes[:, 2].max())
        self.maxy = float(boxes[:, 3].max())
        self.nb = nb or max(4, int(np.sqrt(len(prepared))))
        self.sx = (self.maxx - self.minx) / self.nb or 1.0
        self.sy = (self.maxy - self.miny) / self.nb or 1.0
        self.buckets: dict[int, list[int]] = {}
        for pid, (_polys, (x0, y0, x1, y1)) in prepared.items():
            bx0 = int((x0 - self.minx) / self.sx)
            bx1 = int((x1 - self.minx) / self.sx)
            by0 = int((y0 - self.miny) / self.sy)
            by1 = int((y1 - self.miny) / self.sy)
            for by in range(max(0, by0), min(self.nb - 1, by1) + 1):
                for bx in range(max(0, bx0), min(self.nb - 1, bx1) + 1):
                    self.buckets.setdefault(by * self.nb + bx, []).append(pid)

    def point_buckets(self, px: np.ndarray, py: np.ndarray) -> np.ndarray:
        bx = np.floor((px - self.minx) / self.sx).astype(np.int64)
        by = np.floor((py - self.miny) / self.sy).astype(np.int64)
        # inclusive on the global max edge (matches the bbox ladder's
        # <= maxx): a point exactly on maxx/maxy computes bucket nb —
        # clamp it into the last bucket instead of dropping it
        inside = ((px >= self.minx) & (px <= self.maxx)
                  & (py >= self.miny) & (py <= self.maxy))
        bx = np.clip(bx, 0, self.nb - 1)
        by = np.clip(by, 0, self.nb - 1)
        return np.where(inside, by * self.nb + bx, -1)

    def candidates(self, px: np.ndarray, py: np.ndarray):
        """-> iterable of (pid, point_index_array) candidate pairs."""
        b = self.point_buckets(px, py)
        out: dict[int, list] = {}
        for bucket in np.unique(b):
            if bucket < 0 or int(bucket) not in self.buckets:
                continue
            idx = np.nonzero(b == bucket)[0]
            for pid in self.buckets[int(bucket)]:
                out.setdefault(pid, []).append(idx)
        for pid, chunks in out.items():
            yield pid, (chunks[0] if len(chunks) == 1 else np.concatenate(chunks))


#: polygon count above which the broadcast path builds the grid index
#: instead of looping every polygon per batch
INDEX_THRESHOLD = 48


def _test_points(px: np.ndarray, py: np.ndarray, polys_and_bbox) -> np.ndarray:
    """Exact accept mask for many points vs one (multi)polygon, with the
    reference's ladder: bbox reject first, exact even-odd second."""
    polys, (minx, miny, maxx, maxy) = polys_and_bbox
    cand = (px >= minx) & (px <= maxx) & (py >= miny) & (py <= maxy)
    if not cand.any():
        return cand
    idx = np.nonzero(cand)[0]
    hit = np.zeros(len(idx), dtype=bool)
    for rings in polys:
        hit |= geom.points_in_polygon(px[idx], py[idx], rings)
    mask = np.zeros(len(px), dtype=bool)
    mask[idx[hit]] = True
    return mask


def pip_join_broadcast(
    points: DataFrame,
    polys: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    how: str = "inner",
) -> DataFrame:
    """Broadcast PIP join.

    points: any DataFrame with lon/lat double columns.
    polys:  DataFrame with (poly_id int, geom WKB binary) — collected to
            the driver and broadcast (must be dim-sized).
    how:    'inner' | 'left' (NULL poly_id when no polygon matches)
            | 'semi' (Clip analog: ogrlayer.cpp:7537)
            | 'anti' (Erase analog: ogrlayer.cpp:7846).
    A point matching k polygons emits k rows (inner/left), matching the
    reference's pairwise layer algebra.

    For inner/semi with up to 256 polygons, stage 1 of the reference's
    accept ladder (envelope reject, ogrlayer.cpp:3994) runs INSIDE
    Catalyst codegen: an OR of per-polygon bbox range predicates drops
    every point that can match nothing BEFORE the Arrow exchange, so
    the Python stage only sees candidate rows (~the polygons' combined
    bbox coverage). Past that the OR-chain stops paying (expression
    size) and the in-task grid index carries the bbox stage instead;
    beyond dim-scale polygon sets use pip_join_shuffle, whose cell join
    plays the same role. left/anti keep every point, so all points go
    to the exact stage, which emits the misses itself: one scan of the
    points source.
    """
    if how not in ("inner", "left", "semi", "anti"):
        raise ValueError(
            f"pip_join_broadcast: how={how!r}; expected 'inner', 'left', "
            "'semi' or 'anti'")
    poly_rows = [(int(r["poly_id"]), bytes(r["geom"]))
                 for r in polys.select("poly_id", "geom").collect()]
    bpolys = points.sparkSession.sparkContext.broadcast(poly_rows)
    if how in ("left", "anti") or not poly_rows or len(poly_rows) > 256:
        return _exact_stage(points, poly_rows, bpolys, lon_col, lat_col, how)

    lon, lat = F.col(lon_col), F.col(lat_col)
    bbox_pred = None
    for _, blob in poly_rows:
        minx, miny, maxx, maxy = _prepare_one(blob)[1]
        p = lon.between(float(minx), float(maxx)) & \
            lat.between(float(miny), float(maxy))
        bbox_pred = p if bbox_pred is None else (bbox_pred | p)
    return _exact_stage(points.filter(bbox_pred), poly_rows, bpolys,
                        lon_col, lat_col, how)


def _exact_stage(points: DataFrame, poly_rows, bpolys, lon_col: str,
                 lat_col: str, how: str) -> DataFrame:
    """Stage 2 of the ladder: the vectorized exact test per Arrow batch
    against the broadcast polygons (`bpolys` holds `poly_rows`)."""
    out_schema = T.StructType(points.schema.fields + [T.StructField("poly_id", T.IntegerType(), True)])
    emit_poly = how in ("inner", "left")
    schema = out_schema if emit_poly else points.schema
    want_index = len(poly_rows) > INDEX_THRESHOLD

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prepared = _decode_polys(bpolys.value)
        index = _BBoxGridIndex(prepared) if want_index else None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            px = pdf[lon_col].to_numpy(np.float64)
            py = pdf[lat_col].to_numpy(np.float64)
            any_hit = np.zeros(len(pdf), dtype=bool)
            outs = []
            if index is None:
                cand_iter = ((pid, None) for pid in prepared)
            else:
                cand_iter = index.candidates(px, py)
            for pid, idx in cand_iter:
                if idx is None:
                    mask = _test_points(px, py, prepared[pid])
                else:
                    sub_mask = _test_points(px[idx], py[idx], prepared[pid])
                    mask = np.zeros(len(pdf), dtype=bool)
                    mask[idx[sub_mask]] = True
                if mask.any():
                    any_hit |= mask
                    if emit_poly:
                        sub = pdf.loc[mask].copy()
                        sub["poly_id"] = np.int32(pid)
                        outs.append(sub)
            if how == "semi":
                yield pdf.loc[any_hit]
            elif how == "anti":
                yield pdf.loc[~any_hit]
            else:
                if how == "left":
                    miss = pdf.loc[~any_hit].copy()
                    miss["poly_id"] = pd.array([None] * len(miss), dtype="Int32")
                    outs.append(miss)
                if outs:
                    yield pd.concat(outs, ignore_index=True)

    return points.mapInPandas(run, schema=schema)


def explode_polys_to_cells(polys: DataFrame, res: int = cells.DEFAULT_RES) -> DataFrame:
    """(poly_id, geom, ...) -> one row per (covering cell, polygon).

    The build side of the shuffle join. Covering cells come from the
    polygon bbox (envelope conservatism — exact test later removes
    false positives, same contract as the reference's envelope ladder).
    """
    cell_schema = T.StructType([
        T.StructField("cell_id", T.LongType(), False),
        T.StructField("poly_id", T.IntegerType(), False),
        T.StructField("geom", T.BinaryType(), False),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows_c, rows_p, rows_g = [], [], []
            for _, row in pdf.iterrows():
                cc = cells.covering_cells(*_prepare_one(row["geom"])[1], res)
                rows_c.extend(int(c) for c in cc)
                rows_p.extend([int(row["poly_id"])] * len(cc))
                rows_g.extend([row["geom"]] * len(cc))
            yield pd.DataFrame({"cell_id": pd.array(rows_c, dtype="int64"),
                                "poly_id": pd.array(rows_p, dtype="int32"),
                                "geom": rows_g})

    return polys.select("poly_id", "geom").mapInPandas(run, schema=cell_schema)


def hot_cells(points: DataFrame, threshold: int = DEFAULT_HOT_CELL_ROWS,
              max_salt: int = 64) -> dict[int, int]:
    """Cell histogram -> {cell_id: n_salt} for cells above threshold.

    One cheap pre-pass aggregation (count per cell is map-side combined;
    at 10^12 rows the result is <= 4^res rows — tiny). The salt factor
    grows with the overload ratio, capped."""
    counts = points.groupBy("cell_id").count().filter(F.col("count") > threshold).collect()
    return {int(r["cell_id"]): int(min(max_salt, -(-r["count"] // threshold)))
            for r in counts}


def pip_join_shuffle(
    points: DataFrame,
    polys: DataFrame,
    res: int = cells.DEFAULT_RES,
    lon_col: str = "lon",
    lat_col: str = "lat",
    salt_map: dict[int, int] | None = None,
) -> DataFrame:
    """Cell-partitioned shuffle PIP join (inner).

    points must carry cell_id (use geo.cells.cell_encode_col). With a
    salt_map, hot cells' points get salt = doc-hash % n and the polygon
    side replicates those cells n times, so no single task owns a whole
    hot cell (north-rule requirement; the same idea AQE skew-split
    applies to plain joins, but done BEFORE the exact-test stage so the
    expensive geometry work is balanced too).
    """
    spark = points.sparkSession
    poly_cells = explode_polys_to_cells(polys, res)

    if salt_map:
        items = [(int(c), int(n)) for c, n in salt_map.items()]
        salt_df = spark.createDataFrame(items, "cell_id long, n_salt int")
        # points: salt within hot cells by a cheap deterministic hash
        pts = points.join(F.broadcast(salt_df), "cell_id", "left")
        pts = pts.withColumn(
            "salt",
            F.when(F.col("n_salt").isNull(), F.lit(0)).otherwise(
                F.pmod(F.xxhash64(F.col(lon_col), F.col(lat_col)), F.col("n_salt")).cast("int")
            ),
        ).drop("n_salt")
        # polygons: replicate hot cells n_salt times
        pc = poly_cells.join(F.broadcast(salt_df), "cell_id", "left")
        pc = pc.withColumn(
            "salt",
            F.explode(F.sequence(F.lit(0), F.coalesce(F.col("n_salt"), F.lit(1)) - 1)),
        ).drop("n_salt")
        join_keys = ["cell_id", "salt"]
    else:
        pts, pc, join_keys = points, poly_cells, ["cell_id"]

    joined = pts.join(pc, join_keys, "inner")
    if salt_map:
        joined = joined.drop("salt")

    # exact test, vectorized per (batch, polygon) group
    out_fields = [f for f in joined.schema.fields if f.name != "geom"]
    out_schema = T.StructType(out_fields)

    def exact(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[bytes, tuple] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            keep = np.zeros(len(pdf), dtype=bool)
            px = pdf[lon_col].to_numpy(np.float64)
            py = pdf[lat_col].to_numpy(np.float64)
            for blob, idx in pdf.groupby("geom", sort=False).indices.items():
                key = bytes(blob)
                if key not in cache:
                    cache[key] = _prepare_one(key)
                keep[idx] = _test_points(px[idx], py[idx], cache[key])
            yield pdf.loc[keep].drop(columns=["geom"])

    return joined.mapInPandas(exact, schema=out_schema)
