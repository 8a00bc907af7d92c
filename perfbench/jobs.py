"""The three workloads: one job each, an untraced form that the
end-to-end metrics time and a traced form that forces every layer's
output on its own.

Each job is rebuilt from the public API on every run, exactly as a
user would call it, and returns a small result that `check` compares
with the DuckDB expectations outside the timed section.

The traced form attributes time by forcing layers one after another
through Spark's `noop` sink: layer L's self time is the time to force
L's output minus the time to force the output of the layer feeding it
(the upstream work is recomputed inside L's span). The pyramid's
traced form first runs the job exactly as the untraced form does,
with a span per step, and forces density and the overview chain on
their own afterwards.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import zlib

import pyarrow.compute as pc
import pyarrow.dataset as pads
from pyspark.sql import Observation
from pyspark.sql import functions as F

import tracing as T
from gdal_spark import checkpoint as CP
from gdal_spark.geo import mercator
from gdal_spark.operators import knn, pip_join
from gdal_spark.raster import density as D
from gdal_spark.raster import pyramid as P
from gdal_spark.raster import tilewriter as TW
from gdal_spark.sources import admin

import oracle

N_POLYS = 24
MS = 1e-3
NS = 1e-9


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _force_scan(df) -> None:
    """Force a scan through the noop sink. The sink never reads a
    column, so the parquet reader could skip decoding; hashing every
    column makes it decode them all."""
    _noop(df.select(F.xxhash64(*df.columns).alias("h")))


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def _cached(path: str, compute) -> dict:
    """DuckDB expectations are a pure function of the input table, so
    they are kept beside it in the cache and computed once per input."""
    if os.path.exists(path):
        with open(path) as f:
            got = json.load(f)
    else:
        got = compute()
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(got, f)
        os.replace(tmp, path)
        got = json.loads(json.dumps(got))
    got["per_poly"] = {int(k): v for k, v in got["per_poly"].items()}
    if "knn" in got:
        got["knn"] = [tuple(r) for r in got["knn"]]
    return got


class BroadcastPipTile:
    """Scan pages -> broadcast PIP join -> per (poly_id, z12 tile) rollup."""

    def __init__(self, spark, pages_dir: str, n_pages: int):
        self.spark = spark
        self.pages_dir = pages_dir
        self.n_pages = n_pages
        self.expect = None

    def prepare(self) -> None:
        self.expect = _cached(
            f"{self.pages_dir}.expect-pip.json",
            lambda: oracle.pip_expectations(self.pages_dir, N_POLYS))

    def _scan(self):
        return self.spark.read.parquet(self.pages_dir).select("doc_id", "lon", "lat")

    def _join(self):
        return pip_join.pip_join_broadcast(
            self._scan(), admin.admin_df(self.spark, N_POLYS), how="inner")

    @staticmethod
    def _rollup(pairs):
        z = oracle.ROLLUP_ZOOM
        return (pairs.withColumn("tile_x", mercator.tile_x_col(F.col("lon"), z))
                .withColumn("tile_y", mercator.tile_y_col(F.col("lat"), z))
                .groupBy("poly_id", "tile_x", "tile_y")
                .agg(F.count(F.lit(1)).alias("n")))

    def run(self) -> Observation:
        """The rollup goes to the noop sink; an Observation counts its
        groups, its pairs and the pairs of every polygon on the way."""
        obs = Observation()
        per_poly = [F.sum(F.when(F.col("poly_id") == pid, F.col("n"))).alias(f"poly_{pid}")
                    for pid, _, _ in admin.admin_rings(N_POLYS)]
        rollup = self._rollup(self._join()).observe(
            obs, F.count(F.lit(1)).alias("groups"), F.sum("n").alias("pairs"),
            *per_poly)
        _noop(rollup)
        return obs

    def check(self, obs) -> list[str]:
        got = obs.get
        bad = []
        for k in ("groups", "pairs"):
            if int(got[k] or 0) != self.expect[k]:
                bad.append(f"rollup {k} {got[k]} != duckdb {self.expect[k]}")
        per_poly = {int(k[5:]): int(v) for k, v in got.items()
                    if k.startswith("poly_") and v}
        if per_poly != self.expect["per_poly"]:
            bad.append(f"pairs per polygon differ from duckdb: "
                       f"{per_poly} != {self.expect['per_poly']}")
        return bad

    def traced(self, tr: T.Tracer) -> dict:
        with tr.span("job"):
            with tr.span("pages.scan") as scan:
                _force_scan(self._scan())
            with tr.span("pip_join.broadcast") as pip:
                _noop(self._join())
            # the last span is the untraced job itself, so trace.job_s
            # compares like with like
            with tr.span("tile_rollup") as roll:
                bad = self.check(self.run())
        if bad:
            raise RuntimeError("; ".join(bad))
        rows_in = T.rows_into(pip, "MapInPandas")
        pairs = T.node_metric(pip, "MapInPandas", "pythonNumRowsReceived")
        return {
            "pages.scan_s": T.duration(scan),
            "pages.bytes_read": T.node_metric(scan, "Scan parquet", "filesSize"),
            "pip_join.broadcast_s": T.duration(pip) - T.duration(scan),
            "pip_join.python_s": T.node_metric(pip, "MapInPandas", "pythonTotalTime") * MS,
            "pip_join.python_boot_s": T.node_metric(pip, "MapInPandas", "pythonBootTime") * MS,
            "pip_join.arrow_bytes_sent": T.node_metric(pip, "MapInPandas", "pythonDataSent"),
            "pip_join.arrow_bytes_recv": T.node_metric(pip, "MapInPandas", "pythonDataReceived"),
            "pip_join.candidate_ratio": _ratio(rows_in, self.n_pages),
            "pip_join.hit_ratio": _ratio(pairs, rows_in),
            "tile_rollup_s": T.duration(roll) - T.duration(pip),
            "tile_rollup.shuffle_bytes": roll["stages"].get("shuffle_write_bytes", 0),
            "trace.job_s": T.duration(roll),
            "_bases": {"pip_join.candidate_ratio": f"{rows_in} rows into Python / {self.n_pages} pages",
                       "pip_join.hit_ratio": f"{pairs} pairs / {rows_in} rows into Python"},
        }


class ShufflePipKnn:
    """hot_cells -> salted shuffle PIP join -> kNN for a seeded sample."""

    K = 5
    #: start the ring search at Chebyshev radius 1; left to itself the
    #: operator scores every pair by brute force at this input size,
    #: and the ring rounds are the mechanism this workload measures
    INITIAL_RING = 1

    def __init__(self, spark, pages_dir: str, n_pages: int,
                 query_ids: list[int]):
        self.spark = spark
        self.pages_dir = pages_dir
        self.n_pages = n_pages
        self.query_ids = query_ids
        self.hot_threshold = max(1, n_pages // 40)
        self.expect = None

    def prepare(self) -> None:
        def compute():
            pip = oracle.pip_expectations(self.pages_dir, N_POLYS)
            rows = oracle.knn_expectations(self.pages_dir, self.query_ids, self.K)
            return {"per_poly": pip["per_poly"], "knn": rows}

        # keyed by the query ids, so a change to the sampling rule can
        # never be checked against expectations of another sample
        ids = ",".join(map(str, self.query_ids)).encode()
        key = f"q{len(self.query_ids)}-{zlib.crc32(ids):08x}-k{self.K}"
        self.expect = _cached(f"{self.pages_dir}.expect-knn-{key}.json", compute)

    def _scan(self):
        return self.spark.read.parquet(self.pages_dir).select(
            "doc_id", "lon", "lat", "cell_id")

    def _queries(self, pts):
        ids = self.spark.createDataFrame([(q,) for q in self.query_ids], "doc_id long")
        return pts.join(F.broadcast(ids), "doc_id")

    def _shuffle_join(self, pts, salt):
        return pip_join.pip_join_shuffle(
            pts, admin.admin_df(self.spark, N_POLYS), salt_map=salt)

    def run(self) -> dict:
        pts = self._scan()
        salt = pip_join.hot_cells(pts, threshold=self.hot_threshold)
        per_poly = self._shuffle_join(pts, salt).groupBy("poly_id").count().collect()
        near = knn.knn_join(pts, self._queries(pts), k=self.K,
                             initial_ring=self.INITIAL_RING).collect()
        return {"per_poly": {int(r["poly_id"]): int(r["count"]) for r in per_poly},
                "knn": [(int(r["q_id"]), int(r["rank"]), int(r["neighbor_id"]),
                         float(r["dist2"])) for r in near]}

    def check(self, res: dict) -> list[str]:
        bad = []
        if res["per_poly"] != self.expect["per_poly"]:
            bad.append("shuffle-join pairs per polygon differ from duckdb")
        if sorted(res["knn"]) != self.expect["knn"]:
            bad.append("knn rows differ from the duckdb brute force")
        return bad

    def traced(self, tr: T.Tracer) -> dict:
        with tr.span("job"):
            with tr.span("pages.scan") as scan:
                _force_scan(self._scan())
            with tr.span("pip_join.hot_cells") as hot:
                salt = pip_join.hot_cells(self._scan(), threshold=self.hot_threshold)
            with tr.span("pip_join.shuffle") as shj:
                _noop(self._shuffle_join(self._scan(), salt))
            with tr.span("knn.join") as kj:
                pts = self._scan()
                knn.knn_join(pts, self._queries(pts), k=self.K,
                             initial_ring=self.INITIAL_RING).collect()
        rows_in = T.rows_into(shj, "MapInPandas")
        kept = T.node_metric(shj, "MapInPandas", "pythonNumRowsReceived")
        return {
            "pages.scan_s": T.duration(scan),
            "pages.bytes_read": T.node_metric(scan, "Scan parquet", "filesSize"),
            "pip_join.hot_cells_s": T.duration(hot),
            "pip_join.shuffle_s": T.duration(shj) - T.duration(scan),
            "pip_join.shuffle_bytes_written": shj["stages"].get("shuffle_write_bytes", 0),
            "pip_join.shuffle_write_s": shj["stages"].get("shuffle_write_ns", 0) * NS,
            "pip_join.salted_cells": len(salt),
            "pip_join.exact_keep_ratio": _ratio(kept, rows_in),
            "pip_join.python_s": T.node_metric(shj, "MapInPandas", "pythonTotalTime") * MS,
            "pip_join.python_boot_s": T.node_metric(shj, "MapInPandas", "pythonBootTime") * MS,
            "pip_join.arrow_bytes_sent": T.node_metric(shj, "MapInPandas", "pythonDataSent"),
            "pip_join.arrow_bytes_recv": T.node_metric(shj, "MapInPandas", "pythonDataReceived"),
            "knn.join_s": T.duration(kj),
            "knn.spark_jobs": kj["stages"].get("jobs", 0),
            "knn.shuffle_bytes": kj["stages"].get("shuffle_write_bytes", 0),
            "trace.job_s": T.duration(hot) + T.duration(shj) + T.duration(kj),
            "_bases": {"pip_join.exact_keep_ratio":
                       f"{kept} pairs kept / {rows_in} cell-join rows into the exact test"},
        }


class TilePyramidCheckpoint:
    """write_pyramid into a fresh store, then the same call again over
    the committed store (resume) followed by verify_stage per level."""

    step_names = ("write", "resume")

    BASE_ZOOM = 5
    KEYS = ["tile_y", "tile_x"]

    def __init__(self, spark, pages_dir: str, n_pages: int, work_dir: str,
                 tile: int, min_zoom: int, n_buckets: int):
        self.spark = spark
        self.pages_dir = pages_dir
        self.n_pages = n_pages
        self.work_dir = work_dir
        self.tile = tile
        self.min_zoom = min_zoom
        self.n_buckets = n_buckets
        self.runs = 0
        self.step_s: list[tuple[float, float]] = []  # (write, resume) per run

    def prepare(self) -> None:
        pass

    def reset(self) -> None:
        """write_pyramid leaves its overview levels persisted, and Spark
        serves an identical later plan from that cache; dropping the
        cache between runs makes every run compute its levels."""
        self.spark.catalog.clearCache()

    def _points(self):
        return self.spark.read.parquet(self.pages_dir).select("lon", "lat")

    def _levels(self):
        return range(self.BASE_ZOOM, self.min_zoom - 1, -1)

    def _fresh_dir(self) -> str:
        self.runs += 1
        out = os.path.join(self.work_dir, f"store{self.runs}")
        shutil.rmtree(out, ignore_errors=True)
        return out

    def _write_pyramid(self, out: str) -> dict:
        return TW.write_pyramid(self._points(), out, self.BASE_ZOOM,
                                self.min_zoom, tile=self.tile, kernel="sum",
                                n_buckets=self.n_buckets)

    def run(self) -> dict:
        t0 = time.perf_counter()
        res = self.write()
        t1 = time.perf_counter()
        self.resume(res)
        self.step_s.append((t1 - t0, time.perf_counter() - t1))
        return res

    def write(self) -> dict:
        out = self._fresh_dir()
        return {"dir": out, "write": self._write_pyramid(out)}

    def resume(self, res: dict) -> None:
        res["resume"] = self._write_pyramid(res["dir"])
        self.verify(res)

    def verify(self, res: dict) -> None:
        res["audit"] = [(z, bool(r["ok"])) for z in self._levels()
                        for r in CP.verify_stage(
                            self.spark, os.path.join(res["dir"], f"z{z}"),
                            self.KEYS).select("ok").collect()]

    def check(self, res: dict) -> list[str]:
        """Resume stats, the audit, and every level's pixel sum against
        the page count, read from the store with pyarrow (the sums of
        integer counts are exact in float64). Removes the store."""
        bad = []
        try:
            for z in self._levels():
                w, r = res["write"][z], res["resume"][z]
                if w["written"] == 0 or w["skipped"] != 0:
                    bad.append(f"z{z} write stats {w}")
                if r["written"] != 0 or r["skipped"] != w["written"]:
                    bad.append(f"z{z} resume stats {r}")
            if not res["audit"] or not all(ok for _, ok in res["audit"]):
                bad.append("verify_stage reported a bucket that is not ok")
            got = {z: self._level_sum(os.path.join(res["dir"], f"z{z}"))
                   for z in self._levels()}
            want = {z: float(self.n_pages) for z in self._levels()}
            if got != want:
                bad.append(f"pyramid sums per level {got} != {want}")
        finally:
            shutil.rmtree(res["dir"], ignore_errors=True)
        return bad

    @staticmethod
    def _level_sum(path: str) -> float:
        px = pads.dataset(path, format="parquet").to_table(columns=["px"])["px"]
        return float(pc.sum(pc.list_flatten(px)).as_py() or 0.0)

    def traced(self, tr: T.Tracer) -> dict:
        """The job exactly as `run` makes it (write_pyramid, the same
        call again, verify_stage) under the listener, then density and
        the overview chain forced on their own through the noop sink."""
        self.reset()
        with tr.span("job") as job:
            with tr.span("checkpoint.write") as cw:
                res = self.write()
            with tr.span("checkpoint.resume") as cr:
                res["resume"] = self._write_pyramid(res["dir"])
            with tr.span("checkpoint.verify") as cv:
                self.verify(res)
        bytes_on_disk = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(res["dir"]) for f in files)
        tiles = sum(pads.dataset(os.path.join(res["dir"], f"z{z}"),
                                 format="parquet").count_rows()
                    for z in self._levels())
        payload = tiles * self.tile ** 2 * 8
        bad = self.check(res)
        if bad:
            raise RuntimeError("; ".join(bad))

        self.reset()
        with tr.span("density.tiles") as dens:
            _noop(D.density_tiles(self._points(), self.BASE_ZOOM, self.tile))
        with tr.span("pyramid.levels") as lv:
            cur = D.density_tiles(self._points(), self.BASE_ZOOM, self.tile)
            for z in list(self._levels())[1:]:
                cur = P.overview_level(cur, z + 1, "sum", self.tile)
            _noop(cur)
        density_s = T.duration(dens)
        levels_s = T.duration(lv) - density_s
        return {
            "density.tiles_s": density_s,
            "pyramid.levels_s": levels_s,
            "pyramid.python_s": T.node_metric(
                cw, "FlatMapGroupsInPandas", "pythonTotalTime") * MS,
            "checkpoint.write_s": T.duration(cw) - density_s - levels_s,
            "checkpoint.bytes_written": bytes_on_disk,
            "checkpoint.write_amp": _ratio(bytes_on_disk, payload),
            "checkpoint.resume_s": T.duration(cr),
            "checkpoint.verify_s": T.duration(cv),
            "checkpoint.buckets_written": sum(s["written"] for s in res["write"].values()),
            "checkpoint.buckets_skipped": sum(s["skipped"] for s in res["resume"].values()),
            "trace.job_s": T.duration(job),
            "_bases": {"checkpoint.write_amp":
                       f"{bytes_on_disk} bytes on disk / {payload} tile payload bytes "
                       f"({tiles} tiles x {self.tile}^2 float64 pixels)"},
        }
