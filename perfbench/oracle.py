"""DuckDB expectations over the same parquet the engine reads.

Every expected value comes from SQL the engine's own oracles use:
admin.pip_oracle_predicate (the convex half-plane form of each
polygon), mercator.tile_x_sql / tile_y_sql (bit-identical to the
engine's column math) and knn.knn_oracle_sql (brute force).
"""

from __future__ import annotations

import duckdb

from gdal_spark.geo import mercator
from gdal_spark.operators import knn
from gdal_spark.sources import admin

ROLLUP_ZOOM = 12


def _scan(pages_dir: str) -> str:
    return f"read_parquet('{pages_dir}/*.parquet')"


def _connect():
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    # its progress bar would write into the benchmark's output
    con.execute("SET enable_progress_bar = false")
    return con


def pip_expectations(pages_dir: str, n_polys: int) -> dict:
    """-> {'per_poly': {poly_id: pairs}, 'pairs': int, 'groups': int}
    where groups counts distinct (poly_id, z12 tile) rollup keys."""
    rings = admin.admin_rings(n_polys)
    tx = mercator.tile_x_sql("lon", ROLLUP_ZOOM)
    ty = mercator.tile_y_sql("lat", ROLLUP_ZOOM)
    pairs = " UNION ALL ".join(
        f"SELECT {pid} AS poly_id, {tx} AS tx, {ty} AS ty FROM pts "
        f"WHERE {admin.pip_oracle_predicate(ring, 'lon', 'lat')}"
        for pid, _, ring in rings)
    con = _connect()
    try:
        con.execute(f"CREATE TEMP VIEW pts AS SELECT lon, lat FROM {_scan(pages_dir)}")
        con.execute(f"CREATE TEMP TABLE pairs AS {pairs}")
        per_poly = dict(con.execute(
            "SELECT poly_id, count(*) FROM pairs GROUP BY poly_id").fetchall())
        groups = con.execute(
            "SELECT count(*) FROM (SELECT DISTINCT poly_id, tx, ty FROM pairs)"
        ).fetchone()[0]
    finally:
        con.close()
    return {"per_poly": {int(k): int(v) for k, v in per_poly.items()},
            "pairs": int(sum(per_poly.values())), "groups": int(groups)}


def knn_expectations(pages_dir: str, query_ids: list[int], k: int) -> list[tuple]:
    """Brute-force k nearest rows (q_id, rank, neighbor_id, dist2),
    ordered by (q_id, rank), for the given query ids."""
    pts_sql = f"SELECT doc_id, lon, lat FROM {_scan(pages_dir)}"
    q_filter = "doc_id IN (" + ", ".join(str(int(q)) for q in query_ids) + ")"
    con = _connect()
    try:
        rows = con.execute(knn.knn_oracle_sql(pts_sql, k, q_filter)).fetchall()
    finally:
        con.close()
    return [(int(q), int(r), int(n), float(d)) for q, r, n, d in rows]
