"""Multi-resolution HEXAGONAL cell index (H3 analog) in pure column math.

The north star names "H3/S2 cell encoding"; geo/s2.py provides the
true S2 index (cube faces + Hilbert), and this module provides the
hexagonal side of the pair: an aperture-7 hex hierarchy — each finer
resolution shrinks the hex circumradius by sqrt(7), so ~7 children
cover a parent, H3's aperture — on a pointy-top axial lattice in
web-mercator meters (the engine's working plane, so hex cells, Morton
cells and XYZ tiles share one projection).

Why hexagons at all (same reasons Uber's public H3 design doc gives):
every neighbor is edge-adjacent at the SAME center distance, so
grid_disk(k) is an exact distance ring — the kNN/radius candidate
rings over hex cells waste ~30% fewer candidates than the Chebyshev
square rings of the Morton grid.

Deliberate deviations from real H3 (this sandbox has no h3 library,
and bit-compatibility with an external table is not reproducible
without it — documented, not hidden):
  - planar web-mercator lattice, not the icosahedral gnomonic one
    (no pentagons, no face seams; polar caps clamp like the tile
    grid does);
  - no per-resolution Class II/III axis rotation; parent() is the
    nearest coarser hex of a cell's center (H3's approximate
    containment semantics, without the rotation constant);
  - ids pack (res, q, r) in an int64 instead of H3's face digits.

Encode math (axial coords, cube rounding — the standard public
hex-grid algorithm):

    qf = (mx * SQRT3_3 - my * THIRD) / size_r
    rf = (my * TWO_THIRDS) / size_r
    (x, y, z) = (qf, -qf-rf, rf); round each; push the largest
    rounding error back onto the x+y+z=0 plane.

All rounding is floor(v + 0.5) — the same +0.5-floor rule the warp
checksum gates use, deterministic and identical in Spark, numpy and
DuckDB. Forms: *_col (Catalyst expressions, whole-stage codegen),
*_np (numpy), *_sql (DuckDB oracle text) — bit-identical operand
order throughout.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from . import mercator

#: res-0 hex circumradius: one world-spanning hex. Aperture 7.
SIZE0 = mercator.ORIGIN_SHIFT
APERTURE = 7.0

#: res cap so the biased axial coords fit the 28-bit id fields:
#: at res 18 (size ~0.5 m) |q|,|r| < 2^27.
MAX_RES = 18
DEFAULT_RES = 6  # ~149 km circumradius: kNN/join grain
_BIAS = 1 << 27

SQRT3 = math.sqrt(3.0)
SQRT3_3 = SQRT3 / 3.0
THIRD = 1.0 / 3.0
TWO_THIRDS = 2.0 / 3.0


def size_of(res: int) -> float:
    """Hex circumradius (m) at `res` — one shared Python float literal
    injected into all three engines."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"hex res must be 0..{MAX_RES}, got {res}")
    return SIZE0 / math.sqrt(APERTURE) ** res


# ----------------------------------------------------------------- np

def _round_half_up_np(v: np.ndarray) -> np.ndarray:
    return np.floor(v + 0.5)


def _axial_round_np(qf: np.ndarray, rf: np.ndarray):
    x, z = qf, rf
    y = -qf - rf
    rx, ry, rz = (_round_half_up_np(x), _round_half_up_np(y),
                  _round_half_up_np(z))
    dx, dy, dz = np.abs(rx - x), np.abs(ry - y), np.abs(rz - z)
    fix_x = (dx > dy) & (dx > dz)
    fix_z = ~fix_x & ~(dy > dz)
    rx = np.where(fix_x, -ry - rz, rx)
    rz = np.where(fix_z, -rx - ry, rz)
    return rx.astype(np.int64), rz.astype(np.int64)


def hex_qr_np(lon: np.ndarray, lat: np.ndarray, res: int = DEFAULT_RES):
    size = size_of(res)
    mx, my = mercator.lonlat_to_meters_np(
        np.asarray(lon, dtype=np.float64),
        np.clip(np.asarray(lat, dtype=np.float64),
                -mercator.MERCATOR_MAX_LAT, mercator.MERCATOR_MAX_LAT))
    qf = (mx * SQRT3_3 - my * THIRD) / size
    rf = (my * TWO_THIRDS) / size
    return _axial_round_np(qf, rf)


def hex_id_np(lon: np.ndarray, lat: np.ndarray,
              res: int = DEFAULT_RES) -> np.ndarray:
    q, r = hex_qr_np(lon, lat, res)
    return ((np.int64(res) << np.int64(56))
            | ((q + _BIAS) << np.int64(28)) | (r + _BIAS))


def hex_center_m_np(q: np.ndarray, r: np.ndarray, res: int):
    """Axial -> center in mercator meters (exact inverse lattice map)."""
    size = size_of(res)
    mx = size * (SQRT3 * q.astype(np.float64)
                 + (SQRT3 / 2.0) * r.astype(np.float64))
    my = size * (1.5 * r.astype(np.float64))
    return mx, my


def hex_unpack_np(hex_id: np.ndarray):
    hex_id = np.asarray(hex_id, dtype=np.int64)
    res = hex_id >> np.int64(56)
    q = ((hex_id >> np.int64(28)) & np.int64((1 << 28) - 1)) - _BIAS
    r = (hex_id & np.int64((1 << 28) - 1)) - _BIAS
    return res, q, r


def hex_parent_np(hex_id: np.ndarray, steps: int = 1) -> np.ndarray:
    """Nearest coarser hex of the cell center (H3-style approximate
    containment; exact centroid membership, ~7:1 fan-in)."""
    res, q, r = hex_unpack_np(hex_id)
    res0 = int(res.reshape(-1)[0])
    mx, my = hex_center_m_np(q, r, res0)
    pres = res0 - steps
    size = size_of(pres)
    qf = (mx * SQRT3_3 - my * THIRD) / size
    rf = (my * TWO_THIRDS) / size
    pq, pr = _axial_round_np(qf, rf)
    return ((np.int64(pres) << np.int64(56))
            | ((pq + _BIAS) << np.int64(28)) | (pr + _BIAS))


def grid_disk_offsets(k: int) -> list[tuple[int, int]]:
    """All axial offsets within hex-grid distance k of the origin —
    1 + 3k(k+1) cells, every ring an EXACT distance ring (the hex
    advantage over Chebyshev square rings). Driver-local literal list
    for broadcast."""
    return [(dq, dr)
            for dq in range(-k, k + 1)
            for dr in range(max(-k, -dq - k), min(k, -dq + k) + 1)]


def hex_distance_np(qa, ra, qb, rb) -> np.ndarray:
    """Hex-grid (cube) distance between axial coords."""
    dq = np.asarray(qa) - np.asarray(qb)
    dr = np.asarray(ra) - np.asarray(rb)
    return ((np.abs(dq) + np.abs(dr) + np.abs(dq + dr)) // 2).astype(np.int64)


# ---------------------------------------------------------------- col

def _round_half_up_col(v: Column) -> Column:
    return F.floor(v + F.lit(0.5))


def hex_qr_cols(lon: Column, lat: Column, res: int = DEFAULT_RES):
    """(q, r) as Catalyst columns — same operand order as hex_qr_np."""
    size = size_of(res)
    mx = mercator.merc_x_col(lon)
    my = mercator.merc_y_col(lat)  # clamps lat like the np form
    qf = (mx * F.lit(SQRT3_3) - my * F.lit(THIRD)) / F.lit(size)
    rf = (my * F.lit(TWO_THIRDS)) / F.lit(size)
    x, z = qf, rf
    y = -qf - rf
    rx, ry, rz = (_round_half_up_col(x), _round_half_up_col(y),
                  _round_half_up_col(z))
    dx, dy, dz = (F.abs(rx - x), F.abs(ry - y), F.abs(rz - z))
    fx = (dx > dy) & (dx > dz)
    q = F.when(fx, -ry - rz).otherwise(rx)
    r = F.when(~fx & ~(dy > dz), -rx - ry).otherwise(rz)
    return q.cast("long"), r.cast("long")


def hex_id_col(lon: Column, lat: Column, res: int = DEFAULT_RES) -> Column:
    q, r = hex_qr_cols(lon, lat, res)
    return (F.lit(res).cast("long") * F.lit(1 << 56)
            + (q + F.lit(_BIAS)) * F.lit(1 << 28) + (r + F.lit(_BIAS)))


# ---------------------------------------------------------------- sql

def hex_qr_sql(lon_expr: str, lat_expr: str, res: int = DEFAULT_RES,
               prefix: str = "hx") -> tuple[str, str, str]:
    """(cte_body, q_expr, r_expr) for a DuckDB oracle. The CTE stage
    names are prefixed so several hex stages can coexist in one query.
    Operand order mirrors hex_qr_cols exactly."""
    size = size_of(res)
    my = mercator.merc_y_sql(lat_expr)
    mx = f"(({lon_expr}) * {mercator.LON2M!r})"
    qf = f"((({mx}) * {SQRT3_3!r} - ({my}) * {THIRD!r}) / {size!r})"
    rf = f"((({my}) * {TWO_THIRDS!r}) / {size!r})"
    # one CTE stage materializes qf/rf so the rounding stage reuses
    # the exact same doubles (no re-evaluated transcendentals)
    cte = (f"{prefix}_f AS (SELECT *, {qf} AS qf, {rf} AS rf FROM "
           f"{prefix}_src),\n"
           f"{prefix}_r AS (SELECT *,\n"
           f"  floor(qf + 0.5) AS rx,\n"
           f"  floor((-qf - rf) + 0.5) AS ry,\n"
           f"  floor(rf + 0.5) AS rz,\n"
           f"  abs(floor(qf + 0.5) - qf) AS dx,\n"
           f"  abs(floor((-qf - rf) + 0.5) - (-qf - rf)) AS dy,\n"
           f"  abs(floor(rf + 0.5) - rf) AS dz\n"
           f"  FROM {prefix}_f)")
    # the fix-z branch may read the ORIGINAL rx: its guard implies the
    # fix-x branch did not fire, so rx is unchanged there (same
    # reasoning as hex_qr_cols)
    q = ("CAST(CASE WHEN dx > dy AND dx > dz THEN -ry - rz "
         "ELSE rx END AS BIGINT)")
    r = ("CAST(CASE WHEN NOT (dx > dy AND dx > dz) AND NOT (dy > dz) "
         "THEN -rx - ry ELSE rz END AS BIGINT)")
    return cte, q, r


def hex_id_sql_from_qr(q_expr: str, r_expr: str, res: int) -> str:
    return (f"CAST(CAST({res} AS BIGINT) * {1 << 56} + "
            f"(({q_expr}) + {_BIAS}) * {1 << 28} + "
            f"(({r_expr}) + {_BIAS}) AS BIGINT)")
