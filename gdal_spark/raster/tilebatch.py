"""Tile rows as Arrow batches: sparse pixels <-> dense `px` arrays with
one numpy operation per batch instead of one Python call per tile.

A tile's `px` is an Arrow `list<double>`; a batch of n tiles is its
flat value buffer plus n + 1 offsets, which is exactly an (n, t*t)
row-major ndarray when every tile is full. `px_values` / `px_column`
convert between the two without a Python loop.

`densify` turns a sparse pixel relation (keys..., pxi, v) into dense
tile rows in ONE streaming `mapInArrow`: the rows are hash-partitioned
by tile key and sorted within each partition, so every tile is one run
of consecutive rows; each Arrow batch is scattered into its tiles with
one fancy-index assignment, and the last run of a batch, which may
continue in the next batch, is carried over. Memory per task is one
input batch, the carried rows of at most one tile and at most
MAX_BATCH_PIXELS output pixels, whatever the partition size.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

#: output pixels per emitted batch (32 MB of float64)
MAX_BATCH_PIXELS = 1 << 22


def px_values(px: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """list<double> column -> (offsets starting at 0, flat float64
    values); tile i is values[offsets[i]:offsets[i + 1]]."""
    off = px.offsets.to_numpy()
    return off - off[0], px.flatten().to_numpy(zero_copy_only=False)


def px_column(dense: np.ndarray) -> pa.Array:
    """(n, t*t) float64 ndarray -> list<double> column, one tile a row."""
    n, tt = dense.shape
    offsets = pa.array(np.arange(0, (n + 1) * tt, tt, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(dense.ravel()))


def _tile_starts(keys: list[np.ndarray]) -> np.ndarray:
    """True on each row whose tile key differs from the row before."""
    new = np.ones(len(keys[0]), dtype=bool)
    new[1:] = np.logical_or.reduce([k[1:] != k[:-1] for k in keys])
    return new


def _scatter(cols: list[np.ndarray], new: np.ndarray, tt: int,
             schema: pa.Schema):
    """Whole tiles' rows (*keys, pxi, v), sorted by tile key, and their
    `_tile_starts` -> dense record batches of at most MAX_BATCH_PIXELS
    pixels each, one scatter per batch."""
    *keys, pxi, v = cols
    starts = np.flatnonzero(new)
    step = max(1, MAX_BATCH_PIXELS // tt)
    for a in range(0, len(starts), step):
        lo = starts[a]
        hi = starts[a + step] if a + step < len(starts) else len(pxi)
        tile_of = np.cumsum(new[lo:hi]) - 1
        dense = np.zeros((tile_of[-1] + 1, tt), dtype=np.float64)
        dense[tile_of, pxi[lo:hi]] = v[lo:hi]
        first = starts[a:a + step]
        yield pa.RecordBatch.from_arrays(
            [pa.array(k[first], type=pa.int32()) for k in keys]
            + [px_column(dense)], schema=schema)


def densify(sparse: DataFrame, key_cols: list[str], tile: int,
            tasks: int | None = None) -> DataFrame:
    """(*key_cols, pxi, v) with one row per nonzero pixel -> dense tile
    rows (*key_cols, px): px has tile*tile pixels, v at pxi, 0 elsewhere.
    Every tile is full (the world grids have no partial edge tiles).

    One Python stage. `tasks` fixes its task count; None leaves the
    count to adaptive execution, which coalesces a small input onto
    one task. Each Python task has a fixed cost whatever its size, so
    the best count depends on the input: a small raster wants the
    coalesced count, a multi-level pyramid one task per core (see
    `tilewriter.sum_pyramid`)."""
    out = T.StructType(
        [T.StructField(c, T.IntegerType(), False) for c in key_cols]
        + [T.StructField("px", T.ArrayType(T.DoubleType()), False)])
    schema = to_arrow_schema(out)
    tt = tile * tile
    n = len(key_cols)

    def run(batches):
        carry = []
        for b in batches:
            cols = [b.column(i).to_numpy(zero_copy_only=False)
                    for i in range(n + 2)]
            if carry:
                cols = [np.concatenate(p) for p in zip(carry, cols)]
            if len(cols[0]) == 0:
                continue
            # the last tile may go on in the next batch: carry it over
            new = _tile_starts(cols[:n])
            cut = np.flatnonzero(new)[-1]
            if cut:
                yield from _scatter([c[:cut] for c in cols], new[:cut], tt,
                                    schema)
            carry = [c[cut:] for c in cols]
        if carry:
            yield from _scatter(carry, _tile_starts(carry[:n]), tt, schema)

    rows = sparse.select(*key_cols, "pxi", "v")
    rows = (rows.repartition(tasks, *key_cols) if tasks
            else rows.repartition(*key_cols))
    return rows.sortWithinPartitions(*key_cols).mapInArrow(run, out)
