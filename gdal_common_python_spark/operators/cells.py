"""Cell index as Spark Column expressions — the Column twin of
``kernels/cells.py``, which stays the (Spark-free) numpy reference.

Every Spark-side grid formula of the engine is written here once: the
level-``res`` grid index ``floor((v + 180|90) / w)``, raw and clamped to
``[0, 2^res)``; the id packing ``(res << 58) | (ix << 29) | iy`` and its
inverse; the parent cell; the bbox cover and cell disk (two exploded index
sequences); and the cell edges. ``res`` is always a Python literal.
``tests/test_cells.py`` pins each function to its numpy twin on random
points and on the grid's edges (±180, ±90, exact cell borders).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..kernels.cells import IX_SHIFT, ORIGIN, RES_SHIFT, cell_size


def raw_index(v: Column, res: int, axis: int) -> Column:
    """Level-``res`` grid index of a lon (``axis=0``) or lat (``axis=1``)
    value, unclamped: values off the grid get indices outside
    ``[0, 2^res)``. knn and near_table use it, because they take
    native-unit coordinates and a clamp would pile every off-grid point
    into the border cell."""
    return F.floor((v + F.lit(ORIGIN[axis])) / F.lit(cell_size(res)[axis]))


def clamp(i: Column, res: int) -> Column:
    """Clip a grid index into ``[0, 2^res)``."""
    return F.least(F.greatest(i, F.lit(0)), F.lit((1 << res) - 1))


def index(v: Column, res: int, axis: int) -> Column:
    """Clamped grid index: ``kernels.cells.encode``'s ``ix`` / ``iy``."""
    return clamp(raw_index(v, res, axis), res)


def pack(res: int, ix: Column, iy: Column) -> Column:
    """Cell id of grid indices (ix, iy) at level ``res``: ``kernels.cells.pack``."""
    return (
        F.lit(res).cast("long") * F.lit(1 << RES_SHIFT).cast("long")
        + ix.cast("long") * F.lit(1 << IX_SHIFT).cast("long")
        + iy.cast("long")
    )


def cell_id(lon: Column, lat: Column, res: int) -> Column:
    """Point -> level-``res`` cell id: ``kernels.cells.encode``."""
    return pack(res, index(lon, res, 0), index(lat, res, 1))


def unpack(cell: Column) -> tuple[Column, Column, Column]:
    """Cell id -> (res, ix, iy): ``kernels.cells.decode``."""
    m = F.lit(1 << IX_SHIFT)
    return F.shiftright(cell, RES_SHIFT), F.shiftright(cell, IX_SHIFT) % m, cell % m


def parent(cell: Column, child_res: int, res: int) -> Column:
    """Ancestor at level ``res`` of a cell at level ``child_res``:
    ``kernels.cells.parent``."""
    _, ix, iy = unpack(cell)
    s = child_res - res
    return pack(res, F.shiftright(ix, s), F.shiftright(iy, s))


def explode_rect(df: DataFrame, ix0, ix1, iy0, iy1, ix: str = "ix", iy: str = "iy") -> DataFrame:
    """One row per (row of ``df``, index pair in ``[ix0, ix1] x [iy0, iy1]``),
    the pair in the new columns ``ix`` and ``iy``. The bounds are Columns or
    column names of ``df``; fan-out is the rectangle's size, never data."""
    return df.select("*", F.explode(F.sequence(ix0, ix1)).alias(ix)).select(
        "*", F.explode(F.sequence(iy0, iy1)).alias(iy)
    )


def cover_bbox(
    df: DataFrame, xmin: Column, ymin: Column, xmax: Column, ymax: Column, res: int,
    ix: str = "ix", iy: str = "iy",
) -> DataFrame:
    """Each row exploded over the level-``res`` cells whose rectangle meets
    its bbox, as grid indices (``ix``, ``iy``): ``kernels.cells.cover_bbox``."""
    return explode_rect(
        df, index(xmin, res, 0), index(xmax, res, 0), index(ymin, res, 1), index(ymax, res, 1),
        ix, iy,
    )


def disk(
    df: DataFrame, ix: Column, iy: Column, kx, ky, res: int,
    out_ix: str = "ix", out_iy: str = "iy",
) -> DataFrame:
    """Each row exploded over the cells within index distance ``kx`` / ``ky``
    (ints or Columns) of its cell (``ix``, ``iy``), clipped to the grid:
    ``kernels.cells.disk`` when ``kx == ky``."""
    return explode_rect(
        df, clamp(ix - kx, res), clamp(ix + kx, res), clamp(iy - ky, res), clamp(iy + ky, res),
        out_ix, out_iy,
    )


def coord(i: Column, res: int, axis: int) -> Column:
    """Lon (``axis=0``) or lat (``axis=1``) at grid index ``i``: a cell's
    west / south edge for an integer ``i``, its center at ``i + 0.5``."""
    return i * F.lit(cell_size(res)[axis]) - F.lit(ORIGIN[axis])


def bounds(ix: Column, iy: Column, res: int) -> tuple[Column, Column, Column, Column]:
    """(xmin, ymin, xmax, ymax) of the level-``res`` cell (ix, iy)."""
    return coord(ix, res, 0), coord(iy, res, 1), coord(ix + 1, res, 0), coord(iy + 1, res, 1)


def ring_min_distance(x: Column, y: Column, ix: Column, iy: Column, k: int, res: int) -> Column:
    """Distance from (x, y) to the edge of the ``k``-disk around cell
    (ix, iy): no point outside the disk is nearer, which makes it the kNN
    exit bound. ``kernels.cells.ring_min_distance``."""
    return F.least(
        x - coord(ix - k, res, 0), coord(ix + k + 1, res, 0) - x,
        y - coord(iy - k, res, 1), coord(iy + k + 1, res, 1) - y,
    )


# The same formulas spelled as DuckDB SQL, for the oracle text.


def sql_index(v: str, res: int, axis: int) -> str:
    """SQL twin of :func:`index` for the lon/lat expression ``v``."""
    return (
        f"CAST(least(greatest(floor(({v} + {ORIGIN[axis]}) / {cell_size(res)[axis]!r}), 0),"
        f" {(1 << res) - 1}) AS BIGINT)"
    )


def sql_unpack(cell: str) -> tuple[str, str]:
    """SQL twin of :func:`unpack`'s (ix, iy)."""
    m = 1 << IX_SHIFT
    return f"(({cell} // {m}) % {m})", f"({cell} % {m})"


def sql_bounds(cell: str, res: int) -> tuple[str, str, str, str]:
    """SQL twin of :func:`bounds` for the level-``res`` cell id ``cell``."""
    def coord(i, axis):
        return f"{-ORIGIN[axis]} + {i} * CAST({cell_size(res)[axis]!r} AS DOUBLE)"

    ix, iy = sql_unpack(cell)
    return coord(ix, 0), coord(iy, 1), coord(f"({ix} + 1)", 0), coord(f"({iy} + 1)", 1)
