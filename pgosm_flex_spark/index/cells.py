"""Web-mercator quadtree cell index — the engine's distributed spatial index.

Replaces the reference's GiST indexes (declared via INI,
/root/reference/flex-config/helpers.lua:442-573) and its ST_Subdivide join
accelerator (/root/reference/flex-config/sql/place.sql:60-66): every geometry
gets one or more int64 cell ids; spatial joins become cell equi-joins with an
exact refinement step.

Cell id layout (int64):  ``(res << 58) | (x << 29) | y`` with
``x, y ∈ [0, 2^res)`` and ``res ∈ [0, 29]``.  x indexes longitude linearly,
y indexes web-mercator-projected latitude (the reference's SRID-3857
convention, /root/reference/flex-config/helpers.lua:5-12), so equal-area-ish
cells away from the poles and a fixed z/x/y tiling relationship.

The point→cell mapping is implemented twice, intentionally:

- :func:`cell_col` — a native Spark ``Column`` expression (stays inside
  whole-stage codegen; this is the hot path applied to every image row).
- :func:`cells_of_points` — the identical math vectorized in numpy, used by
  the polygon-covering code and by tests as an oracle for the column version.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_RES = 29
_RES_SHIFT = 58
_X_SHIFT = 29
_XY_MASK = (1 << 29) - 1

# Web-mercator latitude clamp
MAX_LAT = 85.05112878
MIN_LAT = -MAX_LAT


# ---------------------------------------------------------------------------
# numpy implementation (oracle + polygon covering)
# ---------------------------------------------------------------------------

def _merc_y(lat: np.ndarray) -> np.ndarray:
    """Latitude → normalized web-mercator y in [0, 1)."""
    lat = np.clip(lat, MIN_LAT, MAX_LAT)
    return 0.5 - np.arcsinh(np.tan(np.radians(lat))) / (2.0 * np.pi)


def _merc_x(lon: np.ndarray) -> np.ndarray:
    return (np.asarray(lon, dtype=np.float64) + 180.0) / 360.0


def xy_of_points(lon, lat, res: int) -> tuple[np.ndarray, np.ndarray]:
    n = 1 << res
    x = np.clip(np.floor(_merc_x(np.asarray(lon, dtype=np.float64)) * n), 0, n - 1).astype(np.int64)
    y = np.clip(np.floor(_merc_y(np.asarray(lat, dtype=np.float64)) * n), 0, n - 1).astype(np.int64)
    return x, y


def pack(x, y, res: int) -> np.ndarray:
    return (
        (np.int64(res) << np.int64(_RES_SHIFT))
        | (np.asarray(x, dtype=np.int64) << np.int64(_X_SHIFT))
        | np.asarray(y, dtype=np.int64)
    )


def unpack(cell) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    cell = np.asarray(cell, dtype=np.int64)
    res = cell >> np.int64(_RES_SHIFT)
    x = (cell >> np.int64(_X_SHIFT)) & np.int64(_XY_MASK)
    y = cell & np.int64(_XY_MASK)
    return res, x, y


def cells_of_points(lon, lat, res: int) -> np.ndarray:
    x, y = xy_of_points(lon, lat, res)
    return pack(x, y, res)


def cell_bounds(cell) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(lon_min, lat_min, lon_max, lat_max) of each cell."""
    res, x, y = unpack(cell)
    n = (np.int64(1) << res).astype(np.float64)
    lon_min = x / n * 360.0 - 180.0
    lon_max = (x + 1) / n * 360.0 - 180.0
    # invert _merc_y: y_norm = 0.5 - asinh(tan(lat))/2pi
    lat_max = np.degrees(np.arctan(np.sinh((0.5 - y / n) * 2.0 * np.pi)))
    lat_min = np.degrees(np.arctan(np.sinh((0.5 - (y + 1) / n) * 2.0 * np.pi)))
    return lon_min, lat_min, lon_max, lat_max


def parent(cell, parent_res: int) -> np.ndarray:
    res, x, y = unpack(cell)
    shift = res - np.int64(parent_res)
    if np.any(shift < 0):
        raise ValueError("parent_res must be <= cell res")
    return pack(x >> shift, y >> shift, parent_res)


# ---------------------------------------------------------------------------
# native Spark Column implementation (hot path — whole-stage codegen)
# ---------------------------------------------------------------------------

def merc_x_col(lon: Column) -> Column:
    return (lon + F.lit(180.0)) / F.lit(360.0)


def merc_y_col(lat: Column) -> Column:
    lat = F.greatest(F.least(lat, F.lit(MAX_LAT)), F.lit(MIN_LAT))
    return F.lit(0.5) - F.asinh(F.tan(F.radians(lat))) / F.lit(2.0 * float(np.pi))


def cell_col(lon: Column, lat: Column, res: int) -> Column:
    """int64 cell id of a lon/lat point — pure JVM math, no UDF."""
    n = float(1 << res)
    nmax = (1 << res) - 1
    x = F.least(F.greatest(F.floor(merc_x_col(lon) * F.lit(n)), F.lit(0)), F.lit(nmax))
    y = F.least(F.greatest(F.floor(merc_y_col(lat) * F.lit(n)), F.lit(0)), F.lit(nmax))
    return (
        F.lit(res).cast("long") * F.lit(1 << _RES_SHIFT).cast("long")
        + x.cast("long") * F.lit(1 << _X_SHIFT).cast("long")
        + y.cast("long")
    )


def pack_col(res, x: Column, y: Column) -> Column:
    """Pack (res, x, y) Column exprs into an int64 cell id — the Column-side
    twin of :func:`pack`, so callers never duplicate the shift literals.
    ``res`` may be a Python int or a Column; x/y must already be wrapped and
    range-checked by the caller."""
    res_col = F.lit(res) if isinstance(res, int) else res
    return (
        res_col.cast("long") * F.lit(1 << _RES_SHIFT).cast("long")
        + x.cast("long") * F.lit(1 << _X_SHIFT).cast("long")
        + y.cast("long")
    )


def cell_x_col(cell: Column) -> Column:
    return F.shiftright(cell, _X_SHIFT).bitwiseAND(F.lit(_XY_MASK))


def cell_y_col(cell: Column) -> Column:
    return cell.bitwiseAND(F.lit(_XY_MASK))


def cell_res_col(cell: Column) -> Column:
    return F.shiftright(cell, _RES_SHIFT)
