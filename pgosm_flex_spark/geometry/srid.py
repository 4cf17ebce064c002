"""SRID reprojection — the osm2pgsql ``--srid`` surface (§2.7).

The reference's geometry constructors reproject every inserted geometry to
the configured SRID (default 3857 web mercator, ``--srid`` /
/root/reference/flex-config/helpers.lua:5-12: ``default_srid``; osm2pgsql
does the transform on insert). This engine's native convention is
EPSG:4326 lon/lat degrees plus the web-mercator cell grid (SURVEY.md §1.3
divergence note); this module closes the output side: EPSG:3857 meters as

- **native Column math** for point coordinates (pure codegen —
  ``x = R·λ``, ``y = R·asinh(tan φ)``, the spherical-mercator forward map
  and its inverse), and
- an **Arrow-batched kernel** for WKB geometries (decode → transform every
  ring → re-encode, kind-preserving), the same vectorization shape as the
  other geometry UDFs.

Only 4326↔3857 is supported — the two SRIDs the reference documents; any
other code raises instead of silently passing coordinates through.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pgosm_flex_spark.geometry import wkb as W

# EPSG:3857 sphere radius (WGS84 semi-major axis; the projection is
# spherical by definition, which is why it is "pseudo"-mercator)
R_3857 = 6378137.0
SRID_WGS84 = 4326
SRID_WEB_MERCATOR = 3857
# The web-mercator frame: |y| <= π·R ≈ 20037508.34 m, reached at
# φ = atan(sinh(π)) ≈ 85.0511°. The reference stack (osm2pgsql 3857 output)
# clips geometry to this frame; an unclamped forward map instead blows up
# toward ±∞ at the poles (lat 89.9° → y ≈ 4.8e7 m). Latitudes beyond the
# frame clamp to its edge so polar input lands on the frame boundary —
# same outcome as the reference's clip for point data.
MERCATOR_MAX_LAT = 85.05112877980659
MERCATOR_MAX_Y = R_3857 * float(np.arcsinh(np.tan(np.radians(MERCATOR_MAX_LAT))))


def _check_srid(srid: int) -> None:
    if srid not in (SRID_WGS84, SRID_WEB_MERCATOR):
        raise ValueError(
            f"unsupported SRID {srid}: this engine projects 4326 <-> 3857 "
            "only (the reference's default and documented alternative)"
        )


# ---------------------------------------------------------------------------
# point columns (codegen)
# ---------------------------------------------------------------------------

def mercator_x_col(lon: Column) -> Column:
    """EPSG:3857 x meters from degrees longitude."""
    return F.lit(R_3857) * F.radians(lon)


def mercator_y_col(lat: Column) -> Column:
    """EPSG:3857 y meters from degrees latitude (asinh∘tan form of
    ``ln(tan(π/4 + φ/2))`` — identical function, better conditioning near 0).
    Latitudes beyond the mercator frame clamp to ±MERCATOR_MAX_LAT (the
    reference's ±20037508.34 m clip)."""
    lat_c = F.greatest(
        F.least(lat, F.lit(MERCATOR_MAX_LAT)), F.lit(-MERCATOR_MAX_LAT)
    )
    return F.lit(R_3857) * F.asinh(F.tan(F.radians(lat_c)))


def inv_mercator_lon_col(x: Column) -> Column:
    return F.degrees(x / F.lit(R_3857))


def inv_mercator_lat_col(y: Column) -> Column:
    return F.degrees(F.atan(F.sinh(y / F.lit(R_3857))))


# ---------------------------------------------------------------------------
# WKB kernel
# ---------------------------------------------------------------------------

def _tx_rings(rings: list[np.ndarray]) -> list[np.ndarray]:
    out = []
    for r in rings:
        t = np.empty_like(r)
        t[:, 0] = R_3857 * np.radians(r[:, 0])
        lat = np.clip(r[:, 1], -MERCATOR_MAX_LAT, MERCATOR_MAX_LAT)
        t[:, 1] = R_3857 * np.arcsinh(np.tan(np.radians(lat)))
        out.append(t)
    return out


def reproject_wkb_bytes(wkb: bytes) -> bytes:
    """One geometry 4326 → 3857, kind-preserving."""
    g = W.decode(wkb)
    return W.rebuild(g, _tx_rings(g.rings))


def reproject_wkb_col(wkb: Column) -> Column:
    """Column of reprojected WKB. The pandas_udf is built lazily — the
    decorator resolves its return type against the ACTIVE session, so a
    module-level definition would fail on import before any session exists."""

    @F.pandas_udf("binary")
    def _udf(wkb: pd.Series) -> pd.Series:
        # per-row decode is inherent to variable-length WKB (same shape as
        # the other geometry kernels); the transform itself is numpy per ring
        return wkb.map(
            lambda b: None if b is None else reproject_wkb_bytes(bytes(b))
        )

    return _udf(wkb)


# ---------------------------------------------------------------------------
# table surface
# ---------------------------------------------------------------------------

def with_projected(
    df: DataFrame,
    srid: int = SRID_WEB_MERCATOR,
    lon: str = "lon",
    lat: str = "lat",
    geom: str = "geom_wkb",
) -> DataFrame:
    """Project a layer table's geometry columns to ``srid``.

    4326 is the identity (the engine's native frame). 3857 adds point
    coordinates ``x``/``y`` in meters (codegen) and reprojects ``geom`` in
    place (kernel) — matching the reference, whose tables carry geometry in
    the import SRID. lon/lat stay: the cell/tile grid and haversine ops key
    off degrees, and parquet stores the two extra doubles cheaply.
    """
    _check_srid(srid)
    if srid == SRID_WGS84:
        return df
    cols = set(df.columns)
    out = df
    if lon in cols and lat in cols:
        out = out.withColumn("x", mercator_x_col(F.col(lon))).withColumn(
            "y", mercator_y_col(F.col(lat))
        )
    if geom in cols:
        out = out.withColumn(geom, reproject_wkb_col(F.col(geom)))
    return out

