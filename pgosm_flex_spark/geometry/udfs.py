"""Arrow-batched pandas UDFs wrapping the numpy geometry kernels.

The only places this engine leaves the JVM: exact PIP refinement, centroid
collapse, geodesic length. Each UDF is vectorized over the Arrow batch and
caches decoded geometries by their WKB bytes within the batch, so a polygon
repeated across many candidate rows decodes once.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    StructField,
    StructType,
)

from pgosm_flex_spark.geometry import kernels, wkb as wkb_mod


@F.pandas_udf(BooleanType())
def pip_udf(lon: pd.Series, lat: pd.Series, geom_wkb: pd.Series) -> pd.Series:
    """Exact ST_Within(point, polygon)
    (/root/reference/flex-config/sql/place_polygon_nested.sql:122): interior
    only, boundary excluded."""
    import numpy as np

    out = np.zeros(len(lon), dtype=bool)
    if len(lon) == 0:
        return pd.Series(out)
    lon_v = lon.to_numpy(dtype=float)
    lat_v = lat.to_numpy(dtype=float)
    # group rows by polygon bytes at C speed (a per-row python loop here was
    # the measured bottleneck of the whole refine phase)
    codes, uniques = pd.factorize(geom_wkb, use_na_sentinel=True)
    order = np.argsort(codes, kind="stable")
    sorted_codes = codes[order]
    boundaries = np.searchsorted(sorted_codes, np.arange(len(uniques) + 1))
    for gi in range(len(uniques)):
        ii = order[boundaries[gi]:boundaries[gi + 1]]
        if len(ii) == 0:
            continue
        geom = wkb_mod.decode(bytes(uniques[gi]))
        out[ii] = kernels.points_in_geom(lon_v[ii], lat_v[ii], geom)
    return pd.Series(out)


_CENTROID_TYPE = StructType(
    [StructField("lon", DoubleType()), StructField("lat", DoubleType())]
)


@F.pandas_udf(_CENTROID_TYPE)
def centroid_udf(geom_wkb: pd.Series) -> pd.DataFrame:
    """osm2pgsql :centroid() (/root/reference/flex-config/style/building_combined_point.lua:123)."""
    lons, lats = [], []
    cache: dict[bytes, tuple[float, float]] = {}
    for b in geom_wkb.tolist():
        if b is None:
            lons.append(None)
            lats.append(None)
            continue
        key = bytes(b)
        c = cache.get(key)
        if c is None:
            c = cache[key] = kernels.centroid(wkb_mod.decode(key))
        lons.append(c[0])
        lats.append(c[1])
    return pd.DataFrame({"lon": lons, "lat": lats})


_BBOX_TYPE = StructType(
    [
        StructField("xmin", DoubleType()),
        StructField("ymin", DoubleType()),
        StructField("xmax", DoubleType()),
        StructField("ymax", DoubleType()),
    ]
)


@F.pandas_udf(_BBOX_TYPE)
def bbox_udf(geom_wkb: pd.Series) -> pd.DataFrame:
    """Geometry bounding box (the `&&` operand in PostGIS plans)."""
    rows = []
    cache: dict[bytes, tuple] = {}
    for b in geom_wkb.tolist():
        if b is None:
            rows.append((None, None, None, None))
            continue
        key = bytes(b)
        v = cache.get(key)
        if v is None:
            g = wkb_mod.decode(key)
            v = cache[key] = g.bbox
        rows.append(v)
    return pd.DataFrame(rows, columns=["xmin", "ymin", "xmax", "ymax"])


@F.pandas_udf(DoubleType())
def length_m_udf(geom_wkb: pd.Series) -> pd.Series:
    """ST_Length(geography) (/root/reference/db/deploy/routing_functions.sql:309)."""
    out = []
    for b in geom_wkb.tolist():
        out.append(None if b is None else kernels.line_length_m(wkb_mod.decode(bytes(b))))
    return pd.Series(out, dtype="float64")
