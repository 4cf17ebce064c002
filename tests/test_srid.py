"""SRID reprojection (geometry/srid.py) — the osm2pgsql --srid surface."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pgosm_flex_spark.geometry import srid as S
from pgosm_flex_spark.geometry import wkb as W

WEBMERC_MAX = 20037508.342789244  # R * pi


def test_known_values(spark):
    df = spark.createDataFrame(
        [(0.0, 0.0), (180.0, 0.0), (-180.0, 0.0), (0.0, 85.05112877980659)],
        "lon double, lat double",
    ).select(
        S.mercator_x_col(F.col("lon")).alias("x"),
        S.mercator_y_col(F.col("lat")).alias("y"),
    )
    rows = df.collect()
    assert rows[0]["x"] == pytest.approx(0.0, abs=1e-9)
    assert rows[0]["y"] == pytest.approx(0.0, abs=1e-9)
    assert rows[1]["x"] == pytest.approx(WEBMERC_MAX, rel=1e-12)
    assert rows[2]["x"] == pytest.approx(-WEBMERC_MAX, rel=1e-12)
    # the web-mercator square: y(85.0511...) == x(180)
    assert rows[3]["y"] == pytest.approx(WEBMERC_MAX, rel=1e-9)


def test_column_matches_numpy_kernel_and_inverse(spark):
    rng = np.random.default_rng(7)
    lon = rng.uniform(-179.9, 179.9, 200)
    lat = rng.uniform(-84.9, 84.9, 200)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lon, lat)], "lon double, lat double"
    ).select(
        "lon", "lat",
        S.mercator_x_col(F.col("lon")).alias("x"),
        S.mercator_y_col(F.col("lat")).alias("y"),
    ).select(
        "*",
        S.inv_mercator_lon_col(F.col("x")).alias("lon2"),
        S.inv_mercator_lat_col(F.col("y")).alias("lat2"),
    )
    pdf = df.toPandas()
    # column forward == the kernel's numpy forward
    np.testing.assert_allclose(pdf["x"], S.R_3857 * np.radians(pdf["lon"]), rtol=1e-13)
    np.testing.assert_allclose(
        pdf["y"], S.R_3857 * np.arcsinh(np.tan(np.radians(pdf["lat"]))), rtol=1e-12
    )
    # inverse round-trips
    np.testing.assert_allclose(pdf["lon2"], pdf["lon"], atol=1e-9)
    np.testing.assert_allclose(pdf["lat2"], pdf["lat"], atol=1e-9)


def _tx(arr):
    return np.stack(
        [S.R_3857 * np.radians(arr[:, 0]),
         S.R_3857 * np.arcsinh(np.tan(np.radians(arr[:, 1])))], axis=1
    )


def test_wkb_reproject_all_kinds():
    ring = np.array([[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 0.0]])
    hole = np.array([[0.2, 0.2], [0.4, 0.2], [0.4, 0.4], [0.2, 0.2]])
    line = np.array([[10.0, 20.0], [11.0, 21.0], [12.0, 19.5]])
    cases = [
        W.encode_point(3.5, -47.25),
        W.encode_linestring(line),
        W.encode_polygon([ring, hole]),
        W.encode_multilinestring([line, line + 5.0]),
        W.encode_multipolygon([[ring, hole], [ring + 10.0]]),
    ]
    for wkb in cases:
        src = W.decode(wkb)
        out = W.decode(S.reproject_wkb_bytes(wkb))
        assert out.kind == src.kind
        assert out.part_ring_counts == src.part_ring_counts
        assert len(out.rings) == len(src.rings)
        for a, b in zip(src.rings, out.rings):
            np.testing.assert_allclose(b, _tx(a), rtol=1e-12)


def test_with_projected_table(spark):
    from pgosm_flex_spark import fixtures
    from pgosm_flex_spark.layers import build_layer_tables

    osm = fixtures.osm_objects_df(spark)
    place = build_layer_tables(osm, layerset="minimal")["place_polygon"]
    proj = S.with_projected(place, 3857)
    row = proj.filter(F.col("geom_wkb").isNotNull()).select(
        "lon", "lat", "x", "y", "geom_wkb"
    ).first()
    # point columns: codegen math (NULL lon stays NULL x)
    if row["lon"] is not None:
        assert row["x"] == pytest.approx(S.R_3857 * np.radians(row["lon"]), rel=1e-12)
    g = W.decode(bytes(row["geom_wkb"]))
    # coordinates are meters now: outside the degree range
    assert np.abs(np.concatenate(g.rings)[:, 0]).max() > 181.0
    # identity + validation
    assert S.with_projected(place, 4326) is place
    with pytest.raises(ValueError, match="unsupported SRID"):
        S.with_projected(place, 32633)


def test_with_projected_round_trip_values(spark):
    from pgosm_flex_spark import fixtures
    from pgosm_flex_spark.layers import build_layer_tables

    osm = fixtures.osm_objects_df(spark)
    place = build_layer_tables(osm, layerset="minimal")["place_point"]
    proj = S.with_projected(place, 3857)
    src = place.select("osm_id", "lon", "lat").toPandas()
    got = proj.select(
        "osm_id",
        S.inv_mercator_lon_col(F.col("x")).alias("lon"),
        S.inv_mercator_lat_col(F.col("y")).alias("lat"),
    ).toPandas()
    m = src.merge(got, on="osm_id", suffixes=("", "_b"))
    np.testing.assert_allclose(m["lon"], m["lon_b"], atol=1e-9)
    np.testing.assert_allclose(m["lat"], m["lat_b"], atol=1e-9)


def test_routed_bundle_3857_read_back(spark, tmp_path):
    import os

    from pgosm_flex_spark import fixtures
    from pgosm_flex_spark.layers.router import read_layer_table
    from pgosm_flex_spark.sinks import export_bundle

    osm = fixtures.osm_objects_df(spark)
    out = str(tmp_path / "bundle")
    export_bundle(
        spark, osm, out, region="r", layerset="minimal", pgosm_date="d",
        srid=3857,
    )
    df = read_layer_table(
        spark, os.path.join(out, "routed"), "place_point",
        layerset="minimal", srid=3857,
    )
    row = df.filter(F.col("lon").isNotNull()).first()
    assert row["x"] == pytest.approx(S.R_3857 * np.radians(row["lon"]), rel=1e-12)
    # without srid the reader returns the exact builder schema (no x/y)
    plain = read_layer_table(
        spark, os.path.join(out, "routed"), "place_point", layerset="minimal"
    )
    assert "x" not in plain.columns


def test_point_projection_stays_jvm_side(spark):
    # the 10^12-scale path: a lon/lat-only frame projected to 3857 must
    # contain NO Python eval stage — pure whole-stage-codegen arithmetic
    df = spark.range(1000).select(
        (F.col("id") % 360 - 180).cast("double").alias("lon"),
        (F.col("id") % 120 - 60).cast("double").alias("lat"),
    )
    proj = S.with_projected(df, 3857)
    plan = proj._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, plan  # no Arrow/Batch Python stages
    # '*(N) Project' prefix marks whole-stage-codegen in the short plan form
    assert "*(1) Project" in plan, plan


def test_polar_latitude_clamps_to_mercator_frame(spark):
    # the reference stack clips 3857 geometry at the ±85.0511° /
    # ±20037508.34 m web-mercator frame; the forward map must not emit
    # coordinates beyond it for polar input
    df = spark.createDataFrame(
        [(0, 0.0, 90.0), (1, 0.0, -90.0), (2, 0.0, 89.9), (3, 0.0, S.MERCATOR_MAX_LAT)],
        "id long, lon double, lat double",
    )
    rows = {r["id"]: r for r in S.with_projected(df, 3857).collect()}
    for i in (0, 2):
        assert rows[i]["y"] == pytest.approx(S.MERCATOR_MAX_Y, rel=1e-12)
    assert rows[1]["y"] == pytest.approx(-S.MERCATOR_MAX_Y, rel=1e-12)
    assert rows[3]["y"] == pytest.approx(S.MERCATOR_MAX_Y, rel=1e-12)
    assert abs(S.MERCATOR_MAX_Y - 20037508.342789244) < 1e-6
    # the WKB kernel applies the same clamp
    from pgosm_flex_spark.geometry import wkb as W

    out = S.reproject_wkb_bytes(W.encode_linestring(
        np.array([[0.0, 80.0], [1.0, 90.0]])
    ))
    ring = W.decode(out).rings[0]
    assert ring[1, 1] == pytest.approx(S.MERCATOR_MAX_Y, rel=1e-12)
    assert ring[0, 1] < S.MERCATOR_MAX_Y


def test_read_layer_table_rejects_unknown_srid(spark, tmp_path):
    from pgosm_flex_spark.layers.router import read_layer_table

    with pytest.raises(ValueError, match="unsupported SRID"):
        read_layer_table(spark, str(tmp_path), "place_point", srid=9999)
