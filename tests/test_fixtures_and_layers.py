from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pgosm_flex_spark import fixtures
from pgosm_flex_spark.images import codec
from pgosm_flex_spark.layers import LAYERSETS, build_layer_tables


# ---------------------------------------------------------------------------
# image codec invariants (input_hint: PSNR >= 40 dB lossy, exact lossless)
# ---------------------------------------------------------------------------

def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB; inf for identical arrays."""
    diff = a.astype(np.float64) - b.astype(np.float64)
    mse = float(np.mean(diff * diff))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(255.0**2 / mse)


def test_codec_png_lossless():
    arr = codec.synth_pixels(7, 96, 128)
    out = codec.decode(codec.encode(arr, "png"))
    assert np.array_equal(arr, out)
    assert psnr(arr, out) == float("inf")


def test_codec_jpeg_psnr_bound():
    arr = codec.synth_pixels(8, 96, 128)
    out = codec.decode(codec.encode(arr, "jpeg", quality=85))
    p = psnr(arr, out)
    assert 40.0 <= p < 60.0  # lossy but above the invariant


def test_codec_jpeg_lower_quality_lower_psnr():
    arr = codec.synth_pixels(9, 64, 64)
    p85 = psnr(arr, codec.decode(codec.encode(arr, "jpeg", 85)))
    p50 = psnr(arr, codec.decode(codec.encode(arr, "jpeg", 50)))
    assert p50 < p85


def test_phash_deterministic_and_sensitive():
    a = codec.synth_pixels(1, 64, 64)
    assert codec.phash(a) == codec.phash(a.copy())
    b = a.copy()
    b[0, 0, 0] ^= 1
    assert codec.phash(a) != codec.phash(b)


def test_make_image_row_stable():
    r1 = fixtures.make_image_row(5)
    r2 = fixtures.make_image_row(5)
    assert r1 == r2
    assert r1[0] == "img000000000005"


# ---------------------------------------------------------------------------
# fixture world shape
# ---------------------------------------------------------------------------

def test_hot_cell_fraction():
    n = 5000
    lons = np.array([fixtures.point_lonlat(i)[0] for i in range(n)])
    lats = np.array([fixtures.point_lonlat(i)[1] for i in range(n)])
    d = np.hypot(lons - fixtures.HOT_CENTER[0], lats - fixtures.HOT_CENTER[1])
    frac = (d <= fixtures.HOT_RADIUS).mean()
    assert 0.25 < frac < 0.35


def test_images_df_distributed(spark):
    df = fixtures.images_df(spark, 60, with_pixels=True)
    rows = df.collect()
    assert len(rows) == 60
    r = rows[0]
    arr = codec.decode(bytes(r["bytes"]))
    assert arr.shape == (r["h"], r["w"], 3)
    assert codec.phash(arr) == r["phash"]
    assert r["caption"].startswith("lon=")


# ---------------------------------------------------------------------------
# layer registry over the fixture world
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def layer_tables(spark):
    osm = fixtures.osm_objects_df(spark).cache()
    return build_layer_tables(osm, layerset="everything")


def test_all_tables_present(layer_tables):
    from pgosm_flex_spark.layers.registry import _LAYER_TABLES, _table_spec

    expected = {name for tbls in _LAYER_TABLES.values() for name in tbls}
    assert set(layer_tables) == expected
    assert set(_table_spec()) == expected  # no spec entry outside the inventory
    assert len(expected) == 44  # 42 style tables + tags + unitable


def test_place_polygon_counts_oracle(layer_tables):
    got = layer_tables["place_polygon"].count()
    # oracle: every admin grid cell (1+4+16+64+256 closed ways) + 4 relations
    grids = sum(g * g for g, *_ in fixtures.ADMIN_GRIDS)
    assert got == grids + 4


def test_place_osm_type_derivation(layer_tables):
    counts = {
        (r["osm_type"]): r["count"]
        for r in layer_tables["place_polygon"].groupBy("osm_type").count().collect()
    }
    # cells with place tag → place value wins; others → 'boundary'
    assert counts["city"] == 16
    assert counts["suburb"] == 64
    assert counts["neighbourhood"] == 256
    assert counts["boundary"] == 1 + 4 + 4  # country + states + 4 relations


def test_road_line_grid(layer_tables):
    lines = layer_tables["road_line"]
    assert lines.count() == 16  # 8 horizontal + 8 vertical streets
    majors = layer_tables["road_major"].count()
    # oracle: highway types rotate through _HIGHWAYS; count major ones
    exp = 0
    for k in range(8):
        for t in (fixtures._HIGHWAYS[k % 7], fixtures._HIGHWAYS[(k + 2) % 7]):
            exp += t in ("motorway", "primary")
    assert majors == exp


def test_point_layer_counts_vs_python_oracle(layer_tables, spark):
    """Independent python re-implementation of the poi filter as oracle."""
    import pandas as pd

    feats = fixtures.misc_features()
    exp_poi = 0
    for tags in feats["tags"]:
        first = any(k in tags for k in ["building", "shop", "amenity", "leisure",
                                        "man_made", "tourism", "landuse", "natural", "historic"])
        if not first:
            continue
        if "natural" in tags and tags["natural"] not in ["peak", "glacier", "reef", "hot_spring", "bay"]:
            continue
        if "landuse" in tags and tags["landuse"] not in ["cemetery", "orchard", "railway", "village_green", "vineyard"]:
            continue
        if "building" in tags:
            has_name = any(k in tags for k in ["name", "short_name", "alt_name", "loc_name", "old_name"]) or any(
                k.startswith("name:") or k.endswith(":NAME") for k in tags
            )
            if not (has_name or "operator" in tags):
                continue
        if "man_made" in tags and tags["man_made"] not in [
            "beacon", "chimney", "communications_tower", "crane", "flagpole", "lighthouse",
            "mast", "obelisk", "observatory", "offshore_platform", "pier", "silo",
            "survey_point", "telescope", "tower", "water_tap", "water_tower", "water_well",
            "windmill", "works"]:
            continue
        exp_poi += 1
    assert layer_tables["poi_point"].count() == exp_poi
    assert exp_poi > 10


def test_tags_layer_skips_junk_only(layer_tables):
    feats = fixtures.osm_objects_pdf()
    junk_only = sum(
        1 for tags in feats["tags"]
        if not set(tags) - {"odbl", "created_by", "source", "source:ref"}
    )
    total = len(feats)
    assert layer_tables["tags"].count() == total - junk_only
    assert junk_only > 0


def test_tags_layer_osm_url(layer_tables):
    r = layer_tables["tags"].filter(F.col("geom_type") == "R").limit(1).collect()[0]
    assert r["osm_url"].startswith("https://www.openstreetmap.org/relation/-")


def test_combined_point_union(layer_tables):
    b = layer_tables["building_combined_point"]
    assert "geom_src" in b.columns
    kinds = {r["geom_src"] for r in b.select("geom_src").distinct().collect()}
    assert kinds <= {"point", "polygon"}


def test_layersets_subset(spark):
    osm = fixtures.osm_objects_df(spark)
    minimal = build_layer_tables(osm, layerset="minimal")
    assert set(minimal) == {"place_point", "place_line", "place_polygon",
                            "poi_combined_point", "road_major"}
    assert sorted(LAYERSETS) == ["basic", "default", "everything", "minimal"]


def test_qc_tag_suggestions_rules(spark):
    import pandas as pd
    from pyspark.sql import functions as F
    from pgosm_flex_spark.layers import qc

    rows = [
        (1, "N", {"bicycle_parking": "stands"}),            # rule 1
        (2, "N", {"bicycle_parking": "stands", "amenity": "x"}),  # amenity set: no
        (3, "W", {"bench": "seat"}),                         # rule 2
        (4, "W", {"bench": "yes"}),                          # valid: no
        (5, "N", {"wheelchair": "sometimes"}),               # rule 3
        (6, "N", {"wheelchair": "limited"}),                 # valid: no
        (7, "R", {"shop": "cafe"}),                          # rule 4
        (8, "N", {"natural": "street_lamp"}),                # rule 5
        (9, "W", {"addr:housenumber": "5"}),                 # rule 6
        (10, "W", {"addr:housenumber": "5", "addr:street": "Oak"}),  # no
        (11, "N", {"bench": "seat", "shop": "cafe"}),        # rules 2 AND 4
    ]
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "osm_id": [r[0] for r in rows],
                "geom_type": [r[1] for r in rows],
                "tags": [list(r[2].items()) for r in rows],
            }
        ),
        schema="osm_id long, geom_type string, tags array<struct<key:string,value:string>>",
    ).select(
        "osm_id", "geom_type", F.map_from_entries("tags").alias("tags"),
        F.lit("u").alias("osm_url"),
    )
    out = qc.qc_tag_suggestions(df).select("osm_id", "suggestion").collect()
    got = {}
    for r in out:
        got.setdefault(r["osm_id"], set()).add(r["suggestion"])
    assert got[1] == {qc.SUGGESTION_BICYCLE_PARKING}
    assert 2 not in got and 4 not in got and 6 not in got and 10 not in got
    assert got[3] == {qc.SUGGESTION_BENCH}
    assert got[5] == {qc.SUGGESTION_WHEELCHAIR}
    assert got[7] == {qc.SUGGESTION_SHOP_CAFE}
    assert got[8] == {qc.SUGGESTION_NATURAL_STREET_LAMP}
    assert got[9] == {qc.SUGGESTION_MISSING_STREET}
    assert got[11] == {qc.SUGGESTION_BENCH, qc.SUGGESTION_SHOP_CAFE}


def test_admin_hierarchy_strict_nesting_invariant():
    """Regression: the proportional 0.995 shrink inset finer cells by a
    SMALLER absolute margin than their parents, so at shared grid lines no
    level below state was strictly inside its direct parent (levels 8/9/10
    had ZERO direct-parent containment pairs). Absolute per-level insets
    now make every cell strictly inside exactly one ancestor per coarser
    level — the closed-form oracle the docstring promises."""
    from pgosm_flex_spark.geometry import kernels, wkb

    adm = fixtures.admin_polygons()
    by_level: dict[int, list] = {}
    for _, r in adm.iterrows():
        by_level.setdefault(int(r["tags"]["admin_level"]), []).append(
            wkb.decode(r["geom_wkb"])
        )
    levels = sorted(by_level)
    assert levels == [2, 4, 8, 9, 10]
    for pl, cl in zip(levels, levels[1:]):
        for cg in by_level[cl]:
            n_parents = sum(kernels.polygon_within(cg, pg) for pg in by_level[pl])
            assert n_parents == 1, (pl, cl, n_parents)
