from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pgosm_flex_spark import fixtures
from pgosm_flex_spark.geometry import kernels, wkb
from pgosm_flex_spark.layers import build_layer_tables
from pgosm_flex_spark.operators import (
    build_nested_admin_polygons,
    build_polygon_cover,
    collapse_to_points,
    knn_join_adaptive,
    pip_join,
    relation_member_dedup,
)
from pgosm_flex_spark.operators.tiles import tile_counts


@pytest.fixture(scope="module")
def world(spark):
    osm = fixtures.osm_objects_df(spark).cache()
    tables = build_layer_tables(osm, layerset="everything")
    place_poly = relation_member_dedup(tables["place_polygon"]).cache()
    return {"osm": osm, "tables": tables, "place_polygon": place_poly}


@pytest.fixture(scope="module")
def points(spark):
    n = 3000
    pdf = pd.DataFrame(
        {
            "image_id": [f"img{i:012d}" for i in range(n)],
            "lon": [fixtures.point_lonlat(i)[0] for i in range(n)],
            "lat": [fixtures.point_lonlat(i)[1] for i in range(n)],
        }
    )
    return spark.createDataFrame(pdf).cache(), pdf


def test_dedup_removes_member_ways(world):
    place = world["tables"]["place_polygon"]
    deduped = world["place_polygon"]
    # 4 relations × 2 members each, all members exist standalone
    assert place.count() - deduped.count() == 8
    # members gone, relations retained
    member_ids = [r[0] for r in place.filter(F.col("osm_id") < 0)
                  .select(F.explode("member_ids")).collect()]
    remaining = {r["osm_id"] for r in deduped.select("osm_id").collect()}
    assert not (set(member_ids) & remaining)
    assert sum(1 for i in remaining if i < 0) == 4


def test_pip_join_matches_brute_force(world, points, spark):
    pts_df, pdf = points
    polys = world["place_polygon"].filter(F.col("osm_id") > 0)
    got = (
        pip_join(pts_df, polys, point_cols=["image_id"])
        .groupBy("image_id")
        .count()
        .toPandas()
        .set_index("image_id")["count"]
    )
    # brute force oracle with the numpy kernels over collected polygons
    polys_pd = polys.select("osm_id", "geom_wkb").toPandas()
    lon = pdf["lon"].to_numpy()
    lat = pdf["lat"].to_numpy()
    exp_counts = np.zeros(len(pdf), dtype=int)
    for raw in polys_pd["geom_wkb"]:
        g = wkb.decode(bytes(raw))
        exp_counts += kernels.points_in_geom(lon, lat, g)
    exp = pd.Series(exp_counts, index=pdf["image_id"])
    exp = exp[exp > 0]
    assert got.sort_index().equals(exp.sort_index().astype("int64").rename("count"))
    # every point inside the world should be in >= 1 polygon (country level
    # gridcells shrink slightly: some points fall in gaps, that's fine) and
    # at most 5 (one per admin level)
    assert got.max() <= len(fixtures.ADMIN_GRIDS)


def test_pip_join_interior_shortcut_dominates(world, points, spark):
    """The cover must classify most covered area interior at fine res, so the
    exact UDF only sees a small minority of candidates."""
    polys = world["place_polygon"].filter(F.col("osm_id") > 0)
    cover = build_polygon_cover(polys).toPandas()
    interior = (cover["kind"] == kernels.KIND_INTERIOR).sum()
    assert interior / len(cover) > 0.25
    # boundary rows carry wkb, interior rows must not (broadcast size)
    assert cover.loc[cover["kind"] == kernels.KIND_INTERIOR, "geom_wkb"].isna().all()
    assert cover.loc[cover["kind"] == kernels.KIND_BOUNDARY, "geom_wkb"].notna().all()


def _rect(x0, y0, x1, y1):
    return wkb.encode_polygon(
        [np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], dtype=np.float64)]
    )


def _admin_frame(spark, polys):
    """place_polygon-shaped frame of administrative polygons from
    ``(osm_id, admin_level, wkb)`` triples."""
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "osm_id": np.array([p[0] for p in polys], dtype=np.int64),
                "name": [f"P{p[0]}" for p in polys],
                "osm_type": ["boundary"] * len(polys),
                "boundary": ["administrative"] * len(polys),
                "admin_level": np.array([p[1] for p in polys], dtype=np.int32),
                "geom_wkb": [p[2] for p in polys],
            }
        )
    )


def _straddle_frame(spark):
    # container 1's bbox straddles lon 0 and the equator, so its enclosing
    # cell is the level-0 root; children 2-4 lie in three different
    # quadrants; 6 shares its west edge with container 5 exactly on lon 0,
    # a level-1 cell boundary
    return _admin_frame(spark, [
        (1, 2, _rect(-2.0, -2.0, 2.0, 2.0)),
        (2, 4, _rect(-1.5, -1.5, -0.5, -0.5)),
        (3, 4, _rect(0.5, 0.5, 1.5, 1.5)),
        (4, 4, _rect(0.5, -1.5, 1.5, -0.5)),
        (5, 6, _rect(0.0, 0.5, 1.0, 1.5)),
        (6, 8, _rect(0.0, 0.75, 0.5, 1.25)),
    ])


@pytest.mark.parametrize("source", ["fixture_world", "straddle"])
def test_nested_admin_polygons(source, request, spark):
    if source == "fixture_world":
        place_polygon = request.getfixturevalue("world")["place_polygon"]
    else:
        place_polygon = _straddle_frame(spark)
    nested = build_nested_admin_polygons(place_polygon).cache()
    rows = {r["osm_id"]: r for r in nested.collect()}

    # brute-force oracle: exact ST_Within over every polygon pair (self
    # included — ST_Within(p, p) is true), same semantics the operator's
    # candidate join + exact-verify pipeline must reproduce
    polys_pd = place_polygon.select("osm_id", "geom_wkb").toPandas()
    geoms = {int(r["osm_id"]): wkb.decode(bytes(r["geom_wkb"])) for _, r in polys_pd.iterrows()}

    exp_containers: dict[int, set[int]] = {}
    for pid, g in geoms.items():
        exp_containers[pid] = {
            cid for cid, cg in geoms.items()
            if pid == cid or kernels.polygon_within(g, cg)
        }
    contained_by_others = {
        cid for pid, cs in exp_containers.items() for cid in cs if cid != pid
    }
    assert len(rows) == len(geoms)
    for pid, r in rows.items():
        exp = exp_containers[pid]
        assert r["nest_level"] == len(exp), (pid, r["name"])
        assert set(r["osm_id_path"]) == exp, (pid, r["name"])
        exp_inner = (r["osm_id_path"][-1] == pid) and (pid not in contained_by_others)
        assert r["innermost"] == exp_inner, (pid, r["name"])
    if source == "straddle":
        assert set(rows[6]["osm_id_path"]) == {1, 5, 6}
        assert all(set(rows[i]["osm_id_path"]) == {1, i} for i in (2, 3, 4))
        return
    # structural spot checks: paths start at Country; states never innermost
    nb = [r for r in rows.values() if r["osm_type"] == "neighbourhood"]
    assert len(nb) == 256
    assert all(r["name_path"][0].startswith("Country") for r in nb)
    states = [r for r in rows.values() if r["name"].startswith("State")]
    assert all(not r["innermost"] for r in states)
    # dedup consequence: the 8 member suburbs (gx=0 column) are gone, so
    # EXACTLY their 32 children stop at nest_level 4; every other
    # neighbourhood reaches the full country>state>city>suburb>self chain.
    # (Before the absolute-inset fixture fix NO neighbourhood could reach 5
    # — the proportional shrink left zero direct-parent containment.)
    depth = {}
    for r in nb:
        depth[r["nest_level"]] = depth.get(r["nest_level"], 0) + 1
    assert depth == {4: 32, 5: 224}, depth


def _assert_brute_force_knn(got, pts_pd, feats_pd, k=3):
    """Each point's ranked neighbour ids equal the brute-force haversine
    top-k (ties by osm_id), and no (point, feature) pair repeats."""
    assert not got.duplicated(["image_id", "osm_id"]).any()
    f_lon = feats_pd["lon"].to_numpy()
    f_lat = feats_pd["lat"].to_numpy()
    fid = feats_pd["osm_id"].to_numpy()
    for _, p in pts_pd.iterrows():
        d = kernels.haversine_m(p["lon"], p["lat"], f_lon, f_lat)
        exp_ids = fid[np.lexsort((fid, d))[:k]].tolist()
        g = got[got["image_id"] == p["image_id"]].sort_values("knn_rank")
        assert g["osm_id"].tolist() == exp_ids, p["image_id"]


def test_knn_matches_brute_force(world, points, spark):
    pts_df, pdf = points
    feats = world["osm"].filter(F.col("geom_type") == "N").select("osm_id", "lon", "lat")
    got = knn_join_adaptive(pts_df.limit(200), feats, k=3).toPandas()
    _assert_brute_force_knn(got, pdf.iloc[:200], feats.toPandas())


def test_knn_coarse_res_wrap_no_duplicates(spark):
    """40 features and 25 points spread over the globe: 7 points' res-4
    rings hold < k features, so they search the res-1 ring, where the
    x-wrap folds the 3 ring columns onto 2 cells. Without the wrap-fold
    guard the candidate join pairs the same (point, feature) twice and a
    duplicate occupies two top-k slots. No point's res-10 ring holds k
    features, so without the levels below res 10 no point finds a
    neighbour."""
    rng = np.random.default_rng(7)
    n_f, n_p = 40, 25
    feats_pd = pd.DataFrame(
        {
            "osm_id": np.arange(n_f, dtype=np.int64),
            "lon": rng.uniform(-179, 179, n_f),
            "lat": rng.uniform(-60, 60, n_f),
        }
    )
    pts_pd = pd.DataFrame(
        {
            "image_id": [f"p{i:03d}" for i in range(n_p)],
            "lon": rng.uniform(-179, 179, n_p),
            "lat": rng.uniform(-60, 60, n_p),
        }
    )
    got = knn_join_adaptive(
        spark.createDataFrame(pts_pd), spark.createDataFrame(feats_pd), k=3
    ).toPandas()
    assert len(got) == n_p * 3
    _assert_brute_force_knn(got, pts_pd, feats_pd)


def test_tile_counts_total(points, spark):
    pts_df, pdf = points
    tc = tile_counts(pts_df, zoom=12).toPandas()
    assert tc["n"].sum() == len(pdf)
    assert (tc["z"] == 12).all()
    # hot disc concentrates points: max tile count far above median
    assert tc["n"].max() > 10 * tc["n"].median()


def test_collapse_to_points(world, spark):
    combined = world["tables"]["building_combined_point"]
    out = collapse_to_points(combined)
    assert out.filter(F.col("lon").isNull()).count() == 0 or out.count() == 0
    polys = out.filter(F.col("geom_src") == "polygon")
    if polys.count():
        r = polys.limit(1).collect()[0]
        assert fixtures.LON_MIN <= r["lon"] <= fixtures.LON_MAX


def _hot_disc_knn_input():
    n_pts, n_feats = 800, 3000
    pts = pd.DataFrame(
        {
            "image_id": [f"p{i}" for i in range(n_pts)],
            "lon": [fixtures.point_lonlat(i)[0] for i in range(n_pts)],
            "lat": [fixtures.point_lonlat(i)[1] for i in range(n_pts)],
        }
    )
    feats = pd.DataFrame(
        {
            "osm_id": list(range(n_feats)),
            "lon": [fixtures.point_lonlat(10_000 + i)[0] for i in range(n_feats)],
            "lat": [fixtures.point_lonlat(10_000 + i)[1] for i in range(n_feats)],
        }
    )
    return pts, feats


def _band_knn_input(seed, n_feats, f_lat, p_lat, n_pts=60):
    """Uniform lon on both sides; uniform lat in the ``f_lat`` band for
    features and in the ``p_lat`` band for points."""
    rng = np.random.default_rng(seed)
    feats = pd.DataFrame(
        {
            "osm_id": np.arange(n_feats, dtype=np.int64),
            "lon": rng.uniform(-180, 180, n_feats),
            "lat": rng.uniform(*f_lat, n_feats),
        }
    )
    pts = pd.DataFrame(
        {
            "image_id": [f"p{i}" for i in range(n_pts)],
            "lon": rng.uniform(-180, 180, n_pts),
            "lat": rng.uniform(*p_lat, n_pts),
        }
    )
    return pts, feats


def _one_point_knn_input(point, lonlats):
    """One point and a handful of (lon, lat) features."""
    pts = pd.DataFrame({"image_id": ["a"], "lon": [point[0]], "lat": [point[1]]})
    feats = pd.DataFrame(
        {
            "osm_id": np.arange(len(lonlats), dtype=np.int64),
            "lon": [lon for lon, _ in lonlats],
            "lat": [lat for _, lat in lonlats],
        }
    )
    return pts, feats


KNN_INPUTS = {
    "hot_disc": _hot_disc_knn_input,
    # sparse: a res-10 ring holds < k features for most points
    # (seed, features, feature lat band, point lat band)
    "lat60_85_f30": partial(_band_knn_input, 1, 30, (60, 85), (60, 85)),
    "lat60_85_f300": partial(_band_knn_input, 2, 300, (60, 85), (60, 85)),
    "lat-85_85_f30": partial(_band_knn_input, 3, 30, (-85, 85), (-85, 85)),
    "lat-85_85_f300": partial(_band_knn_input, 4, 300, (-85, 85), (-85, 85)),
    # beyond the mercator clamp (|lat| > 85.05) on both sides
    "lat75_89.9_f30": partial(_band_knn_input, 5, 30, (75, 89.9), (75, 89.9)),
    "lat75_89.9_f300": partial(_band_knn_input, 6, 300, (75, 89.9), (75, 89.9)),
    "lat-89.9_-80_f30": partial(_band_knn_input, 7, 30, (-89.9, -80), (-89.9, -80)),
    "lat-89.9_-80_f300": partial(_band_knn_input, 8, 300, (-89.9, -80), (-89.9, -80)),
    # high-latitude points whose only features lie in the other hemisphere
    "north_pts_south_f10": partial(_band_knn_input, 9, 10, (-40, -20), (80, 85)),
    # a point at 85° N whose nearest features (640-820 km away) sit in the
    # equatorward row of its res-4 ring, where a cell is about twice as wide
    # on the ground as at the point
    "lat85_ring_row_a": partial(
        _one_point_knn_input, (0.0, 85.0),
        [(44.0, 80.0), (44.5, 80.2), (43.5, 79.9), (-170.0, 85.0)],
    ),
    "lat85_ring_row_b": partial(
        _one_point_knn_input, (0.0, 85.0), [(44.0, 79.9), (-22.0, 79.9), (40.0, 80.0)]
    ),
    # a point at 84° N whose nearest feature (722 km) lies across the pole,
    # beyond three features about 4° equatorward (770-786 km)
    "across_pole": partial(
        _one_point_knn_input, (0.0, 84.0),
        [(44.0, 80.0), (44.5, 80.2), (43.5, 79.9), (-170.0, 89.5)],
    ),
}


@pytest.mark.parametrize("case", list(KNN_INPUTS))
def test_knn_adaptive_matches_brute_force(spark, case):
    """Adaptive multi-res kNN equals brute force on the skewed (hot-disc)
    distribution and on sparse and high-latitude inputs."""
    pts_pd, feats_pd = KNN_INPUTS[case]()
    got = knn_join_adaptive(
        spark.createDataFrame(pts_pd), spark.createDataFrame(feats_pd), k=3
    ).toPandas()
    assert len(got) == len(pts_pd) * 3
    _assert_brute_force_knn(got, pts_pd, feats_pd)


def test_pip_join_explicit_res_levels_matches_probe(world, points, spark):
    """Passing the cover's res_levels explicitly (what the scaling jobs do to
    hoist the fixed driver probe out of timed reps) must be row-identical to
    the probing path; a superset of levels must also be harmless (levels with
    no cover rows contribute nothing)."""
    from pgosm_flex_spark.index import cells

    pts_df, _ = points
    polys = world["place_polygon"].filter(F.col("osm_id") > 0).filter(
        F.col("geom_wkb").isNotNull()
    )
    cover = build_polygon_cover(polys).cache()
    levels = sorted(
        r["res"]
        for r in cover.select(
            cells.cell_res_col(F.col("cell")).alias("res")
        ).distinct().collect()
    )
    probed = pip_join(pts_df, polys, point_cols=["image_id"], cover=cover)
    explicit = pip_join(
        pts_df, polys, point_cols=["image_id"], cover=cover, res_levels=levels
    )
    superset = pip_join(
        pts_df, polys, point_cols=["image_id"], cover=cover,
        res_levels=levels + [max(levels) + 1],
    )
    got_probed = {(r["image_id"], r["osm_id"]) for r in probed.collect()}
    got_explicit = {(r["image_id"], r["osm_id"]) for r in explicit.collect()}
    got_superset = {(r["image_id"], r["osm_id"]) for r in superset.collect()}
    assert got_probed == got_explicit == got_superset and len(got_probed) > 0
    cover.unpersist()


def test_pip_join_point_side_no_shuffle(world, points, spark):
    """Scale guard: the point side of the flagship join must cross ZERO
    shuffle exchanges — cover broadcast only (BASELINE.md plan audit)."""
    from pgosm_flex_spark.operators.pip_join import build_polygon_cover

    pts_df, _ = points
    polys = world["place_polygon"].filter(F.col("osm_id") > 0).filter(
        F.col("geom_wkb").isNotNull()
    )
    # truncate input lineage so the audited plan is the JOIN pipeline itself
    # (the polygon side's own dedup shuffles are out of scope here)
    pts = pts_df.localCheckpoint(eager=True)
    cover = build_polygon_cover(polys).localCheckpoint(eager=True)
    out = pip_join(pts, polys, point_cols=["image_id"], cover=cover)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan[:2000]
    assert plan.count("BroadcastExchange") >= 1


def test_knn_adaptive_point_side_no_shuffle(spark):
    """Scale guard: the top-k window may exchange ONLY the group-limited
    top-k rows — the Partial WindowGroupLimit must sit below the exchange
    so the candidate set never shuffles."""
    pts = spark.createDataFrame(
        pd.DataFrame(
            {
                "image_id": [f"p{i}" for i in range(200)],
                "lon": [fixtures.point_lonlat(i)[0] for i in range(200)],
                "lat": [fixtures.point_lonlat(i)[1] for i in range(200)],
            }
        )
    )
    feats = spark.createDataFrame(
        pd.DataFrame(
            {
                "osm_id": list(range(300)),
                "lon": [fixtures.point_lonlat(9000 + i)[0] for i in range(300)],
                "lat": [fixtures.point_lonlat(9000 + i)[1] for i in range(300)],
            }
        )
    )
    win = knn_join_adaptive(pts, feats, k=3, point_id="image_id", feature_id="osm_id")
    wplan = win._jdf.queryExecution().executedPlan().toString()
    # exactly one point-side exchange, fed by the Partial group limit
    assert wplan.count("Exchange hashpartitioning") == 1, wplan[:2000]
    partial_pos = wplan.find("Partial")
    exch_pos = wplan.find("Exchange hashpartitioning")
    assert 0 <= exch_pos < partial_pos, wplan[:2000]
    assert win.count() == 200 * 3


def test_polygons_within_container_matches_single(world):
    # batch kernel == per-pair kernel over every (child, container) pair of
    # the fixture world (concave shapes included via the nested fixtures)
    import numpy as np

    polys_pd = world["place_polygon"].select("osm_id", "geom_wkb").toPandas()
    geoms = {
        int(r["osm_id"]): wkb.decode(bytes(r["geom_wkb"]))
        for _, r in polys_pd.iterrows()
    }
    ids = sorted(geoms)[:40]  # bound runtime; mix of levels
    kids = [geoms[i] for i in ids]
    for cid in sorted(geoms)[:10]:
        batch = kernels.polygons_within_container(kids, geoms[cid])
        single = np.array(
            [kernels.polygon_within(k, geoms[cid]) for k in kids], dtype=bool
        )
        assert (batch == single).all(), cid


def test_nested_horseshoe_centroid_outside(spark):
    """A horseshoe whose centroid falls in its notch (OUTSIDE the polygon)
    must still appear in the hierarchy with its full container path — a
    candidate join keyed on centroids would drop the self-pair and every
    true container of the concave shape."""
    import pandas as pd

    hs = np.array(
        [[0, 0], [10, 0], [10, 10], [7, 10], [7, 3], [3, 3], [3, 10],
         [0, 10], [0, 0]], dtype=np.float64
    )
    # a THINNER horseshoe sharing the notch: its material (bar + two arms)
    # sits strictly inside the outer's, and its centroid lands in the notch
    # — outside BOTH polygons, so a centroid representative finds neither
    # the self-pair nor the true container
    inner = np.array(
        [[0.5, 0.5], [9.5, 0.5], [9.5, 9.5], [7.2, 9.5], [7.2, 2.8],
         [2.8, 2.8], [2.8, 9.5], [0.5, 9.5], [0.5, 0.5]], dtype=np.float64
    )
    g_out = wkb.decode(wkb.encode_polygon([hs]))
    g_in = wkb.decode(wkb.encode_polygon([inner]))
    assert kernels.polygon_within(g_in, g_out)
    for g in (g_out, g_in):
        c = kernels.centroid(g)
        assert not kernels.points_in_rings(
            np.array([c[0]]), np.array([c[1]]), g.rings
        )[0], "fixture must have centroid outside (in the notch)"
    c_in = kernels.centroid(g_in)
    assert not kernels.points_in_rings(
        np.array([c_in[0]]), np.array([c_in[1]]), g_out.rings
    )[0], "child centroid must be outside the CONTAINER too"
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "osm_id": np.array([1, 2], dtype=np.int64),
                "name": ["Outer U", "Inner U"],
                "osm_type": ["boundary", "boundary"],
                "boundary": ["administrative", "administrative"],
                "admin_level": np.array([4, 6], dtype=np.int32),
                "geom_wkb": [wkb.encode_polygon([hs]), wkb.encode_polygon([inner])],
            }
        )
    )
    rows = {r["osm_id"]: r for r in build_nested_admin_polygons(df).collect()}
    assert set(rows) == {1, 2}
    assert set(rows[1]["osm_id_path"]) == {1}
    assert set(rows[2]["osm_id_path"]) == {1, 2}
    assert rows[2]["nest_level"] == 2
    assert rows[2]["innermost"] and not rows[1]["innermost"]


def test_nested_child_enclosing_container_hole(spark):
    """A child whose vertices all lie in the donut's ring body but which
    encloses the donut's hole is NOT within the donut, wherever its
    interior point falls; a child in the ring body is."""
    donut = wkb.encode_polygon([
        np.array([[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]], dtype=np.float64),
        np.array([[0.4, 0.4], [0.6, 0.4], [0.6, 0.6], [0.4, 0.6], [0.4, 0.4]],
                 dtype=np.float64),
    ])
    df = _admin_frame(spark, [
        (1, 4, donut),
        (2, 6, _rect(0.3, 0.3, 0.95, 0.7)),  # off-centre: encloses the hole
        (3, 6, _rect(0.25, 0.25, 0.7, 0.7)),  # centred: encloses the hole
        (4, 6, _rect(0.1, 0.1, 0.3, 0.3)),   # in the ring body
    ])
    rows = {r["osm_id"]: r for r in build_nested_admin_polygons(df).collect()}
    assert rows[2]["osm_id_path"] == [2]
    assert rows[3]["osm_id_path"] == [3]
    assert rows[4]["osm_id_path"] == [1, 4]
    assert not rows[1]["innermost"] and rows[2]["innermost"]


def test_nested_single_plan_audit(world, spark):
    # one plan with no hints: the analyzed plan carries no ResolvedHint (the
    # optimizer folds hints into join nodes, so only the analyzed plan shows
    # them), with auto-broadcast off nothing broadcasts and the rows are the
    # same, and the plan runs no polygon cover and no point-on-surface UDF.
    # The input lineage is truncated so the audit covers the nested plan
    # itself, not the fixture world's own upstream joins.
    pp = world["place_polygon"].localCheckpoint(eager=True)
    ref = build_nested_admin_polygons(pp)
    analyzed = ref._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 0
    assert analyzed.count("MapInPandas") == 1 and "_exact_within" in analyzed, analyzed[:2000]
    assert "point_on_surface" not in analyzed
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        audit = build_nested_admin_polygons(pp)
        plan = audit._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan, plan[:2000]
        b = sorted(map(tuple, audit.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    a = sorted(map(tuple, ref.collect()))
    assert a == b


def test_knn_adaptive_empty_features(spark):
    """An empty feature side must return an empty result, not crash the
    level-picker UDF with an IndexError on the zero-length density map."""
    pts = spark.createDataFrame(
        pd.DataFrame({"image_id": ["a", "b"], "lon": [1.0, 2.0], "lat": [1.0, 2.0]})
    )
    feats = spark.createDataFrame(
        [], schema="osm_id long, lon double, lat double"
    )
    assert knn_join_adaptive(pts, feats, k=3).count() == 0
