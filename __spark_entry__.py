"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship spatial pipeline at sf0.001.
``queries()`` / ``oracle_sql()`` implement the correctness harness: each
engine query runs side-by-side with an ANSI-SQL DuckDB oracle over the same
parquet tables (views: region nation customer supplier part orders lineitem
events documents embeddings). Spatial inputs are derived deterministically
from those tables with SQL snippets shared verbatim between both systems
(pgosm_flex_spark/sources/testdata.py), so the engine exercises its real
machinery (WKB polygons, quadtree cells, broadcast PIP join, kNN ring
expansion) while the oracle reduces to rectangle arithmetic.

Queries without an oracle entry (engine-specific hashing / image payloads)
get the driver's rows-only check, as allowed for non-SQL-expressible ops.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pgosm_flex_spark.functions import scalars as sc
from pgosm_flex_spark.layers import build_layer_tables
from pgosm_flex_spark.operators import knn_join_adaptive, pip_join
from pgosm_flex_spark.operators.nested import build_nested_admin_polygons
from pgosm_flex_spark.operators.tiles import tile_counts
from pgosm_flex_spark.similarity import ann
from pgosm_flex_spark.sources import testdata as td
from pgosm_flex_spark.text import analysis, dedup
from pgosm_flex_spark.index import cells as cell_idx

SF0001 = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: derived image points PIP-joined through the full admin
    hierarchy (country/strip/cell), grouped to the reference's golden-count
    shape (tests/sql/place_polygon_osm_type_count.sql)."""
    pts = td.derived_points(spark, SF0001)
    world = td.admin_world(spark, SF0001)
    pairs = pip_join(pts, world, point_cols=["event_id"])
    attrs = world.select("osm_id", "osm_type", "admin_level")
    return (
        pairs.join(F.broadcast(attrs), "osm_id")
        .groupBy("osm_type", "admin_level")
        .agg(F.count(F.lit(1)).alias("n_points"))
        .orderBy("osm_type", "admin_level")
    )


# ---------------------------------------------------------------------------
# spatial queries (engine machinery vs rectangle-arithmetic oracle)
# ---------------------------------------------------------------------------

def q_pip_city_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = td.derived_points(spark, sf_dir)
    world = td.admin_world(spark, sf_dir)
    cities = world.filter(F.col("osm_id") >= 100)
    pairs = pip_join(pts, cities, point_cols=["event_id"])
    return (
        pairs.withColumn("city_key", (F.col("osm_id") - 100).cast("int"))
        .groupBy("city_key")
        .agg(F.count(F.lit(1)).alias("n_points"))
        .orderBy("city_key")
    )


def q_pip_admin_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = td.derived_points(spark, sf_dir)
    world = td.admin_world(spark, sf_dir)
    pairs = pip_join(pts, world, point_cols=["event_id"])
    attrs = world.select("osm_id", "admin_level")
    return (
        pairs.join(F.broadcast(attrs), "osm_id")
        .groupBy("admin_level")
        .agg(F.count(F.lit(1)).alias("n_points"))
        .orderBy("admin_level")
    )


def q_nested_admin_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    world = td.admin_world(spark, sf_dir)
    nested = build_nested_admin_polygons(world)
    return nested.select(
        "osm_id",
        F.col("nest_level").cast("long").alias("nest_level"),
        F.array_join("name_path", "|").alias("path"),
        "innermost",
    ).orderBy("osm_id")


def q_concave_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ST_Within over concave (L-shaped) containers: the straddler
    child (centroid inside, one corner poking out of the notch) must NOT
    nest — a centroid+bbox approximation wrongly accepts it
    (place_polygon_nested.sql:122 ST_Within semantics)."""
    world = td.concave_world(spark, sf_dir)
    nested = build_nested_admin_polygons(world)
    return nested.select(
        "osm_id", F.col("nest_level").cast("long").alias("nest_level"), "innermost"
    ).orderBy("osm_id")


def q_knn3_nearest_cities(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = td.derived_points(spark, sf_dir).filter(F.col("event_id") % 37 == 0)
    b = td.cell_bounds_sql("n_nationkey")
    centers = td.load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("city_key"),
        F.expr(f"(({b['x0']} + {b['x1']}) / 2)").alias("lon"),
        F.expr(f"(({b['y0']} + {b['y1']}) / 2)").alias("lat"),
    )
    out = knn_join_adaptive(pts, centers, k=3, point_id="event_id", feature_id="city_key")
    return out.select(
        "event_id", F.col("knn_rank").cast("int").alias("knn_rank"),
        F.col("city_key").cast("int").alias("city_key"),
    ).orderBy("event_id", "knn_rank")


def q_tile_counts_z12(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = td.derived_points(spark, sf_dir)
    return tile_counts(pts, zoom=12)


def q_cell_counts_res12(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = td.derived_points(spark, sf_dir)
    return (
        pts.select(cell_idx.cell_col(F.col("lon"), F.col("lat"), 12).alias("cell"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_points"))
        .orderBy("cell")
    )


# ---------------------------------------------------------------------------
# tag→schema layer queries (layer registry vs CASE-arithmetic oracle)
# ---------------------------------------------------------------------------

def q_road_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    osm = td.derived_osm_objects(spark, sf_dir)
    road_line = build_layer_tables(osm, layerset="everything")["road_line"]
    return (
        road_line.groupBy("osm_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("osm_type")
    )


def q_road_line_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's golden multi-FILTER aggregate
    (/root/reference/tests/sql/road_line_aggregates.sql)."""
    osm = td.derived_osm_objects(spark, sf_dir)
    rl = build_layer_tables(osm, layerset="everything")["road_line"]
    return rl.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.col("maxspeed")).alias("n_maxspeed"),
        F.count(F.when(F.col("major"), 1)).alias("n_major"),
        F.count(F.when(F.col("route_foot"), 1)).alias("n_route_foot"),
        F.count(F.when(F.col("route_cycle"), 1)).alias("n_route_cycle"),
        F.count(F.when(F.col("route_motor"), 1)).alias("n_route_motor"),
    )


def q_place_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    osm = td.derived_osm_objects(spark, sf_dir)
    pl = build_layer_tables(osm, layerset="everything")["place_line"]
    return pl.groupBy("osm_type").agg(F.count(F.lit(1)).alias("n")).orderBy("osm_type")


def q_poi_type_subtype_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    osm = td.derived_osm_objects(spark, sf_dir)
    poi = build_layer_tables(osm, layerset="everything")["poi_line"]
    return (
        poi.groupBy("osm_type", "osm_subtype")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("osm_type", "osm_subtype")
    )


# ---------------------------------------------------------------------------
# golden layer counts over the MIXED-geometry derived input — one query per
# reference golden test table (/root/reference/tests/sql/*.sql): the engine
# runs the real tag→schema CASE logic + geometry routing, the oracle reduces
# to family/geometry arithmetic (td.MIXED_FAMILY_TAGS, td.derived_osm_objects_mixed)
# ---------------------------------------------------------------------------

# family → expected (osm_type, osm_subtype) per layer, mirroring the layer
# registry's CASE chains (pgosm_flex_spark/layers/registry.py)
_GOLDEN_FAMS: dict[str, dict[int, tuple[str, str | None]]] = {
    "amenity": {
        0: ("restaurant", "pizza"), 1: ("bench", None), 2: ("fuel", None),
        3: ("bench", None), 4: ("brewery", None), 5: ("pub", None),
        6: ("shelter", "basic_hut"), 9: ("cafe", None), 44: ("parking", None),
    },
    "building": {
        10: ("building", "yes"), 11: ("building", "house"),
        12: ("building_part", "roof"), 13: ("office", "lawyer"),
        14: ("address", None), 17: ("door", "hinged"), 18: ("entrance", "main"),
        38: ("address", None),  # housenumber-only row is address-only too
    },
    "indoor": {
        15: ("room", None), 16: ("corridor", None), 17: ("door", None),
        18: ("entrance", None),
    },
    "infrastructure": {
        19: ("emergency", "fire_hydrant"), 20: ("power", "tower"),
        21: ("utility", None), 22: ("aeroway", "runway"),
        23: ("water_tower", "water"),
    },
    "place": {31: ("city", None), 32: ("boundary", None)},
    "poi": {
        0: ("amenity", "restaurant"), 1: ("amenity", "bench"),
        2: ("amenity", "fuel"), 5: ("amenity", "pub"), 6: ("amenity", "shelter"),
        9: ("amenity", "cafe"), 7: ("shop", "bakery"), 8: ("shop", "supermarket"),
        10: ("building", "yes"), 23: ("man_made", "water_tower"),
        36: ("shop", "cafe"), 44: ("amenity", "parking"),
        45: ("leisure", "park"), 46: ("natural", "peak"),
        48: ("tourism", "hotel"),
        # landuse=forest is NOT poi (second-level landuse check rejects it)
    },
    "public_transport": {
        25: ("platform", None), 26: ("railway", "station"),
        27: ("aerialway", "gondola"), 42: ("railway", "level_crossing"),
    },
    "road": {30: ("pedestrian", None)},
    "shop": {
        7: ("shop", "bakery"), 8: ("shop", "supermarket"),
        5: ("amenity", "pub"), 9: ("amenity", "cafe"), 36: ("shop", "cafe"),
    },
    "water": {28: ("natural", "water"), 29: ("waterway", "river")},
    "traffic": {
        2: ("amenity", "fuel"), 39: ("barrier", "gate"),
        40: ("traffic_calming", "hump"), 41: ("stop", None),
        42: ("crossing", None), 43: ("noexit", None), 44: ("amenity", "parking"),
    },
    # closed noexit ways are skipped; traffic takes no relations
    "traffic_polygon": {
        2: ("amenity", "fuel"), 39: ("barrier", "gate"),
        40: ("traffic_calming", "hump"), 41: ("stop", None),
        42: ("crossing", None), 44: ("amenity", "parking"),
    },
    "natural": {37: ("street_lamp", None), 46: ("peak", None)},
    "landuse": {47: ("forest", None)},
    "leisure": {45: ("park", None)},
    # road nodes: any highway value lands in road_point
    "road_point": {30: ("pedestrian", None), 41: ("stop", None)},
}

# geometry routing in oracle arithmetic: g = id%4 (0 N, 1 W-open, 2 W-closed,
# 3 R), r8 = id%8 (3 → poly-eligible relation, 7 → route relation)
_GOLDEN_GEOM_SQL = {
    "point": "g = 0",
    "line": "g = 1",
    "polygon": "(g = 2 OR r8 = 3)",          # closed ways + multipolygon rels
    "polygon_all_rels": "g IN (2, 3)",        # place takes every relation
    "polygon_ways": "g = 2",                  # traffic takes no relations
    "way_or_rel": "g IN (1, 2, 3)",           # road_polygon (area ways + rels)
    "combined_point": "(g = 0 OR g = 2 OR r8 = 3)",
}

# (query key, layer, table, geom key, with_subtype) — one per reference
# golden test file
_GOLDEN_TABLES: list[tuple[str, str, str, str, bool]] = [
    ("amenity_point_counts", "amenity", "amenity_point", "point", False),
    ("building_combined_point_counts", "building_combined_point",
     "building_combined_point", "combined_point", True),
    ("indoor_point_counts", "indoor", "indoor_point", "point", False),
    ("indoor_line_counts", "indoor", "indoor_line", "line", False),
    ("indoor_polygon_counts", "indoor", "indoor_polygon", "polygon", False),
    ("infrastructure_point_counts", "infrastructure", "infrastructure_point", "point", True),
    ("infrastructure_line_counts", "infrastructure", "infrastructure_line", "line", True),
    ("infrastructure_polygon_counts", "infrastructure", "infrastructure_polygon", "polygon", True),
    ("place_polygon_counts", "place", "place_polygon", "polygon_all_rels", False),
    ("poi_point_counts", "poi", "poi_point", "point", True),
    ("poi_polygon_counts", "poi", "poi_polygon", "polygon", True),
    ("poi_combined_point_counts", "poi_combined_point", "poi_combined_point", "combined_point", True),
    ("public_transport_point_counts", "public_transport", "public_transport_point", "point", True),
    ("public_transport_line_counts", "public_transport", "public_transport_line", "line", True),
    ("public_transport_polygon_counts", "public_transport", "public_transport_polygon", "polygon", True),
    ("road_polygon_counts", "road", "road_polygon", "way_or_rel", False),
    ("shop_point_counts", "shop", "shop_point", "point", True),
    ("shop_polygon_counts", "shop", "shop_polygon", "polygon", True),
    ("shop_combined_point_counts", "shop_combined_point", "shop_combined_point", "combined_point", True),
    ("water_line_counts", "water", "water_line", "line", True),
    ("water_polygon_counts", "water", "water_polygon", "polygon", True),
    ("traffic_point_counts", "traffic", "traffic_point", "point", True),
    ("traffic_line_counts", "traffic", "traffic_line", "line", True),
    ("traffic_polygon_counts", "traffic", "traffic_polygon", "polygon_ways", True),
    ("natural_point_counts", "natural", "natural_point", "point", False),
    ("natural_line_counts", "natural", "natural_line", "line", False),
    ("natural_polygon_counts", "natural", "natural_polygon", "polygon", False),
    ("landuse_point_counts", "landuse", "landuse_point", "point", False),
    ("landuse_polygon_counts", "landuse", "landuse_polygon", "polygon", False),
    ("leisure_point_counts", "leisure", "leisure_point", "point", False),
    ("leisure_polygon_counts", "leisure", "leisure_polygon", "polygon", False),
    ("road_point_counts", "road", "road_point", "point", False),
    ("amenity_line_counts", "amenity", "amenity_line", "line", False),
    ("amenity_polygon_counts", "amenity", "amenity_polygon", "polygon", False),
    ("building_point_counts", "building", "building_point", "point", True),
    ("building_polygon_counts", "building", "building_polygon", "polygon", True),
    ("water_point_counts", "water", "water_point", "point", True),
    ("place_point_counts", "place", "place_point", "point", False),
]

# combined_point tables live under their own layer key; map to the family
# table used for expectations
_GOLDEN_FAM_KEY = {
    "building_combined_point": "building",
    "poi_combined_point": "poi",
    "shop_combined_point": "shop",
}
# query-key-specific expectation overrides (geometry-dependent fam sets)
_GOLDEN_FAM_BY_QUERY = {
    "traffic_polygon_counts": "traffic_polygon",
    "road_point_counts": "road_point",
}


def q_tags_geomtype_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tags escape-hatch table: every mixed row has tags after cleaning, so
    counts reduce to the geometry split."""
    osm = td.derived_osm_objects_mixed(spark, sf_dir)
    t = build_layer_tables(osm)["tags"]
    return t.groupBy("geom_type").agg(F.count(F.lit(1)).alias("n")).orderBy("geom_type")


def q_layer_route_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-scan layer dispatch (layers/router.py): ONE pass evaluates all
    44 table-membership predicates per row and explodes the matches — the
    at-scale alternative to unioning 44 per-table scans. Totals must equal
    build_layer_tables' per-table row counts (also pinned by tests/test_router.py)."""
    from pgosm_flex_spark.layers.router import route_layer_ids

    osm = td.derived_osm_objects_mixed(spark, sf_dir)
    routed = route_layer_ids(osm)
    return (
        routed.groupBy(F.col("table").alias("layer_table"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("layer_table")
    )


def q_road_major_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """road_major layer (major-road subset of road_line) over the original
    caption families."""
    osm = td.derived_osm_objects(spark, sf_dir)
    rm = build_layer_tables(osm, layerset="everything")["road_major"]
    return rm.groupBy("osm_type").agg(F.count(F.lit(1)).alias("n")).orderBy("osm_type")


# The reference runs 25 separate psql golden files only because psql can't
# union conveniently (tests/run-output-tests.sh:24-44); here the 38 per-table
# golden counts consolidate into 2 union queries (point+line and
# polygon+combined_point families) emitting (layer_table, osm_type,
# osm_subtype, n) so the driver's 50-entry CORRECTNESS window covers every
# table — round 4's 4-way split pushed the registry to 52 and squeezed the
# polygon/combined entries out of the driver artifact.
def _golden_group_of(table: str) -> str:
    if table.endswith("_combined_point") or not (
        table.endswith("_point") or table.endswith("_line")
    ):
        return "golden_polygon_combined_counts"
    return "golden_point_line_counts"


def _golden_grouped() -> dict[str, list[tuple[str, str, str, str, bool]]]:
    groups: dict[str, list[tuple[str, str, str, str, bool]]] = {
        "golden_point_line_counts": [],
        "golden_polygon_combined_counts": [],
    }
    for entry_ in _GOLDEN_TABLES:
        groups[_golden_group_of(entry_[2])].append(entry_)
    return groups


def _q_golden_group(entries: list[tuple[str, str, str, str, bool]]):
    from functools import reduce

    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        osm = td.derived_osm_objects_mixed(spark, sf_dir)
        tables = build_layer_tables(osm)
        parts = []
        for _key, _layer, table, _geom, with_subtype in entries:
            df = tables[table]
            sub = (
                F.col("osm_subtype").cast("string")
                if with_subtype
                else F.lit(None).cast("string")
            )
            parts.append(
                df.select(
                    F.lit(table).alias("layer_table"),
                    F.col("osm_type").cast("string").alias("osm_type"),
                    sub.alias("osm_subtype"),
                )
            )
        # single groupBy over the projected union: one shuffle for the whole
        # table family, not one per table
        union = reduce(DataFrame.unionByName, parts)
        return (
            union.groupBy("layer_table", "osm_type", "osm_subtype")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("layer_table", "osm_type", "osm_subtype")
        )

    return q


def _golden_count_block(table: str, fams: dict[int, tuple[str, str | None]],
                        geom_sql: str, with_subtype: bool) -> str:
    fam_list = ", ".join(str(f) for f in sorted(fams))
    type_case = "CASE fam " + " ".join(
        f"WHEN {f} THEN '{t}'" for f, (t, _s) in sorted(fams.items())
    ) + " END"
    if with_subtype:
        sub_whens = " ".join(
            f"WHEN {f} THEN '{s}'" for f, (_t, s) in sorted(fams.items()) if s is not None
        )
        sub_case = (
            f"CASE fam {sub_whens} ELSE CAST(NULL AS VARCHAR) END"
            if sub_whens else "CAST(NULL AS VARCHAR)"
        )
    else:
        sub_case = "CAST(NULL AS VARCHAR)"
    return (
        f"SELECT '{table}' AS layer_table, {type_case} AS osm_type, "
        f"{sub_case} AS osm_subtype, COUNT(*) AS n "
        f"FROM o WHERE fam IN ({fam_list}) AND {geom_sql} GROUP BY 1, 2, 3"
    )


def _oracle_golden_group(entries: list[tuple[str, str, str, str, bool]]) -> str:
    blocks = [
        _golden_count_block(
            table,
            _GOLDEN_FAMS[
                _GOLDEN_FAM_BY_QUERY.get(key, _GOLDEN_FAM_KEY.get(layer, layer))
            ],
            _GOLDEN_GEOM_SQL[geom],
            with_subtype,
        )
        for key, layer, table, geom, with_subtype in entries
    ]
    body = "\n        UNION ALL\n        ".join(blocks)
    return f"""
        WITH o AS (
            SELECT CAST(event_id % {td.MIXED_MOD} AS INT) AS fam,
                   CAST(event_id % 4 AS INT) AS g,
                   CAST(event_id % 8 AS INT) AS r8
            FROM events)
        {body}
        ORDER BY 1, 2, 3
    """


def _oracle_route_counts() -> str:
    """DuckDB twin of q_layer_route_counts: per-table totals = the golden
    per-(type,subtype) count blocks summed per table, plus the tags/unitable
    escape hatches (every mixed row has tags after cleaning → COUNT(*))."""
    blocks = [
        _golden_count_block(
            table,
            _GOLDEN_FAMS[
                _GOLDEN_FAM_BY_QUERY.get(key, _GOLDEN_FAM_KEY.get(layer, layer))
            ],
            _GOLDEN_GEOM_SQL[geom],
            with_subtype,
        )
        for key, layer, table, geom, with_subtype in _GOLDEN_TABLES
    ]
    # three line tables have no golden entry (their layers are value-checked
    # by named queries on the ORIGINAL fixture): place/poi lines are plain
    # open ways of their fam sets; road_line keeps CLOSED non-area ways and
    # relations too (the road layer routes on the area tag, not closedness —
    # fam 30 carries area=yes so it is road_polygon's, leaving fam 41)
    blocks.append(
        _golden_count_block("place_line", _GOLDEN_FAMS["place"], _GOLDEN_GEOM_SQL["line"], False)
    )
    blocks.append(
        _golden_count_block("poi_line", _GOLDEN_FAMS["poi"], _GOLDEN_GEOM_SQL["line"], True)
    )
    blocks.append(
        _golden_count_block(
            "road_line", {41: ("stop", None)}, _GOLDEN_GEOM_SQL["way_or_rel"], False
        )
    )
    for escape in ("tags", "unitable"):
        blocks.append(
            f"SELECT '{escape}' AS layer_table, 'x' AS osm_type, "
            f"CAST(NULL AS VARCHAR) AS osm_subtype, COUNT(*) AS n FROM o"
        )
    body = "\n        UNION ALL\n        ".join(blocks)
    return f"""
        WITH o AS (
            SELECT CAST(event_id % {td.MIXED_MOD} AS INT) AS fam,
                   CAST(event_id % 4 AS INT) AS g,
                   CAST(event_id % 8 AS INT) AS r8
            FROM events)
        SELECT layer_table, CAST(SUM(n) AS BIGINT) AS n
        FROM ({body})
        GROUP BY 1 ORDER BY 1
    """


def _golden_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _q_golden_group(entries) for name, entries in _golden_grouped().items()}


def _oracle_golden() -> dict[str, str]:
    return {name: _oracle_golden_group(entries) for name, entries in _golden_grouped().items()}


def q_scalar_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    osm = td.derived_osm_objects(spark, sf_dir).filter(F.col("osm_id") < 300)
    t = F.col("tags")
    return osm.select(
        F.col("osm_id").alias("event_id"),
        sc.get_name(t).alias("name"),
        sc.parse_speed(sc.t(t, "maxspeed")).alias("maxspeed"),
        sc.parse_to_meters(sc.t(t, "ele")).alias("ele_m"),
        sc.get_address(t).alias("address"),
        sc.routable_motor(t).alias("route_motor"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# relational queries (A2/A3/J2/J5/W2 analogs on the TPC-H-ish tables)
# ---------------------------------------------------------------------------

def q_orders_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        td.load(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("o_orderstatus")
    )


def q_top_customers_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = td.load(spark, sf_dir, "orders")
    cust = td.load(spark, sf_dir, "customer")
    rev = (
        orders.withColumn("price_d", F.col("o_totalprice").cast("decimal(18,2)"))
        .groupBy("o_custkey")
        .agg(F.sum("price_d").alias("revenue"))
    )
    joined = rev.join(F.broadcast(cust), rev["o_custkey"] == cust["c_custkey"])
    w = Window.orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("rank", "c_custkey", "c_name", F.col("revenue").cast("string").alias("revenue"))
        .orderBy("rank")
    )


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = td.load(spark, sf_dir, "orders")
    cust = td.load(spark, sf_dir, "customer")
    return (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


def q_lineitem_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = td.load(spark, sf_dir, "lineitem")
    disc = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).cast(
        "decimal(18,4)"
    )
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("string").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("string").alias("sum_base_price"),
            F.sum(disc).cast("string").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_user_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = td.load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("string").alias("total_value"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_purchases"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# documents / embeddings (training-data ops)
# ---------------------------------------------------------------------------

def _dup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ copies of every 10th doc (guaranteed duplicates)."""
    docs = td.load(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return docs.unionByName(copies)


def q_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        analysis.token_count(t).alias("n_tokens"),
        F.length(t).alias("n_chars"),
        F.round(analysis.stopword_ratio(t), 6).alias("stop_ratio"),
        analysis.predict_lang(t).alias("pred_lang"),
    ).orderBy("doc_id")


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring + BPE-ish subword counting — the training-data filter
    columns, value-matched against the same arithmetic in DuckDB."""
    docs = td.load(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        analysis.bpe_ish_token_count(t).alias("n_subtokens"),
        F.round(analysis.mean_word_len(t), 6).alias("mean_word_len"),
        F.round(analysis.quality_score(t), 6).alias("quality"),
    ).orderBy("doc_id")


def q_lang_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load(spark, sf_dir, "documents")
    return (
        docs.select(analysis.predict_lang(F.col("text")).alias("pred_lang"))
        .groupBy("pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("pred_lang")
    )


def q_dup_group_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-text AND rolling-fingerprint duplicate groups in one union —
    the two hash-groupBy rungs of the dedup ladder share the (keep_id,
    n_dups) shape, so one query value-checks both (the fingerprint is an
    order-sensitive fold over tokens, hence groups == whitespace-normalized
    text groups; 64-bit collisions ~1e-12 at this corpus size)."""
    docs = _dup_docs(spark, sf_dir)
    exact = dedup.exact_dedup(docs).select(
        F.lit("exact").alias("tier"), "keep_id", "n_dups"
    )
    fp = docs.select("doc_id", analysis.fingerprint(F.col("text")).alias("fp"))
    fpg = (
        fp.groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
        .filter(F.col("n_dups") > 1)
        .select(F.lit("fingerprint").alias("tier"), "keep_id", "n_dups")
    )
    return exact.unionByName(fpg).orderBy("tier", "keep_id")


def q_word_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    out = dedup.jaccard_pairs(docs, threshold=0.6)
    return out.select(
        "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")
    ).orderBy("doc_a", "doc_b")


def q_char_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact character-5-gram Jaccard near-dup pairs (word-boundary-robust
    dedup tier) — same plan family as word Jaccard, value-matched against a
    DuckDB n-gram self-join."""
    docs = td.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    out = dedup.char_ngram_jaccard_pairs(docs, n=5, threshold=0.5)
    return out.select(
        "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")
    ).orderBy("doc_a", "doc_b")


def _twin_embeddings(spark: SparkSession, sf_dir: str, upto: int) -> DataFrame:
    emb = td.load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    twins = emb.filter(F.col("vec_id") < upto).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    return emb.unionByName(twins)


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate detection (cos ≥ 0.99) over corpus + planted
    twins: only twin pairs clear the threshold (max natural cosine in the
    synthetic 64-dim corpus ≈ 0.5-0.73), and identical vectors share every
    LSH bucket, so the pair set is closed-form."""
    corpus = _twin_embeddings(spark, sf_dir, 100)
    pairs = ann.cosine_near_dup_pairs(corpus, threshold=0.99, dim=64)
    return pairs.select(
        "doc_a", "doc_b", F.round("cos", 2).alias("cos")
    ).orderBy("doc_a", "doc_b")


def q_ann_self_top1_methods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall proof for BOTH approximate ANN tiers in one entry: planted twin
    queries (corpus vectors under shifted ids) always reach their twin —
    hyperplane-LSH because identical vectors collide in every table, IVF
    because a twin probes its own centroid list first — and nothing beats
    cosine 1.0, so exact top-1 is a closed-form oracle. The union runs both
    index builds end-to-end; a recall miss in either tier breaks its half."""
    emb = td.load(spark, sf_dir, "embeddings")
    twins = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    parts = []
    for method, topk in (
        ("ivf", lambda: ann.ivf_cosine_topk(emb, twins, k=1)),
        ("lsh", lambda: ann.lsh_cosine_topk(emb, twins, k=1, dim=64)),
    ):
        parts.append(
            topk().select(
                F.lit(method).alias("method"),
                "query_id",
                F.col("rank").cast("int").alias("rank"),
                "neighbor_id",
            )
        )
    return parts[0].unionByName(parts[1]).orderBy("method", "query_id")


def q_ann_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = td.load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return ann.cosine_topk(emb, queries, k=3).select(
        "query_id", F.col("rank").cast("int").alias("rank"), "neighbor_id"
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# routing / lookup / QC
# ---------------------------------------------------------------------------

def q_routing_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Street grid (from supplier) → split edges with geodesic lengths and
    lookup-defaulted travel-time costs (routing_functions.sql semantics)."""
    from pgosm_flex_spark.operators.routing import build_routing_network
    from pgosm_flex_spark.sources.lookup import pgosm_road

    roads = td.street_ways(spark, sf_dir)
    edges, _ = build_routing_network(roads, lookup=pgosm_road(spark))
    return edges.select(
        "osm_id",
        "seq",
        F.round("length_m", 3).alias("len_m"),
        F.round("cost_seconds_forward", 2).alias("secs_fwd"),
    ).orderBy("osm_id", "seq")


def q_routing_water_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Waterway routing graph — the reference's second routing network
    (routing_functions.sql:417-520): water_line rows split at crossings,
    LENGTH-based costs only, strictly directed (forward = +cost_length,
    reverse = -cost_length per the reference's GENERATED columns), with
    name replicated onto every split edge."""
    from pgosm_flex_spark.operators.routing import build_water_routing_network

    water = td.water_ways(spark, sf_dir)
    edges, _ = build_water_routing_network(water)
    return edges.select(
        "osm_id",
        "seq",
        "name",
        F.round("cost_length", 3).alias("cost_len"),
        F.round("cost_length_forward", 3).alias("cost_fwd"),
        F.round("cost_length_reverse", 3).alias("cost_rev"),
    ).orderBy("osm_id", "seq")


def q_routing_vertex_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pgosm_flex_spark.operators.routing import build_routing_network

    roads = td.street_ways(spark, sf_dir)
    _, vertices = build_routing_network(roads)
    return (
        vertices.groupBy("degree").agg(F.count(F.lit(1)).alias("n_vertices"))
        .orderBy("degree")
    )


def q_route_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: single-source shortest travel time over the built street network,
    run to CONVERGENCE like the reference's pgr_dijkstra + per-route
    SUM(cost) rollup (/root/reference/db/deploy/routing_functions.sql:553-591).
    Source = the smallest (lon, lat) vertex. The oracle runs a |V|-1-round
    materialized SQL DP — convergence truth for non-negative weights."""
    from pgosm_flex_spark.operators.routing import (
        build_routing_network,
        shortest_paths,
    )
    from pgosm_flex_spark.sources.lookup import pgosm_road

    roads = td.street_ways(spark, sf_dir)
    edges, vertices = build_routing_network(roads, lookup=pgosm_road(spark))
    edges = edges.persist()
    src = vertices.orderBy("lon", "lat").select("vertex_id").first()["vertex_id"]
    dist = shortest_paths(edges, src)
    # shortest_paths localCheckpoints each round, so dist is materialized and
    # the cached edge table can be released before the lazy rollup returns
    edges.unpersist(blocking=False)
    out = dist.join(vertices.select("vertex_id", "lon", "lat"), "vertex_id")
    res = out.select(
        "lon", "lat", F.round("dist", 2).alias("secs")
    ).orderBy("lon", "lat")
    return res


def q_route_path_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 (closing the last asterisk): the reference rollup's per-route
    ``ARRAY_AGG(vertex_id) AS vertex_ids, ARRAY_AGG(edge_id) AS edge_ids``
    (/root/reference/db/deploy/routing_functions.sql:586-588), reconstructed
    from the convergent SSSP's predecessor tree via pointer doubling.

    Engine vertex ids are content hashes DuckDB cannot recompute, so the
    oracle-facing path is the route spelled in quantized coordinate space:
    each step formatted as ``round(lon*1e7):round(lat*1e7)`` (exact integers
    — the blade coords are already on the 1e-7 grid) joined by ``>``. The
    oracle runs the same |V|-1-round DP carrying (d, hops, pred) through a
    struct-min, then walks the predecessor chain with a recursive CTE.
    Tie-break parity note: on an EXACT double tie of (dist, hops) the engine
    breaks by predecessor hash id, the oracle by predecessor coordinates —
    unreachable here because equal-cost grid detours sum distinct doubles."""
    from pgosm_flex_spark.operators.routing import (
        build_routing_network,
        route_paths,
        shortest_paths,
    )
    from pgosm_flex_spark.sources.lookup import pgosm_road

    roads = td.street_ways(spark, sf_dir)
    edges, vertices = build_routing_network(roads, lookup=pgosm_road(spark))
    edges = edges.persist()
    src = vertices.orderBy("lon", "lat").select("vertex_id").first()["vertex_id"]
    paths = route_paths(shortest_paths(edges, src, with_pred=True), src)
    edges.unpersist(blocking=False)
    vcoord = vertices.select(
        "vertex_id",
        "lon",
        "lat",
        F.concat(
            F.round(F.col("lon") * 1e7).cast("long").cast("string"),
            F.lit(":"),
            F.round(F.col("lat") * 1e7).cast("long").cast("string"),
        ).alias("__pt"),
    )
    steps = paths.select(
        "vertex_id", "dist", "hops", F.posexplode("vertex_ids").alias("pos", "step_vid")
    ).join(
        vcoord.select(F.col("vertex_id").alias("step_vid"), F.col("__pt")),
        "step_vid",
    )
    agg = steps.groupBy("vertex_id", "dist", "hops").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "__pt"))),
                lambda x: x["__pt"],
            ),
            ">",
        ).alias("path")
    )
    return (
        agg.join(vcoord.select("vertex_id", "lon", "lat"), "vertex_id")
        .select(
            "lon",
            "lat",
            F.round("dist", 2).alias("secs"),
            F.col("hops").cast("long").alias("segs"),
            "path",
        )
        .orderBy("lon", "lat")
    )


def q_pgosm_road_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The seeded lookup table (S6; golden count
    /root/reference/tests/sql/pgosm_road_row_count.sql)."""
    from pgosm_flex_spark.sources.lookup import pgosm_road

    return pgosm_road(spark).orderBy("osm_type")


def q_srid_3857_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRID reprojection (§2.7 constructors' reprojection; reference
    ``--srid``, helpers.lua:5-12): forward 4326→3857 at mm resolution plus
    the inverse round-trip at µdeg, against DuckDB's ln∘tan formulation of
    the same spherical-mercator map."""
    from pgosm_flex_spark.geometry import srid as S

    ev = td.load(spark, sf_dir, "events").select(
        F.col("event_id").cast("long").alias("event_id")
    )
    lon = (F.col("event_id") % 360).cast("double") - F.lit(179.5)
    lat = (F.col("event_id") % 120).cast("double") - F.lit(59.5)
    x = S.mercator_x_col(lon)
    y = S.mercator_y_col(lat)
    return ev.select(
        "event_id",
        F.round(x * 1000).cast("long").alias("x_mm"),
        F.round(y * 1000).cast("long").alias("y_mm"),
        F.round(S.inv_mercator_lon_col(x) * 1000000).cast("long").alias("lon_back_udeg"),
        F.round(S.inv_mercator_lat_col(y) * 1000000).cast("long").alias("lat_back_udeg"),
    ).orderBy("event_id")


def q_qgis_style_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QGIS layer_styles load semantics (S-surface;
    /root/reference/docker/qgis_styles.py:13-29 +
    db/qgis-style/_load_layer_styles.sql): merging the shipped styles into a
    table holding one user-customized row must keep the custom row untouched
    and append only absent (catalog, schema, table, stylename) keys with
    SERIAL ids continuing after the existing max."""
    from pgosm_flex_spark.styles import (
        LAYER_STYLES_SCHEMA,
        merge_styles,
        placeholder_styles_df,
    )

    existing = spark.createDataFrame(
        [(7, "pgosm", "osm", "road_line", "geom", "osm_road_line",
          "<qgis>CUSTOM</qgis>", None, True, "user tweak", "me", None, None,
          "Normal")],
        schema=LAYER_STYLES_SCHEMA,
    )
    merged = spark.createDataFrame(
        merge_styles(existing.toPandas(), placeholder_styles_df(spark).toPandas()),
        schema=LAYER_STYLES_SCHEMA,
    )
    return merged.select(
        "id", "f_table_catalog", "f_table_schema", "f_table_name",
        "f_geometry_column", "stylename", "useasdefault", "description",
        "type",
    ).orderBy("id")


def q_qc_features_not_in_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QC coverage anti-join (J3,
    /root/reference/db/qc/features_not_in_run_all.sql): tags rows that landed
    in no layer table."""
    from pgosm_flex_spark.layers.registry import layer_table_predicates
    from pgosm_flex_spark.layers.router import layer_membership

    osm = td.derived_osm_objects(spark, sf_dir)
    # single-scan formulation: the old shape unioned 42 per-table id frames
    # (42 source scans) into a distinct + anti-join; membership is a pure
    # row predicate, so "tags rows in no layer" is one filter over one scan
    # (equivalence with the unioned tables is pinned by tests/test_router.py)
    tags_pred = layer_table_predicates()["tags"]
    missing = osm.filter(
        tags_pred & ~layer_membership(osm, exclude=("tags", "unitable"))
    )
    return missing.select(F.col("osm_id").alias("event_id")).orderBy("event_id")


def q_stream_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming stateful dedup driven END-TO-END (real readStream →
    applyInPandasWithState → foreachBatch sink, availableNow): first-seen
    image per content hash. Input derives from events; the whole feed fits
    one micro-batch so first-seen == global string-min id, which DuckDB can
    state in SQL."""
    import shutil
    import tempfile

    from pgosm_flex_spark.streaming.stateful import run_first_seen_stream

    base = tempfile.mkdtemp(prefix="stream_dedup_")
    inp = os.path.join(base, "in")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    try:
        feed = td.load(spark, sf_dir, "events").select(
            (F.col("event_id") % 97).alias("phash"),
            F.concat(F.lit("i"), F.col("event_id").cast("string")).alias("image_id"),
        )
        feed.coalesce(4).write.mode("overwrite").json(inp)
        q = run_first_seen_stream(spark, inp, ckpt, out)
        if not q.awaitTermination(300):
            # a False return is a silent timeout, not an error: reading the
            # half-written sink (and rmtree-ing dirs the live query still
            # uses) would fail the harness with a bogus wrong-rows signal
            q.stop()
            raise TimeoutError("stream_first_seen availableNow drain exceeded 300s")
        return spark.read.parquet(out).orderBy("phash").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def q_qc_tag_suggestions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QC lint-rule union (U4, /root/reference/db/qc/osm_tag_suggestions.sql)
    over the mixed derived input."""
    from pgosm_flex_spark.layers.qc import qc_tag_suggestions
    osm = td.derived_osm_objects_mixed(spark, sf_dir)
    tags_tbl = build_layer_tables(osm)["tags"]
    return (
        qc_tag_suggestions(tags_tbl)
        .select("osm_id", "geom_type", "suggestion", "osm_url")
        .orderBy("osm_id", "suggestion")
    )


def _oracle_qc_suggestions() -> str:
    from pgosm_flex_spark.layers import qc

    fam_sugg = {
        33: qc.SUGGESTION_BICYCLE_PARKING,
        34: qc.SUGGESTION_BENCH,
        35: qc.SUGGESTION_WHEELCHAIR,
        36: qc.SUGGESTION_SHOP_CAFE,
        37: qc.SUGGESTION_NATURAL_STREET_LAMP,
        38: qc.SUGGESTION_MISSING_STREET,
    }
    sugg_case = "CASE fam " + " ".join(
        f"WHEN {f} THEN '{s}'" for f, s in sorted(fam_sugg.items())
    ) + " END"
    return f"""
        WITH o AS (
            SELECT event_id AS osm_id, CAST(event_id % {td.MIXED_MOD} AS INT) AS fam,
                   CAST(event_id % 4 AS INT) AS g
            FROM events)
        SELECT osm_id,
               CASE WHEN g = 0 THEN 'N' WHEN g = 3 THEN 'R' ELSE 'W' END AS geom_type,
               {sugg_case} AS suggestion,
               'https://www.openstreetmap.org/'
                 || CASE WHEN g = 0 THEN 'node' WHEN g = 3 THEN 'relation' ELSE 'way' END
                 || '/' || CAST(osm_id AS VARCHAR) AS osm_url
        FROM o WHERE fam IN ({', '.join(str(f) for f in sorted(fam_sugg))})
        ORDER BY osm_id, suggestion
    """


# hash-pipeline queries with STRUCTURAL-RECALL oracles: identical text ⇒
# identical signature ⇒ found by construction, so a text-equality oracle
# value-checks the full LSH/fingerprint machinery (near-dup behavior beyond
# exact duplicates stays covered by pytest recall tests)

def _texts_of(docs: DataFrame, side: str) -> DataFrame:
    return docs.select(F.col("doc_id").alias(side), F.col("text").alias(f"__t_{side}"))


def q_hash_recall_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH and SimHash recall proofs on exact duplicates, one union:
    identical text → identical signature → found by construction (all LSH
    bands collide / hamming 0 through the quarter blocking). The
    text-equality join pins precision, so the oracle for both methods is the
    plain text self-join. The simhash leg runs collapse_identical=False:
    this query proves PAIR-level recall of the banding itself, and a real
    cross-text simhash collision (present in this fixture: doc 393 hashes
    identically to the 420 dup group) would otherwise become the group rep
    and hide the intra-group pair behind text-pinned star rows. The collapse
    branch has its own value oracle in phash_near_dups (identical planted
    values through the shared hamming_band_pairs)."""
    docs = _dup_docs(spark, sf_dir)

    def pinned(pairs: DataFrame, method: str) -> DataFrame:
        return (
            pairs.join(_texts_of(docs, "doc_a"), "doc_a")
            .join(_texts_of(docs, "doc_b"), "doc_b")
            .filter(F.col("__t_doc_a") == F.col("__t_doc_b"))
            .select(F.lit(method).alias("method"), "doc_a", "doc_b")
        )

    mh = pinned(dedup.minhash_lsh_pairs(docs, threshold=1.0), "minhash")
    sh = pinned(
        dedup.simhash_pairs(docs, max_hamming=0, collapse_identical=False),
        "simhash",
    )
    return mh.unionByName(sh).orderBy("method", "doc_a", "doc_b")


def q_cc_block_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components (large-star/small-star, operators/components.py)
    over a synthetic graph with a closed-form answer: within each 100-node
    block of event ids there is a full chain (every third edge reversed, to
    pin undirectedness) plus pigeonholed shortcut edges — so every node's
    component is its block minimum, but resolving it requires full
    transitive closure over a diameter-99 chain (O(log n) star-contraction
    rounds; any single-round blocking scheme fails this)."""
    from pgosm_flex_spark.operators.components import connected_components

    ev = td.load(spark, sf_dir, "events").select(
        F.col("event_id").cast("long").alias("i")
    )
    i = F.col("i")
    blk = (F.floor(i / 100) * 100).cast("long")
    in_chain = i % 100 != 99
    fwd = ev.filter(in_chain & (i % 3 != 0)).select(
        i.alias("src"), (i + 1).alias("dst")
    )
    rev = ev.filter(in_chain & (i % 3 == 0)).select(
        (i + 1).alias("src"), i.alias("dst")
    )
    cut = ev.filter(i % 17 == 5).select(i.alias("src"), (blk + 50).alias("dst"))
    # bound both endpoints to ids that exist: when the event count is not a
    # multiple of 100 the last block is partial, so i+1 / blk+50 can point
    # past the real id range — the oracle enumerates events only, and a
    # fabricated node would diverge at any non-round scale factor
    nodes = ev.select(i.alias("node"))
    edges = (
        fwd.unionByName(rev)
        .unionByName(cut)
        .join(nodes.select(F.col("node").alias("src")), "src", "semi")
        .join(nodes.select(F.col("node").alias("dst")), "dst", "semi")
    )
    comp = connected_components(edges)
    # a partial block consisting of only its start node has no edges at all;
    # connected_components omits edgeless nodes, and such a node is its own
    # block minimum — coalesce to self keeps the closed-form answer exact
    return (
        nodes.join(comp, "node", "left")
        .select("node", F.coalesce("component", F.col("node")).alias("component"))
        .orderBy("node")
    )


def q_dedup_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup ladder's grouping stage end-to-end: MinHash-LSH pairs
    (text-equality-pinned, as in hash_recall_pairs) → connected components →
    per-doc canonical keeper map (keep_id = min doc id of the transitive
    duplicate cluster — the keep-first policy). Text equality is transitive,
    so components == text groups and the oracle is a plain GROUP BY."""
    from pgosm_flex_spark.operators.components import dedup_keep_map

    docs = _dup_docs(spark, sf_dir)
    pairs = (
        dedup.minhash_lsh_pairs(docs, threshold=1.0)
        .join(_texts_of(docs, "doc_a"), "doc_a")
        .join(_texts_of(docs, "doc_b"), "doc_b")
        .filter(F.col("__t_doc_a") == F.col("__t_doc_b"))
        .select("doc_a", "doc_b")
    )
    return dedup_keep_map(pairs).orderBy("doc_id")


def q_audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio decode plumbing, value-checked on its closed-form metadata
    invariants (sample_rate / n_samples / duration derive from the row index;
    the signal stats rms/peak are exercised engine-side and covered by numpy
    oracles in pytest)."""
    from pgosm_flex_spark import fixtures
    from pgosm_flex_spark.images import ops as img_ops

    rows = fixtures.audio_df(spark, 500)
    stats = img_ops.audio_stats(rows)
    return stats.select(
        "audio_id", "sample_rate", "n_samples",
        F.round("duration_s", 6).alias("duration_s"), "decode_ok",
    ).orderBy("audio_id")


def q_video_frame_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing (random-access decode + per-frame
    explode), value-checked on the sampled frame index set and metadata."""
    from pgosm_flex_spark import fixtures
    from pgosm_flex_spark.images import ops as img_ops

    vids = fixtures.video_df(spark, 500)
    sampled = img_ops.sample_video_frames(vids, every_n=6)
    return sampled.select(
        "video_id", "frame", "n_frames", "fps", "w", "h"
    ).orderBy("video_id", "frame")


def q_image_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full decode + phash verify per image, projected to the columns a SQL
    oracle can recompute from the F1 formulas: w/h come from the DECODED
    array's shape (not the header metadata) and phash_ok/decode_ok require
    the round-trip to actually succeed, so a broken codec mismatches every
    row. mean_lum (noise-dependent, not SQL-expressible) stays covered by the
    PSNR/phash pytests."""
    from pgosm_flex_spark import fixtures
    from pgosm_flex_spark.images import ops as img_ops

    imgs = fixtures.images_df(spark, 500, with_pixels=True)
    stats = img_ops.decode_stats(imgs)
    return stats.select(
        "image_id", "w", "h", "fmt", "phash_ok", "decode_ok"
    ).orderBy("image_id")


def q_phash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup dedup by phash Hamming distance — the image member of
    the dedup ladder (images/neardup.py, pigeonhole-banded like SimHash).
    Structural-recall oracle: each event seeds a 4-variant family over an
    xxhash64 base — pha/phb identical (hamming 0), phc flips bit 0
    (hamming 1), phd flips one bit in each of bands 1-3 (band-0 candidate,
    hamming 3, REJECTED by the exact verify at max_hamming=2). The
    identical-value collapse (hamming_band_pairs) makes pha the
    representative of the {pha, phb} group, so the complete answer is
    exactly {(a,b,0),(a,c,1)} per family by construction — (b,c) arrives
    through the rep, cluster-equivalently (accidental cross-family
    hamming ≤ 2 between xxhash64 values is ~1e-8 over this corpus)."""
    from pgosm_flex_spark.images.neardup import phash_near_dup_pairs

    base = (
        td.load(spark, sf_dir, "events")
        .filter(F.col("event_id") < 5000)
        .select(
            F.xxhash64(F.col("event_id").cast("long")).alias("h"),
            F.lpad(F.col("event_id").cast("string"), 8, "0").alias("k"),
        )
    )
    h = F.col("h")
    variants = [
        ("pha", h),
        ("phb", h),
        ("phc", h.bitwiseXOR(F.lit(1))),
        # one bit in each of bands 1..3 (bits 16, 32, 48): band 0 intact
        ("phd", h.bitwiseXOR(F.lit(0x0001000100010000))),
    ]
    imgs = None
    for tag, expr in variants:
        part = base.select(
            F.concat(F.lit(tag), F.col("k")).alias("image_id"),
            expr.alias("phash"),
        )
        imgs = part if imgs is None else imgs.unionByName(part)
    return phash_near_dup_pairs(imgs, max_hamming=2).orderBy("id_a", "id_b")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "pip_city_counts": q_pip_city_counts,
        "pip_admin_rollup": q_pip_admin_rollup,
        "nested_admin_paths": q_nested_admin_paths,
        "concave_nested": q_concave_nested,
        "knn3_nearest_cities": q_knn3_nearest_cities,
        # both kNN keys run the one kNN operator
        "knn3_adaptive_cities": q_knn3_nearest_cities,
        "tile_counts_z12": q_tile_counts_z12,
        "cell_counts_res12": q_cell_counts_res12,
        "road_type_counts": q_road_type_counts,
        "road_major_counts": q_road_major_counts,
        "tags_geomtype_counts": q_tags_geomtype_counts,
        "layer_route_counts": q_layer_route_counts,
        "road_line_aggregates": q_road_line_aggregates,
        "place_type_counts": q_place_type_counts,
        "poi_type_subtype_counts": q_poi_type_subtype_counts,
        "scalar_roundtrip": q_scalar_roundtrip,
        "orders_status_counts": q_orders_status_counts,
        "top_customers_by_revenue": q_top_customers_by_revenue,
        "customers_without_orders": q_customers_without_orders,
        "lineitem_pricing_summary": q_lineitem_pricing_summary,
        "user_event_stats": q_user_event_stats,
        "doc_token_stats": q_doc_token_stats,
        "doc_quality": q_doc_quality,
        "lang_counts": q_lang_counts,
        "dup_group_tiers": q_dup_group_tiers,
        "word_jaccard_pairs": q_word_jaccard_pairs,
        "char_ngram_jaccard_pairs": q_char_ngram_jaccard_pairs,
        "embedding_near_dups": q_embedding_near_dups,
        "ann_self_top1_methods": q_ann_self_top1_methods,
        "ann_top3": q_ann_top3,
        "routing_edges": q_routing_edges,
        "routing_water_edges": q_routing_water_edges,
        "routing_vertex_degrees": q_routing_vertex_degrees,
        "route_time_rollup": q_route_time_rollup,
        "route_path_rollup": q_route_path_rollup,
        "pgosm_road_rows": q_pgosm_road_rows,
        "qgis_style_rows": q_qgis_style_rows,
        "srid_3857_points": q_srid_3857_points,
        "qc_features_not_in_layers": q_qc_features_not_in_layers,
        "qc_tag_suggestions": q_qc_tag_suggestions,
        "stream_first_seen": q_stream_first_seen,
        "hash_recall_pairs": q_hash_recall_pairs,
        "cc_block_components": q_cc_block_components,
        "dedup_canonical_docs": q_dedup_canonical_docs,
        "image_decode_stats": q_image_decode_stats,
        "phash_near_dups": q_phash_near_dups,
        "audio_meta": q_audio_meta,
        "video_frame_meta": q_video_frame_meta,
        **_golden_queries(),
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

def _oracle_spatial() -> dict[str, str]:
    plon, plat = td.POINT_LON_SQL, td.POINT_LAT_SQL
    cb = td.cell_bounds_sql("n_nationkey")
    sb = td.strip_bounds_sql("r_regionkey")
    pts = f"SELECT event_id, {plon} AS lon, {plat} AS lat FROM events"
    in_cell = (
        f"p.lon > {cb['x0']} AND p.lon < {cb['x1']} AND "
        f"p.lat > {cb['y0']} AND p.lat < {cb['y1']}"
    )
    in_strip = f"p.lon > {sb['x0']} AND p.lon < {sb['x1']}"

    pip_city = f"""
        WITH p AS ({pts})
        SELECT CAST(n_nationkey AS INT) AS city_key, COUNT(*) AS n_points
        FROM p, nation WHERE {in_cell}
        GROUP BY 1 ORDER BY 1
    """
    pip_rollup = f"""
        WITH p AS ({pts}),
        lvl2 AS (SELECT COUNT(*) AS n FROM p),
        lvl4 AS (SELECT COUNT(*) AS n FROM p, region WHERE {in_strip}),
        lvl8 AS (SELECT COUNT(*) AS n FROM p, nation WHERE {in_cell})
        SELECT 2 AS admin_level, n AS n_points FROM lvl2
        UNION ALL SELECT 4, n FROM lvl4
        UNION ALL SELECT 8, n FROM lvl8
        ORDER BY admin_level
    """
    nested = """
        SELECT 1 AS osm_id, CAST(1 AS BIGINT) AS nest_level, 'World' AS path,
               FALSE AS innermost
        UNION ALL
        SELECT 10 + r_regionkey, 2, 'World|' || r_name, FALSE FROM region
        UNION ALL
        SELECT 100 + n_nationkey, 3,
               'World|' || r.r_name || '|' || n.n_name, TRUE
        FROM nation n JOIN region r ON r.r_regionkey = n.n_nationkey % 5
        ORDER BY osm_id
    """
    # concave_world truth is id arithmetic: containers nest only themselves
    # (level 1, not innermost — children cite them); quadrant children q=0,2,3
    # nest under their container (level 2); q=1 (removed quadrant) and q=4
    # (straddler) nest only themselves
    concave = """
        SELECT 500 + n_nationkey AS osm_id, CAST(1 AS BIGINT) AS nest_level,
               FALSE AS innermost
        FROM nation
        UNION ALL
        SELECT 1000 + 8 * n_nationkey + q,
               CASE WHEN q IN (0, 2, 3) THEN 2 ELSE 1 END,
               TRUE
        FROM nation, (VALUES (0), (1), (2), (3), (4)) AS t(q)
        ORDER BY osm_id
    """
    dist = td.haversine_sql("p.lon", "p.lat", "c.lon", "c.lat")
    knn = f"""
        WITH p AS ({pts}),
        c AS (SELECT CAST(n_nationkey AS BIGINT) AS city_key,
                     (({cb['x0']} + {cb['x1']}) / 2) AS lon,
                     (({cb['y0']} + {cb['y1']}) / 2) AS lat
              FROM nation),
        ranked AS (
            SELECT p.event_id, c.city_key,
                   ROW_NUMBER() OVER (PARTITION BY p.event_id
                       ORDER BY {dist} ASC, c.city_key ASC) AS knn_rank
            FROM p, c WHERE p.event_id % 37 = 0)
        SELECT event_id, CAST(knn_rank AS INT) AS knn_rank,
               CAST(city_key AS INT) AS city_key
        FROM ranked WHERE knn_rank <= 3 ORDER BY event_id, knn_rank
    """
    from pgosm_flex_spark.index.tiles import tile_x_sql, tile_y_sql

    tiles12 = f"""
        WITH p AS ({pts})
        SELECT 12 AS z, {tile_x_sql('p.lon', 12)} AS x, {tile_y_sql('p.lat', 12)} AS y,
               COUNT(*) AS n
        FROM p GROUP BY 2, 3 ORDER BY z, x, y
    """
    cells9 = f"""
        WITH p AS ({pts})
        SELECT {td.cell_id_sql('p.lon', 'p.lat', 12)} AS cell, COUNT(*) AS n_points
        FROM p GROUP BY 1 ORDER BY 1
    """
    return {
        "pip_city_counts": pip_city,
        "pip_admin_rollup": pip_rollup,
        "nested_admin_paths": nested,
        "concave_nested": concave,
        "knn3_nearest_cities": knn,
        "knn3_adaptive_cities": knn,
        "tile_counts_z12": tiles12,
        "cell_counts_res12": cells9,
    }


def _oracle_layers() -> dict[str, str]:
    # tag families from td.CAPTION_SQL, reduced to CASE arithmetic.
    # road rows exist when event_id % 8 in 0..6 (7 has no highway tag)
    hw = """CASE CAST(event_id % 8 AS INT)
        WHEN 0 THEN 'motorway' WHEN 1 THEN 'primary' WHEN 2 THEN 'residential'
        WHEN 3 THEN 'footway' WHEN 4 THEN 'path' WHEN 5 THEN 'service'
        WHEN 6 THEN 'cycleway' END"""
    maxspeed = """CASE CAST(event_id % 5 AS INT)
        WHEN 0 THEN 30.0 WHEN 1 THEN 88.0 WHEN 3 THEN 23.5 END"""
    denied = "(event_id % 7 = 0 OR event_id % 7 = 1)"
    road_counts = f"""
        SELECT {hw} AS osm_type, COUNT(*) AS n FROM events
        WHERE event_id % 8 <> 7 GROUP BY 1 ORDER BY 1
    """
    road_aggs = f"""
        SELECT COUNT(*) AS n_total,
            COUNT({maxspeed}) AS n_maxspeed,
            COUNT(CASE WHEN event_id % 8 IN (0, 1) THEN 1 END) AS n_major,
            COUNT(CASE WHEN NOT {denied} AND event_id % 8 IN (2, 3, 4, 5) THEN 1 END) AS n_route_foot,
            COUNT(CASE WHEN NOT {denied} AND event_id % 8 IN (2, 4, 5, 6) THEN 1 END) AS n_route_cycle,
            COUNT(CASE WHEN NOT {denied} AND event_id % 8 IN (0, 1, 2, 5) THEN 1 END) AS n_route_motor
        FROM events WHERE event_id % 8 <> 7
    """
    place_counts = """
        SELECT CASE CAST(event_id % 9 AS INT)
                 WHEN 0 THEN 'city' WHEN 1 THEN 'suburb' ELSE 'boundary' END AS osm_type,
               COUNT(*) AS n
        FROM events WHERE event_id % 9 IN (0, 1, 2) GROUP BY 1 ORDER BY 1
    """
    # poi families (event_id % 11): 0 shop, 1 amenity=restaurant, 2 amenity=bench,
    # 3 building=yes (needs name: event_id % 6 in 0..3), 4 tourism, 5 natural=peak,
    # 6 natural=tree (rejected), 7 waterway (not poi), 8 landuse=cemetery
    poi_counts = """
        WITH poi AS (
            SELECT CASE CAST(event_id % 11 AS INT)
                     WHEN 0 THEN 'shop' WHEN 1 THEN 'amenity' WHEN 2 THEN 'amenity'
                     WHEN 3 THEN 'building' WHEN 4 THEN 'tourism'
                     WHEN 5 THEN 'natural' WHEN 8 THEN 'landuse' END AS osm_type,
                   CASE CAST(event_id % 11 AS INT)
                     WHEN 0 THEN 'deli' WHEN 1 THEN 'restaurant' WHEN 2 THEN 'bench'
                     WHEN 3 THEN 'yes' WHEN 4 THEN 'hotel'
                     WHEN 5 THEN 'peak' WHEN 8 THEN 'cemetery' END AS osm_subtype
            FROM events
            WHERE event_id % 11 IN (0, 1, 2, 4, 5, 8)
               OR (event_id % 11 = 3 AND event_id % 6 IN (0, 1, 2, 3)))
        SELECT osm_type, osm_subtype, COUNT(*) AS n FROM poi
        GROUP BY 1, 2 ORDER BY 1, 2
    """
    scalar = """
        SELECT event_id,
            CASE CAST(event_id % 6 AS INT)
              WHEN 0 THEN 'Main Street' WHEN 1 THEN 'East Road'
              WHEN 2 THEN 'shortN' WHEN 3 THEN 'oldN' ELSE '' END AS name,
            CAST(CASE CAST(event_id % 5 AS INT)
              WHEN 0 THEN 30.0 WHEN 1 THEN 88.0 WHEN 3 THEN 23.5 END AS DOUBLE) AS maxspeed,
            CAST(CASE WHEN event_id % 11 = 5 THEN 1955.0 END AS DOUBLE) AS ele_m,
            CASE CAST(event_id % 13 AS INT)
              WHEN 0 THEN '100 Main St, Washington'
              WHEN 1 THEN 'DC, 20001' ELSE '' END AS address,
            (NOT (event_id % 7 = 0 OR event_id % 7 = 1)
             AND event_id % 8 IN (0, 1, 2, 5)) AS route_motor
        FROM events WHERE event_id < 300 ORDER BY event_id
    """
    road_major = """
        SELECT CASE CAST(event_id % 8 AS INT)
                 WHEN 0 THEN 'motorway' WHEN 1 THEN 'primary' END AS osm_type,
               COUNT(*) AS n
        FROM events WHERE event_id % 8 IN (0, 1) GROUP BY 1 ORDER BY 1
    """
    tags_geom = """
        SELECT CASE WHEN event_id % 4 = 0 THEN 'N'
                    WHEN event_id % 4 = 3 THEN 'R' ELSE 'W' END AS geom_type,
               COUNT(*) AS n
        FROM events GROUP BY 1 ORDER BY 1
    """
    return {
        "road_type_counts": road_counts,
        "road_major_counts": road_major,
        "tags_geomtype_counts": tags_geom,
        "road_line_aggregates": road_aggs,
        "place_type_counts": place_counts,
        "poi_type_subtype_counts": poi_counts,
        "scalar_roundtrip": scalar,
    }


def _oracle_relational() -> dict[str, str]:
    return {
        "orders_status_counts": """
            SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY 1 ORDER BY 1
        """,
        "top_customers_by_revenue": """
            WITH rev AS (
                SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
                FROM orders GROUP BY 1),
            ranked AS (
                SELECT c.c_custkey, c.c_name, rev.revenue,
                       ROW_NUMBER() OVER (ORDER BY rev.revenue DESC, c.c_custkey ASC) AS rank
                FROM rev JOIN customer c ON c.c_custkey = rev.o_custkey)
            SELECT CAST(rank AS INT) AS rank, c_custkey, c_name,
                   CAST(revenue AS VARCHAR) AS revenue
            FROM ranked WHERE rank <= 10 ORDER BY rank
        """,
        "customers_without_orders": """
            SELECT c_custkey, c_name FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
            ORDER BY c_custkey
        """,
        "lineitem_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS sum_qty,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS sum_base_price,
                CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount), 4) AS DECIMAL(18,4))) AS VARCHAR) AS sum_disc_price,
                COUNT(*) AS count_order
            FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "user_event_stats": """
            SELECT user_id, COUNT(*) AS n_events,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS total_value,
                COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchases
            FROM events GROUP BY 1 ORDER BY 1
        """,
    }


def _oracle_docs() -> dict[str, str]:
    # whitespace tokens: split on any whitespace RUN, drop empties (mirrors
    # the engine's split on /\s+/ — Java regex and RE2 agree on ASCII \s)
    toks = r"list_filter(regexp_split_to_array(trim(text), '\s+'), w -> w <> '')"
    stop = "['the','a','of','and','to','in','is','it']"
    stop_cnt = f"len(list_filter({toks}, w -> list_contains({stop}, lower(w))))"
    toks_lower = r"list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), w -> w <> '')"
    # token-array count (mirrors word_occurrences: adjacent repeats count)
    occ = lambda w: f"CAST(len(list_filter({toks_lower}, t -> t = '{w}')) AS INT)"
    score = {
        lang: " + ".join(occ(w) for w in words)
        for lang, words in analysis.LANG_MARKERS.items()
    }
    pred_lang = f"""
        CASE WHEN ({score['en']}) + ({score['es']}) + ({score['zh']}) = 0 THEN 'und'
             WHEN ({score['es']}) > ({score['en']}) AND ({score['es']}) >= ({score['zh']}) THEN 'es'
             WHEN ({score['zh']}) > ({score['en']}) AND ({score['zh']}) > ({score['es']}) THEN 'zh'
             ELSE 'en' END
    """
    token_stats = f"""
        SELECT doc_id, CAST(len({toks}) AS INT) AS n_tokens,
               CAST(length(text) AS INT) AS n_chars,
               ROUND(CASE WHEN len({toks}) > 0
                     THEN CAST({stop_cnt} AS DOUBLE) / len({toks}) ELSE 0.0 END, 6) AS stop_ratio,
               {pred_lang} AS pred_lang
        FROM documents ORDER BY doc_id
    """
    lang_counts = f"""
        SELECT {pred_lang} AS pred_lang, COUNT(*) AS n FROM documents
        GROUP BY 1 ORDER BY 1
    """
    from pgosm_flex_spark.text.analysis import BPE_ISH_PATTERN

    ntok = f"len({toks})"
    mwl = f"""CASE WHEN {ntok} > 0
        THEN CAST(list_sum(list_transform({toks}, w -> length(w))) AS DOUBLE) / {ntok}
        ELSE 0.0 END"""
    stop_ratio = f"""CASE WHEN {ntok} > 0
        THEN CAST({stop_cnt} AS DOUBLE) / {ntok} ELSE 0.0 END"""
    quality = f"""(
        (CASE WHEN {ntok} >= 5 AND {ntok} <= 1000 THEN 1.0 ELSE 0.0 END)
        + (CASE WHEN ({stop_ratio}) > 0.05 AND ({stop_ratio}) < 0.6 THEN 1.0 ELSE 0.0 END)
        + (CASE WHEN ({mwl}) >= 2.0 AND ({mwl}) <= 12.0 THEN 1.0 ELSE 0.0 END)
    ) / 3.0"""
    doc_quality = f"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '{BPE_ISH_PATTERN}')) AS INT)
                   AS n_subtokens,
               ROUND({mwl}, 6) AS mean_word_len,
               ROUND({quality}, 6) AS quality
        FROM documents ORDER BY doc_id
    """
    dupdocs = """
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
    """
    dup_tiers = f"""
        WITH d AS ({dupdocs}),
        t AS (SELECT doc_id,
                     array_to_string({toks}, ' ') AS norm
              FROM d),
        e AS (SELECT 'exact' AS tier, MIN(doc_id) AS keep_id,
                     COUNT(*) AS n_dups
              FROM d GROUP BY text HAVING COUNT(*) > 1),
        f AS (SELECT 'fingerprint' AS tier, MIN(doc_id) AS keep_id,
                     COUNT(*) AS n_dups
              FROM t GROUP BY norm HAVING COUNT(*) > 1)
        SELECT * FROM e UNION ALL SELECT * FROM f ORDER BY tier, keep_id
    """
    jaccard = f"""
        WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
        w AS (SELECT doc_id, list_distinct({toks}) AS words FROM d),
        e AS (SELECT doc_id, len(words) AS n, unnest(words) AS word FROM w),
        shared AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS na, b.n AS nb,
                   COUNT(*) AS s
            FROM e a JOIN e b ON a.word = b.word AND a.doc_id < b.doc_id
            GROUP BY 1, 2, 3, 4)
        SELECT doc_a, doc_b,
               ROUND(CAST(s AS DOUBLE) / (na + nb - s), 6) AS jaccard
        FROM shared WHERE CAST(s AS DOUBLE) / (na + nb - s) >= 0.6
        ORDER BY doc_a, doc_b
    """
    ann3 = """
        WITH u AS (
            SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings),
        dots AS (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                   SUM(a.v * b.v) AS dot
            FROM u a JOIN u b ON a.i = b.i
            WHERE a.vec_id < 20 AND b.vec_id <> a.vec_id
            GROUP BY 1, 2),
        norms AS (
            SELECT vec_id, SQRT(SUM(v * v) + 1e-12) AS nrm FROM u GROUP BY 1),
        ranked AS (
            SELECT d.query_id, d.neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY d.query_id
                       ORDER BY d.dot / (nq.nrm * nn.nrm) DESC, d.neighbor_id ASC) AS rank
            FROM dots d
            JOIN norms nq ON nq.vec_id = d.query_id
            JOIN norms nn ON nn.vec_id = d.neighbor_id)
        SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id
        FROM ranked WHERE rank <= 3 ORDER BY query_id, rank
    """
    hash_recall = f"""
        WITH d AS ({dupdocs}),
        p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM d a JOIN d b ON a.text = b.text AND a.doc_id < b.doc_id)
        SELECT 'minhash' AS method, doc_a, doc_b FROM p
        UNION ALL SELECT 'simhash' AS method, doc_a, doc_b FROM p
        ORDER BY method, doc_a, doc_b
    """
    cc_blocks = """
        SELECT event_id AS node,
               CAST(FLOOR(event_id / 100) * 100 AS BIGINT) AS component
        FROM events ORDER BY node
    """
    canonical_docs = f"""
        WITH d AS ({dupdocs}),
        g AS (SELECT text, MIN(doc_id) AS keep_id, COUNT(*) AS n_in_group
              FROM d GROUP BY text HAVING COUNT(*) > 1)
        SELECT d.doc_id, g.keep_id, g.n_in_group
        FROM d JOIN g ON d.text = g.text ORDER BY d.doc_id
    """
    self_top1_methods = """
        SELECT m.method, e.vec_id + 1000000 AS query_id,
               CAST(1 AS INT) AS rank, e.vec_id AS neighbor_id
        FROM embeddings e
        CROSS JOIN (SELECT 'ivf' AS method UNION ALL SELECT 'lsh') m
        WHERE e.vec_id < 20 ORDER BY m.method, query_id
    """
    char_jaccard = """
        WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
        g AS (SELECT doc_id,
                     list_distinct(list_transform(
                         range(1, greatest(length(text) - 4, 1) + 1),
                         i -> substring(text, CAST(i AS INT), 5))) AS grams
              FROM d),
        e AS (SELECT doc_id, len(grams) AS n, unnest(grams) AS gram FROM g),
        shared AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS na, b.n AS nb,
                   COUNT(*) AS s
            FROM e a JOIN e b ON a.gram = b.gram AND a.doc_id < b.doc_id
            GROUP BY 1, 2, 3, 4)
        SELECT doc_a, doc_b,
               ROUND(CAST(s AS DOUBLE) / (na + nb - s), 6) AS jaccard
        FROM shared WHERE CAST(s AS DOUBLE) / (na + nb - s) >= 0.5
        ORDER BY doc_a, doc_b
    """
    emb_near_dups = """
        SELECT vec_id AS doc_a, vec_id + 1000000 AS doc_b,
               CAST(1.0 AS DOUBLE) AS cos
        FROM embeddings WHERE vec_id < 100 ORDER BY doc_a
    """
    return {
        "doc_token_stats": token_stats,
        "doc_quality": doc_quality,
        "lang_counts": lang_counts,
        "dup_group_tiers": dup_tiers,
        "word_jaccard_pairs": jaccard,
        "ann_top3": ann3,
        "hash_recall_pairs": hash_recall,
        "cc_block_components": cc_blocks,
        "dedup_canonical_docs": canonical_docs,
        "ann_self_top1_methods": self_top1_methods,
        "char_ngram_jaccard_pairs": char_jaccard,
        "embedding_near_dups": emb_near_dups,
    }


def _oracle_routing() -> dict[str, str]:
    # street grid: H street k (s_suppkey 0..4) at
    # y_k = LAT0 + (k+0.5)*CELL_H; V street k (keys 5..9) at
    # x_k = LON0 + (k-5+0.5)*STRIP_W. Engine quantizes blade coords to 1e-7°
    # — the oracle applies the same quantization to the crossing points.
    g = td.street_crossing_sql()
    q = "round(({v}) * 10000000) / 10000000.0"
    hy = g["hy"]
    vx = g["vx"]
    lon0, lon1 = td.LON0, td.LON0 + td.LON_SPAN
    lat0, lat1 = td.LAT0, td.LAT0 + td.LAT_SPAN
    hav_h = td.haversine_sql("a.bx", "e.y", "b.bx", "e.y")
    hav_v = td.haversine_sql("e.x", "a.by", "e.x", "b.by")
    # lookup speeds: residential (H) 40.2336, primary (V) 96.56064
    edges = f"""
        WITH h AS (SELECT s_suppkey AS k FROM supplier WHERE s_suppkey < 5),
        v AS (SELECT s_suppkey AS k FROM supplier WHERE s_suppkey BETWEEN 5 AND 9),
        hb AS (
            SELECT h.k, {q.format(v=vx.replace('(k)', '(v.k)'))} AS bx FROM h, v
            UNION ALL SELECT k, {lon0} FROM h
            UNION ALL SELECT k, {lon1} FROM h),
        hseq AS (SELECT k, bx, ROW_NUMBER() OVER (PARTITION BY k ORDER BY bx) - 1 AS seq FROM hb),
        he AS (SELECT a.k, a.seq, a.bx, b.bx AS bx1 FROM hseq a
               JOIN hseq b ON b.k = a.k AND b.seq = a.seq + 1),
        vb AS (
            SELECT v.k, {q.format(v=hy.replace('(k)', '(h.k)'))} AS by FROM v, h
            UNION ALL SELECT k, {lat0} FROM v
            UNION ALL SELECT k, {lat1} FROM v),
        vseq AS (SELECT k, by, ROW_NUMBER() OVER (PARTITION BY k ORDER BY by) - 1 AS seq FROM vb),
        ve AS (SELECT a.k, a.seq, a.by, b.by AS by1 FROM vseq a
               JOIN vseq b ON b.k = a.k AND b.seq = a.seq + 1),
        lens AS (
            SELECT k AS osm_id, CAST(seq AS INT) AS seq,
                   {td.haversine_sql('bx', hy.replace('(k)', '(k)'), 'bx1', hy.replace('(k)', '(k)'))} AS len,
                   40.2336 AS speed
            FROM he
            UNION ALL
            SELECT k, CAST(seq AS INT),
                   {td.haversine_sql(vx.replace('(k)', '(k)'), 'by', vx.replace('(k)', '(k)'), 'by1')},
                   96.56064
            FROM ve)
        SELECT osm_id, seq, ROUND(len, 3) AS len_m,
               ROUND(len * 3.6 / speed, 2) AS secs_fwd
        FROM lens ORDER BY osm_id, seq
    """
    # waterway graph: identical grid geometry (water_ways reuses the street
    # grid as rivers/canals), so the same crossing CTEs apply; costs are
    # length-only, reverse = -length (routing_functions.sql:482-496)
    water_edges = f"""
        WITH h AS (SELECT s_suppkey AS k FROM supplier WHERE s_suppkey < 5),
        v AS (SELECT s_suppkey AS k FROM supplier WHERE s_suppkey BETWEEN 5 AND 9),
        hb AS (
            SELECT h.k, {q.format(v=vx.replace('(k)', '(v.k)'))} AS bx FROM h, v
            UNION ALL SELECT k, {lon0} FROM h
            UNION ALL SELECT k, {lon1} FROM h),
        hseq AS (SELECT k, bx, ROW_NUMBER() OVER (PARTITION BY k ORDER BY bx) - 1 AS seq FROM hb),
        he AS (SELECT a.k, a.seq, a.bx, b.bx AS bx1 FROM hseq a
               JOIN hseq b ON b.k = a.k AND b.seq = a.seq + 1),
        vb AS (
            SELECT v.k, {q.format(v=hy.replace('(k)', '(h.k)'))} AS by FROM v, h
            UNION ALL SELECT k, {lat0} FROM v
            UNION ALL SELECT k, {lat1} FROM v),
        vseq AS (SELECT k, by, ROW_NUMBER() OVER (PARTITION BY k ORDER BY by) - 1 AS seq FROM vb),
        ve AS (SELECT a.k, a.seq, a.by, b.by AS by1 FROM vseq a
               JOIN vseq b ON b.k = a.k AND b.seq = a.seq + 1),
        lens AS (
            SELECT k AS osm_id, CAST(seq AS INT) AS seq,
                   {td.haversine_sql('bx', hy.replace('(k)', '(k)'), 'bx1', hy.replace('(k)', '(k)'))} AS len
            FROM he
            UNION ALL
            SELECT k, CAST(seq AS INT),
                   {td.haversine_sql(vx.replace('(k)', '(k)'), 'by', vx.replace('(k)', '(k)'), 'by1')}
            FROM ve)
        SELECT osm_id, seq, 'water-' || CAST(osm_id AS VARCHAR) AS name,
               ROUND(len, 3) AS cost_len,
               ROUND(len, 3) AS cost_fwd,
               ROUND(-1 * len, 3) AS cost_rev
        FROM lens ORDER BY osm_id, seq
    """
    degrees = """
        SELECT CAST(1 AS BIGINT) AS degree,
               CAST(2 * (SELECT COUNT(*) FROM supplier WHERE s_suppkey < 10) AS BIGINT) AS n_vertices
        UNION ALL
        SELECT 4, CAST((SELECT COUNT(*) FROM supplier WHERE s_suppkey < 5)
               * (SELECT COUNT(*) FROM supplier WHERE s_suppkey BETWEEN 5 AND 9) AS BIGINT)
        ORDER BY degree
    """
    from pgosm_flex_spark.sources.lookup import ROADS_US

    vals = ",\n".join(
        f"('United States', '{t}', {m}, {ft}, {c}, {ms}, {tp})"
        for t, m, ft, c, ms, tp in ROADS_US
    )
    road_rows = f"""
        WITH r(region, osm_type, route_motor, route_foot, route_cycle,
               maxspeed, traffic_penalty_normal) AS (VALUES {vals})
        SELECT region, osm_type, route_motor, route_foot, route_cycle,
               CAST(maxspeed AS DOUBLE) AS maxspeed,
               CAST(traffic_penalty_normal AS DOUBLE) AS traffic_penalty_normal,
               ROUND(CAST(maxspeed AS DOUBLE) / 1.609344, 2) AS maxspeed_mph
        FROM r ORDER BY osm_type
    """
    # rows in no layer: no highway (id%8=7), no place family (id%9 not in
    # 0..2), and either no poi/water/landuse key at all (id%11 in 9,10) or a
    # building=yes OPEN way with no name (id%11=3, id%6 in 4,5): building
    # tables take only nodes/closed ways, and poi rejects unnamed buildings.
    # addr-only rows on open ways land nowhere either way (point/polygon-only
    # tables), so %13 does not matter.
    qc = """
        SELECT event_id FROM events
        WHERE event_id % 8 = 7 AND event_id % 9 NOT IN (0, 1, 2)
          AND (
            (event_id % 11 IN (9, 10)
             -- fully tagless rows never enter the tags table at all
             AND (event_id % 6 IN (0, 1, 2, 3) OR event_id % 5 IN (0, 1, 2, 3)
                  OR event_id % 7 IN (0, 1, 2) OR event_id % 13 IN (0, 1)))
            OR (event_id % 11 = 3 AND event_id % 6 IN (4, 5)))
        ORDER BY event_id
    """
    # convergence-truth SSSP: |V|-1 = 44 materialized Bellman-Ford rounds
    # (grid has 45 vertices: 25 crossings + 20 endpoints), which for
    # non-negative weights IS the converged fixpoint the engine's
    # shortest_paths() iterates to. Vertex keys are the quantized coordinates
    # (the engine's vertex ids are coordinate content hashes); edge weights
    # use the same haversine * (3.6 / lookup_speed) expression as the engine.
    # Every round is AS MATERIALIZED or DuckDB inlines the chain
    # exponentially.
    q = "round(({v}) * 10000000) / 10000000.0"
    arcs_sql = f"""
        harc AS (
            SELECT {q.format(v='x0')} AS ax, {q.format(v=hy.replace('(k)', '(k)'))} AS ay,
                   {q.format(v='x1')} AS bx, {q.format(v=hy.replace('(k)', '(k)'))} AS by,
                   {td.haversine_sql('x0', hy, 'x1', hy)} * (3.6 / 40.2336) AS w
            FROM (SELECT a.k, a.bx AS x0, b.bx AS x1 FROM hseq a
                  JOIN hseq b ON b.k = a.k AND b.seq = a.seq + 1)),
        varc AS (
            SELECT {q.format(v=vx)} AS ax, {q.format(v='y0')} AS ay,
                   {q.format(v=vx)} AS bx, {q.format(v='y1')} AS by,
                   {td.haversine_sql(vx, 'y0', vx, 'y1')} * (3.6 / 96.56064) AS w
            FROM (SELECT a.k, a.by AS y0, b.by AS y1 FROM vseq a
                  JOIN vseq b ON b.k = a.k AND b.seq = a.seq + 1)),
        arcs AS MATERIALIZED (
            SELECT ax, ay, bx, by, w FROM harc
            UNION ALL SELECT bx, by, ax, ay, w FROM harc
            UNION ALL SELECT ax, ay, bx, by, w FROM varc
            UNION ALL SELECT bx, by, ax, ay, w FROM varc),
        verts AS (SELECT DISTINCT ax AS vx0, ay AS vy0 FROM
                  (SELECT ax, ay FROM arcs UNION SELECT bx, by FROM arcs)),
        d0 AS (SELECT vx0 AS vx, vy0 AS vy, 0.0 AS d FROM verts
               ORDER BY vx0, vy0 LIMIT 1)"""
    n_rounds = 44
    rounds = []
    for i in range(n_rounds):
        rounds.append(f"""
        d{i + 1} AS MATERIALIZED (
            SELECT vx, vy, MIN(d) AS d FROM (
                SELECT vx, vy, d FROM d{i}
                UNION ALL
                SELECT a.bx, a.by, t.d + a.w FROM d{i} t
                JOIN arcs a ON a.ax = t.vx AND a.ay = t.vy
            ) GROUP BY vx, vy)""")
    # predecessor-carrying variant of the same DP: struct-min over
    # (d, hops, pred_x, pred_y) mirrors the engine's
    # min(struct(dist, hops, pred_vertex, pred_edge)) round aggregate
    p0 = """
        p0 AS (SELECT vx0 AS vx, vy0 AS vy, 0.0 AS d, 0 AS h,
                      CAST(NULL AS DOUBLE) AS px, CAST(NULL AS DOUBLE) AS py
               FROM verts ORDER BY vx0, vy0 LIMIT 1)"""
    prounds = []
    for i in range(n_rounds):
        prounds.append(f"""
        p{i + 1} AS MATERIALIZED (
            SELECT vx, vy, s['d'] AS d, s['h'] AS h, s['px'] AS px, s['py'] AS py
            FROM (
                SELECT vx, vy, MIN({{'d': d, 'h': h, 'px': px, 'py': py}}) AS s
                FROM (
                    SELECT vx, vy, d, h, px, py FROM p{i}
                    UNION ALL
                    SELECT a.bx, a.by, t.d + a.w, t.h + 1, t.vx, t.vy FROM p{i} t
                    JOIN arcs a ON a.ax = t.vx AND a.ay = t.vy
                ) GROUP BY vx, vy))""")
    fmt = (
        "CAST(CAST(ROUND({x} * 10000000) AS BIGINT) AS VARCHAR) || ':' || "
        "CAST(CAST(ROUND({y} * 10000000) AS BIGINT) AS VARCHAR)"
    )
    route_rollup = f"""
        WITH hh AS (SELECT s_suppkey AS k FROM supplier WHERE s_suppkey < 5),
        v AS (SELECT s_suppkey AS k FROM supplier WHERE s_suppkey BETWEEN 5 AND 9),
        hb AS (
            SELECT hh.k, {q.format(v=vx.replace('(k)', '(v.k)'))} AS bx FROM hh, v
            UNION ALL SELECT k, {td.LON0} FROM hh
            UNION ALL SELECT k, {td.LON0 + td.LON_SPAN} FROM hh),
        hseq AS (SELECT k, bx, ROW_NUMBER() OVER (PARTITION BY k ORDER BY bx) - 1 AS seq FROM hb),
        vb AS (
            SELECT v.k, {q.format(v=hy.replace('(k)', '(hh.k)'))} AS by FROM v, hh
            UNION ALL SELECT k, {td.LAT0} FROM v
            UNION ALL SELECT k, {td.LAT0 + td.LAT_SPAN} FROM v),
        vseq AS (SELECT k, by, ROW_NUMBER() OVER (PARTITION BY k ORDER BY by) - 1 AS seq FROM vb),
        {arcs_sql},
        {','.join(rounds)}
        SELECT vx AS lon, vy AS lat, ROUND(d, 2) AS secs FROM d{n_rounds}
        ORDER BY lon, lat
    """
    grid_ctes = f"""
        hh AS (SELECT s_suppkey AS k FROM supplier WHERE s_suppkey < 5),
        v AS (SELECT s_suppkey AS k FROM supplier WHERE s_suppkey BETWEEN 5 AND 9),
        hb AS (
            SELECT hh.k, {q.format(v=vx.replace('(k)', '(v.k)'))} AS bx FROM hh, v
            UNION ALL SELECT k, {td.LON0} FROM hh
            UNION ALL SELECT k, {td.LON0 + td.LON_SPAN} FROM hh),
        hseq AS (SELECT k, bx, ROW_NUMBER() OVER (PARTITION BY k ORDER BY bx) - 1 AS seq FROM hb),
        vb AS (
            SELECT v.k, {q.format(v=hy.replace('(k)', '(hh.k)'))} AS by FROM v, hh
            UNION ALL SELECT k, {td.LAT0} FROM v
            UNION ALL SELECT k, {td.LAT0 + td.LAT_SPAN} FROM v),
        vseq AS (SELECT k, by, ROW_NUMBER() OVER (PARTITION BY k ORDER BY by) - 1 AS seq FROM vb)"""
    route_path_rollup = f"""
        WITH RECURSIVE {grid_ctes},
        {arcs_sql.replace('d0 AS', '__unused_d0 AS')},
        {p0},
        {','.join(prounds)},
        walk AS (
            SELECT vx AS tx, vy AS ty, d, h, vx AS cx, vy AS cy,
                   {fmt.format(x='vx', y='vy')} AS path
            FROM p{n_rounds}
            UNION ALL
            SELECT w.tx, w.ty, w.d, w.h, p.px, p.py,
                   {fmt.format(x='p.px', y='p.py')} || '>' || w.path
            FROM walk w JOIN p{n_rounds} p ON p.vx = w.cx AND p.vy = w.cy
            WHERE p.px IS NOT NULL
        )
        SELECT w.tx AS lon, w.ty AS lat, ROUND(w.d, 2) AS secs,
               CAST(w.h AS BIGINT) AS segs, w.path AS path
        FROM walk w JOIN p{n_rounds} p ON p.vx = w.cx AND p.vy = w.cy
        WHERE p.px IS NULL ORDER BY lon, lat
    """
    return {
        "routing_edges": edges,
        "routing_water_edges": water_edges,
        "routing_vertex_degrees": degrees,
        "route_time_rollup": route_rollup,
        "route_path_rollup": route_path_rollup,
        "pgosm_road_rows": road_rows,
        "srid_3857_points": """
            WITH e AS (
                SELECT CAST(event_id AS BIGINT) AS event_id,
                       CAST(event_id % 360 AS DOUBLE) - 179.5 AS lon,
                       CAST(event_id % 120 AS DOUBLE) - 59.5 AS lat
                FROM events
            )
            SELECT event_id,
                   CAST(ROUND(6378137.0 * radians(lon) * 1000) AS BIGINT) AS x_mm,
                   CAST(ROUND(6378137.0 * ln(tan(pi()/4 + radians(lat)/2)) * 1000) AS BIGINT) AS y_mm,
                   CAST(ROUND(lon * 1000000) AS BIGINT) AS lon_back_udeg,
                   CAST(ROUND(lat * 1000000) AS BIGINT) AS lat_back_udeg
            FROM e ORDER BY event_id
        """,
        "qgis_style_rows": """
            WITH s(id, f_table_catalog, f_table_schema, f_table_name,
                   f_geometry_column, stylename, useasdefault, description,
                   type) AS (VALUES
                (7, 'pgosm', 'osm', 'road_line', 'geom', 'osm_road_line',
                 true, 'user tweak', 'Normal'),
                (8, 'pgosm', 'osm', 'building_polygon', 'geom',
                 'osm_building_polygon', true,
                 'placeholder osm_building_polygon', 'Normal'),
                (9, 'pgosm', 'osm', 'landuse_polygon', 'geom',
                 'osm_landuse_polygon', true,
                 'placeholder osm_landuse_polygon', 'Normal'),
                (10, 'pgosm', 'osm', 'vplace_polygon', 'geom',
                 'place_polygon', true, 'placeholder place_polygon', 'Normal')
            )
            SELECT CAST(id AS INTEGER) AS id, f_table_catalog,
                   f_table_schema, f_table_name, f_geometry_column,
                   stylename, useasdefault, description, type
            FROM s ORDER BY id
        """,
        "qc_features_not_in_layers": qc,
    }


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    out.update(_oracle_spatial())
    out.update(_oracle_layers())
    out.update(_oracle_relational())
    out.update(_oracle_docs())
    out.update(_oracle_routing())
    out.update(_oracle_golden())
    out["layer_route_counts"] = _oracle_route_counts()
    out["qc_tag_suggestions"] = _oracle_qc_suggestions()
    out["stream_first_seen"] = """
        SELECT CAST(event_id % 97 AS BIGINT) AS phash,
               MIN('i' || CAST(event_id AS VARCHAR)) AS image_id
        FROM events GROUP BY 1 ORDER BY 1
    """
    # multimodal metadata invariants are closed-form in the row index
    out["audio_meta"] = """
        WITH a AS (
            SELECT event_id AS i,
                   CASE WHEN event_id % 3 = 0 THEN 8000 ELSE 16000 END AS sr,
                   0.5 + CAST(event_id % 4 AS DOUBLE) * 0.25 AS secs
            FROM events WHERE event_id < 500)
        SELECT 'aud' || lpad(CAST(i AS VARCHAR), 12, '0') AS audio_id,
               CAST(sr AS INT) AS sample_rate,
               CAST(CAST(sr * secs AS BIGINT) AS BIGINT) AS n_samples,
               ROUND(CAST(sr * secs AS BIGINT) / CAST(sr AS DOUBLE), 6) AS duration_s,
               TRUE AS decode_ok
        FROM a ORDER BY audio_id
    """
    out["video_frame_meta"] = """
        WITH v AS (
            SELECT event_id AS i,
                   CAST(6 + (event_id % 3) * 6 AS INT) AS nf
            FROM events WHERE event_id < 500)
        SELECT 'vid' || lpad(CAST(i AS VARCHAR), 12, '0') AS video_id,
               CAST(unnest(range(0, nf, 6)) AS INT) AS frame,
               nf AS n_frames, CAST(6 AS INT) AS fps,
               CAST(32 AS INT) AS w, CAST(32 AS INT) AS h
        FROM v ORDER BY video_id, frame
    """
    # image_decode_stats: w/h/fmt follow the F1 fixture formulas
    # (fixtures.py image_dims/image_fmt); the engine reads w/h off the
    # DECODED array and phash_ok/decode_ok off a real round-trip, so any
    # codec breakage mismatches. mean_lum (seeded-noise dependent) is not
    # SQL-expressible and is excluded from the oracle-facing projection —
    # per-pixel fidelity is pinned by the PSNR/phash pytests instead.
    out["image_decode_stats"] = """
        SELECT 'img' || lpad(CAST(event_id AS VARCHAR), 12, '0') AS image_id,
               CAST(64 + (event_id % 4) * 32 AS INT) AS w,
               CAST(64 + (event_id % 3) * 32 AS INT) AS h,
               CASE WHEN event_id % 3 = 0 THEN 'png' ELSE 'jpeg' END AS fmt,
               TRUE AS phash_ok, TRUE AS decode_ok
        FROM events WHERE event_id < 500 ORDER BY image_id
    """
    # phash_near_dups: structural-recall oracle (see q_phash_near_dups) —
    # each event family plants 4 phash variants whose pairwise Hamming
    # distances are fixed by construction; pha/phb are identical, so the
    # identical-value collapse emits (pha, phb, 0) as a rep-star row and
    # only pha (the rep) joins phc at hamming 1 — (phb, phc) arrives via
    # the rep, cluster-equivalently. Enumerable without recomputing
    # xxhash64 (cross-family 64-bit near-collisions ~1e-8, deterministic).
    out["phash_near_dups"] = """
        WITH k AS (
            SELECT lpad(CAST(event_id AS VARCHAR), 8, '0') AS k
            FROM events WHERE event_id < 5000)
        SELECT * FROM (
            SELECT 'pha' || k AS id_a, 'phb' || k AS id_b,
                   CAST(0 AS INT) AS hamming FROM k
            UNION ALL
            SELECT 'pha' || k, 'phc' || k, CAST(1 AS INT) FROM k)
        ORDER BY id_a, id_b
    """
    return out
