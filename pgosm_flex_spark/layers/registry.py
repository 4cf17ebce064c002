"""Declarative layer registry — the Spark re-expression of the Lua flex styles.

The reference streams every OSM object through chained per-layer Lua callbacks
(`process_node/way/relation`, e.g. /root/reference/flex-config/style/road.lua:250-284)
that filter on tags and insert projected rows into typed tables, one filter
and one projection per table. Here each of the 44 tables of the 20 layers is
declared exactly once, in :func:`_table_spec`: a membership predicate (a
boolean Column over the osm-objects frame) and an ordered projection (output
column → Column), both native column expressions. Everything else derives
from that spec:

- :func:`build_layer_tables` — one DataFrame per table,
  ``osm.filter(pred).select(cols)``; callers cache the shared input and
  Catalyst pushes each predicate into its scan.
- :func:`layer_table_predicates` / :func:`layer_table_columns` — the spec
  itself, which layers/router.py fuses into ONE routed pass over all tables.

No callbacks, no per-object hops.

Input contract (the "osm objects" frame):

    osm_id      long      — negative for relations (osm2pgsql convention)
    geom_type   string    — 'N' | 'W' | 'R'
    is_closed   boolean   — ways only (first vertex == last)
    area_tag    derived from tags
    tags        map<string,string>
    lon, lat    double    — point geometry (nodes / graft image rows)
    geom_wkb    binary    — way/relation geometry (nullable for nodes)
    member_ids  array<long> — relations only, else NULL

Layersets mirror /root/reference/flex-config/layerset/{minimal,basic,default,
everything}.ini; which layers run is a subset selection, exactly the
reference's INI gate (/root/reference/flex-config/layerset.lua:26-28).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pgosm_flex_spark.functions import scalars as sc
from pgosm_flex_spark.functions import tags as tagf

T = sc.t  # tags[key] accessor


# ---------------------------------------------------------------------------
# geometry routing predicates (SURVEY.md P19)
# ---------------------------------------------------------------------------

def _is_node() -> Column:
    return F.col("geom_type") == "N"


def _is_way() -> Column:
    return F.col("geom_type") == "W"


def _is_rel() -> Column:
    return F.col("geom_type") == "R"


def _closed() -> Column:
    return F.coalesce(F.col("is_closed"), F.lit(False))


def _rel_is_poly() -> Column:
    """Relations kept only when type ∈ {multipolygon, boundary}
    (/root/reference/flex-config/style/poi.lua:197-212 et al.)."""
    return T(F.col("tags"), "type").isin("multipolygon", "boundary")


_BASE_COLS = ["osm_id", "geom_type", "lon", "lat", "geom_wkb"]


# ---------------------------------------------------------------------------
# place (/root/reference/flex-config/style/place.lua:60-176)
# ---------------------------------------------------------------------------

def _place_filter() -> Column:
    t = F.col("tags")
    return T(t, "place").isNotNull() | T(t, "boundary").isNotNull() | T(t, "admin_level").isNotNull()


def _place_cols(name: Column) -> dict[str, Column]:
    t = F.col("tags")
    osm_type = (
        F.when(T(t, "place").isNotNull(), T(t, "place"))
        .when(T(t, "boundary").isNotNull(), F.lit("boundary"))
        .otherwise(F.lit("admin_level"))
    )
    return {
        "osm_type": osm_type,
        "boundary": T(t, "boundary"),
        "admin_level": sc.parse_admin_level(T(t, "admin_level")),
        "name": name,
    }


# ---------------------------------------------------------------------------
# road / road_major (/root/reference/flex-config/style/road.lua:80-245,
# road_major.lua)
# ---------------------------------------------------------------------------

def _road_common(t: Column, name: Column) -> dict[str, Column]:
    return {
        "name": name,
        "osm_type": T(t, "highway"),
        "ref": sc.get_ref(t),
        "maxspeed": sc.parse_speed(T(t, "maxspeed")),
        "layer": sc.parse_layer_value(T(t, "layer")),
        "tunnel": T(t, "tunnel"),
        "bridge": T(t, "bridge"),
        "access": T(t, "access"),
    }


def _road_routable(t: Column) -> dict[str, Column]:
    return {
        "major": sc.major_road(T(t, "highway")),
        "route_foot": sc.routable_foot(t),
        "route_cycle": sc.routable_cycle(t),
        "route_motor": sc.routable_motor(t),
    }


def _road_is_area() -> Column:
    """area='yes' or indoor='room' routes ways to road_polygon (road.lua:141-143)."""
    t = F.col("tags")
    # coalesce to false: absent tags give NULL, and filter(~NULL) would drop
    # every normal road under SQL three-valued logic
    return F.coalesce((T(t, "area") == "yes") | (T(t, "indoor") == "room"), F.lit(False))


# ---------------------------------------------------------------------------
# poi (/root/reference/flex-config/style/poi.lua,
# poi_helpers.lua:3-141)
# ---------------------------------------------------------------------------

POI_FIRST_LEVEL_KEYS = [
    "building", "shop", "amenity", "leisure", "man_made", "tourism",
    "landuse", "natural", "historic",
]
_POI_LANDUSE = ["cemetery", "orchard", "railway", "village_green", "vineyard"]
_POI_MAN_MADE = [
    "beacon", "chimney", "communications_tower", "crane", "flagpole",
    "lighthouse", "mast", "obelisk", "observatory", "offshore_platform",
    "pier", "silo", "survey_point", "telescope", "tower", "water_tap",
    "water_tower", "water_well", "windmill", "works",
]
_POI_NATURAL = ["peak", "glacier", "reef", "hot_spring", "bay"]


def _poi_filter(name: Column) -> Column:
    t = F.col("tags")
    first = sc.has_any_key(t, POI_FIRST_LEVEL_KEYS)
    # second_level_tag_check_poi (poi_helpers.lua:104-121)
    natural_ok = T(t, "natural").isNull() | T(t, "natural").isin(_POI_NATURAL)
    landuse_ok = T(t, "landuse").isNull() | T(t, "landuse").isin(_POI_LANDUSE)
    # operator (one map probe) before the get_name chain: OR is commutative
    # (incl. three-valued) and evaluates left-to-right, so most building
    # rows never reach the name-coalesce / last-ditch scan
    building_ok = T(t, "building").isNull() | T(t, "operator").isNotNull() | (name != "")
    man_made_ok = T(t, "man_made").isNull() | T(t, "man_made").isin(_POI_MAN_MADE)
    return first & natural_ok & landuse_ok & building_ok & man_made_ok


def _poi_cols(name: Column) -> dict[str, Column]:
    t = F.col("tags")
    # priority CASE (poi_helpers.lua:124-141): shop > amenity > building >
    # leisure > landuse > natural > man_made > tourism > historic > Unknown
    pairs = [
        ("shop", "shop"), ("amenity", "amenity"), ("building", "building"),
        ("leisure", "leisure"), ("landuse", "landuse"), ("natural", "natural"),
        ("man_made", "man_made"), ("tourism", "tourism"), ("historic", "historic"),
    ]
    osm_type = F.lit("Unknown")
    osm_subtype = F.lit("Unknown")
    expr_type = None
    expr_sub = None
    for label, key in reversed(pairs):
        cond = T(t, key).isNotNull()
        expr_type = F.when(cond, F.lit(label)).otherwise(
            expr_type if expr_type is not None else osm_type
        )
        expr_sub = F.when(cond, T(t, key)).otherwise(
            expr_sub if expr_sub is not None else osm_subtype
        )
    return {
        "osm_type": expr_type,
        "osm_subtype": expr_sub,
        "name": name,
        "housenumber": T(t, "addr:housenumber"),
        "street": T(t, "addr:street"),
        "city": T(t, "addr:city"),
        "state": T(t, "addr:state"),
        "postcode": T(t, "addr:postcode"),
        "address": sc.get_address(t),
        "operator": T(t, "operator"),
    }


# ---------------------------------------------------------------------------
# building (/root/reference/flex-config/style/building.lua,
# building_helpers.lua:5-80)
# ---------------------------------------------------------------------------

BUILDING_FIRST_LEVEL_KEYS = ["building", "building:part", "office", "door", "entrance"]
_ADDR_EXCLUDE_KEYS = [
    "shop", "amenity", "building", "building:part", "landuse", "leisure",
    "office", "tourism", "boundary", "natural", "aeroway", "demolished",
]


_KEY_SEP = "\x01"


def _has_key_prefix(t: Column, prefix: str) -> Column:
    """True iff any tag key starts with ``prefix`` — the codegen-able
    formulation: the key list is joined on a \\u0001 sentinel (with leading/
    trailing sentinels) and probed with one substring search for
    ``\\u0001<prefix>``. Exactly equivalent to the higher-order
    ``exists(map_keys, startswith)`` for every corpus whose tag KEYS do not
    contain the \\u0001 control byte (OSM keys are human-entered text; the
    fixture + oracle corpora never produce control bytes). The HOF version is
    CodegenFallback, and one fallback expression inside a Filter evicts the
    entire stage from whole-stage codegen — measured as the building
    branches of the 44-table union running interpreted (~0.8 s of the
    bench's layer-mapping count)."""
    blob = F.concat(
        F.lit(_KEY_SEP), F.array_join(F.map_keys(t), _KEY_SEP), F.lit(_KEY_SEP)
    )
    return F.contains(blob, F.lit(_KEY_SEP + prefix))


def _address_only(t: Column) -> Column:
    """address_only_building (building_helpers.lua:5-34): no excluded keys and
    at least one addr:* key."""
    no_excluded = ~sc.has_any_key(t, _ADDR_EXCLUDE_KEYS)
    return no_excluded & _has_key_prefix(t, "addr:")


def _building_filter() -> Column:
    t = F.col("tags")
    return sc.has_any_key(t, BUILDING_FIRST_LEVEL_KEYS) | _address_only(t)


def _building_cols(name: Column) -> dict[str, Column]:
    t = F.col("tags")
    osm_type = (
        F.when(T(t, "building").isNotNull(), F.lit("building"))
        .when(T(t, "building:part").isNotNull(), F.lit("building_part"))
        .when(T(t, "office").isNotNull(), F.lit("office"))
        .when(_address_only(t), F.lit("address"))
        .when(T(t, "entrance").isNotNull(), F.lit("entrance"))
        .when(T(t, "door").isNotNull(), F.lit("door"))
        .otherwise(F.lit("unknown"))
    )
    osm_subtype = (
        F.when(T(t, "building").isNotNull(), T(t, "building"))
        .when(T(t, "building:part").isNotNull(), T(t, "building:part"))
        .when(T(t, "office").isNotNull(), T(t, "office"))
        .when(_address_only(t), F.lit(None).cast("string"))
        .when(T(t, "entrance").isNotNull(), T(t, "entrance"))
        .when(T(t, "door").isNotNull(), T(t, "door"))
        .otherwise(F.lit(None).cast("string"))
    )
    return {
        "osm_type": osm_type,
        "osm_subtype": osm_subtype,
        "name": name,
        "levels": T(t, "building:levels").try_cast("int"),
        "height": sc.parse_to_meters(F.coalesce(T(t, "height"), T(t, "building:height"))),
        "housenumber": T(t, "addr:housenumber"),
        "street": T(t, "addr:street"),
        "city": T(t, "addr:city"),
        "state": T(t, "addr:state"),
        "postcode": T(t, "addr:postcode"),
        "address": sc.get_address(t),
        "wheelchair": T(t, "wheelchair"),
        "wheelchair_desc": sc.get_wheelchair_desc(t),
    }


# ---------------------------------------------------------------------------
# water (/root/reference/flex-config/style/water.lua:67-180)
# ---------------------------------------------------------------------------

WATER_NATURAL_VALUES = [
    "water", "lake", "hot_spring", "waterfall", "wetland", "swamp",
    "water_meadow", "waterway", "spring",
]


def _water_cols(name: Column) -> dict[str, Column]:
    t = F.col("tags")
    is_nat = T(t, "natural").isin(WATER_NATURAL_VALUES)
    return {
        "osm_type": F.when(is_nat, F.lit("natural")).otherwise(F.lit("waterway")),
        "osm_subtype": F.when(is_nat, T(t, "natural")).otherwise(T(t, "waterway")),
        "name": name,
        "layer": sc.parse_layer_value(T(t, "layer")),
        "tunnel": T(t, "tunnel"),
        "bridge": T(t, "bridge"),
        "boat": T(t, "boat"),
    }


# ---------------------------------------------------------------------------
# amenity (/root/reference/flex-config/style/amenity.lua:76-110)
# ---------------------------------------------------------------------------

def _amenity_cols(name: Column) -> dict[str, Column]:
    t = F.col("tags")
    amenity = T(t, "amenity")
    osm_type = (
        F.when(amenity.isNull() & (T(t, "bench") == "yes"), F.lit("bench"))
        .when(amenity.isNull() & T(t, "brewery").isNotNull(), F.lit("brewery"))
        .otherwise(amenity)
    )
    osm_subtype = (
        F.when(amenity.isin("restaurant", "fast_food", "cafe"), T(t, "cuisine"))
        .when(amenity == "shelter", T(t, "shelter_type"))
        .otherwise(F.lit(None).cast("string"))
    )
    return {
        "osm_type": osm_type,
        "osm_subtype": osm_subtype,
        "name": name,
        "housenumber": T(t, "addr:housenumber"),
        "street": T(t, "addr:street"),
        "city": T(t, "addr:city"),
        "state": T(t, "addr:state"),
        "postcode": T(t, "addr:postcode"),
        "address": sc.get_address(t),
        "wheelchair": T(t, "wheelchair"),
        "wheelchair_desc": sc.get_wheelchair_desc(t),
    }


def _amenity_member(t: Column) -> Column:
    """Row-set equivalent of ``has_any_key([amenity,bench,brewery]) &
    _amenity_cols()['osm_type'].isNotNull()`` as a flat OR chain. Derivation:
    the osm_type CASE yields 'bench' (amenity null & bench='yes'),
    'brewery' (amenity null & brewery set), else the amenity value — so it
    is non-NULL iff ``amenity IS NOT NULL OR bench='yes' OR brewery IS NOT
    NULL``; each disjunct implies its key exists, making the has_any_key
    conjunct redundant. The flat form generates a fraction of the CASE
    chain's bytecode (the 44-branch union pays codegen size 44×; huge
    generated methods are never JIT-compiled). Pinned equal to the CASE
    form, like the other flat member helpers, by tests/test_router.py."""
    # the has_any_key gate is logically redundant (each disjunct implies
    # its key exists) but is the per-row fast path: one arrays_overlap pass
    # over the key list short-circuits the per-key element_at probes for
    # the vast majority of rows, which carry none of these keys
    return sc.has_any_key(t, ["amenity", "bench", "brewery"]) & (
        T(t, "amenity").isNotNull()
        | (T(t, "bench") == "yes")
        | T(t, "brewery").isNotNull()
    )


# ---------------------------------------------------------------------------
# shop (/root/reference/flex-config/style/shop_helpers.lua:2-32)
# ---------------------------------------------------------------------------

_SHOP_AMENITY_VALUES = [
    "vending_machine", "car_rental", "motorcycle_rental", "cafe",
    "phone_repair", "music_school", "pub", "pharmacy", "ticket_booth", "shop",
]


def _shop_cols(name: Column) -> dict[str, Column]:
    t = F.col("tags")
    osm_type = (
        F.when(T(t, "shop").isNotNull(), F.lit("shop"))
        .when(T(t, "amenity").isin(_SHOP_AMENITY_VALUES), F.lit("amenity"))
        .otherwise(F.lit(None).cast("string"))
    )
    osm_subtype = (
        F.when(T(t, "shop").isNotNull(), T(t, "shop"))
        .when(T(t, "amenity").isin(_SHOP_AMENITY_VALUES), T(t, "amenity"))
        .otherwise(F.lit(None).cast("string"))
    )
    return {
        "osm_type": osm_type,
        "osm_subtype": osm_subtype,
        "name": name,
        "housenumber": T(t, "addr:housenumber"),
        "street": T(t, "addr:street"),
        "city": T(t, "addr:city"),
        "state": T(t, "addr:state"),
        "postcode": T(t, "addr:postcode"),
        "address": sc.get_address(t),
        "operator": T(t, "operator"),
        "wheelchair": T(t, "wheelchair"),
        "wheelchair_desc": sc.get_wheelchair_desc(t),
    }


def _shop_member(t: Column) -> Column:
    """Row-set equivalent of ``has_any_key([shop,amenity]) &
    _shop_cols()['osm_type'].isNotNull()``: the CASE is non-NULL iff
    ``shop IS NOT NULL OR amenity IN (shop-amenity list)``; both disjuncts
    imply their key exists (same flat-OR rationale as
    :func:`_amenity_member`)."""
    return sc.has_any_key(t, ["shop", "amenity"]) & (
        T(t, "shop").isNotNull() | T(t, "amenity").isin(_SHOP_AMENITY_VALUES)
    )


# ---------------------------------------------------------------------------
# indoor (/root/reference/flex-config/style/indoor.lua:60-130)
# ---------------------------------------------------------------------------

def _indoor_cols(name: Column) -> dict[str, Column]:
    t = F.col("tags")
    return {
        "osm_type": (
            F.when(T(t, "indoor").isNotNull(), T(t, "indoor"))
            .when(T(t, "door").isNotNull(), F.lit("door"))
            .when(T(t, "entrance").isNotNull(), F.lit("entrance"))
            .otherwise(F.lit("unknown"))
        ),
        "name": name,
        "layer": sc.parse_layer_value(T(t, "layer")),
        "level": T(t, "level"),
        "room": T(t, "room"),
        "entrance": T(t, "entrance"),
        "door": T(t, "door"),
        "capacity": T(t, "capacity"),
        "highway": T(t, "highway"),
    }


# ---------------------------------------------------------------------------
# infrastructure (/root/reference/flex-config/style/infrastructure.lua:12-131)
# ---------------------------------------------------------------------------

INFRASTRUCTURE_KEYS = ["aeroway", "amenity", "emergency", "highway", "man_made", "power", "utility"]
_INFRA_TOWER = ["tower", "communications_tower", "mast", "lighthouse", "flagpole"]
_INFRA_TANK = ["silo", "storage_tank", "water_tower", "reservoir_covered"]


def _infrastructure_cols(name: Column) -> dict[str, Column]:
    t = F.col("tags")
    osm_type = (
        F.when((T(t, "amenity") == "fire_hydrant") | (T(t, "emergency") == "fire_hydrant"), F.lit("emergency"))
        .when((T(t, "amenity") == "emergency_phone") | (T(t, "emergency") == "phone"), F.lit("emergency"))
        .when(T(t, "emergency").isNotNull(), F.lit("emergency"))
        .when(T(t, "highway") == "emergency_access_point", F.lit("emergency"))
        .when(T(t, "man_made").isin(_INFRA_TOWER), T(t, "man_made"))
        .when(T(t, "man_made").isin(_INFRA_TANK), T(t, "man_made"))
        .when(T(t, "power").isNotNull(), F.lit("power"))
        .when(T(t, "utility").isNotNull(), F.lit("utility"))
        .when(T(t, "aeroway").isNotNull(), F.lit("aeroway"))
        .otherwise(F.lit("unknown"))
    )
    osm_subtype = (
        F.when((T(t, "amenity") == "fire_hydrant") | (T(t, "emergency") == "fire_hydrant"), F.lit("fire_hydrant"))
        .when((T(t, "amenity") == "emergency_phone") | (T(t, "emergency") == "phone"), F.lit("phone"))
        .when(T(t, "emergency").isNotNull(), T(t, "emergency"))
        .when(T(t, "highway") == "emergency_access_point", F.lit("highway_access"))
        .when(T(t, "man_made").isin(_INFRA_TOWER), T(t, "tower:type"))
        .when(T(t, "man_made").isin(_INFRA_TANK), T(t, "content"))
        .when(T(t, "power").isNotNull(), T(t, "power"))
        .when(T(t, "aeroway").isNotNull(), T(t, "aeroway"))
        .otherwise(F.lit(None).cast("string"))
    )
    # emergency=no demotes to unknown (infrastructure.lua:124-128)
    demote = (osm_type == "emergency") & (osm_subtype == "no")
    osm_type = F.when(demote, F.lit("unknown")).otherwise(osm_type)
    osm_subtype = F.when(demote, F.lit(None).cast("string")).otherwise(osm_subtype)
    return {
        "osm_type": osm_type,
        "osm_subtype": osm_subtype,
        "name": name,
        "ele": sc.parse_to_meters(T(t, "ele")),
        "height": sc.parse_to_meters(F.coalesce(T(t, "height"), T(t, "building:height"))),
        "operator": T(t, "operator"),
        "material": T(t, "material"),
    }


def _infrastructure_member(t: Column) -> Column:
    """Row-set equivalent of ``has_any_key(INFRASTRUCTURE_KEYS) &
    (osm_type != 'unknown')`` as a flat OR chain — the double CASE
    (osm_type + demote) generated ~7.7 KB of bytecode per branch, right at
    HotSpot's 8 KB never-JIT threshold. Derivation from the CASE's
    first-match semantics plus the ``emergency=no`` demotion:

    - the two hydrant/phone branches keep regardless of demotion (their
      subtype literals are never 'no');
    - otherwise a row with an ``emergency`` tag matches the bare-emergency
      branch FIRST, so it keeps iff ``emergency != 'no'`` (a demoted row is
      dropped even if power/aeroway/... tags exist — first match wins);
    - otherwise (no emergency tag) the remaining branches keep iff any of
      highway=emergency_access_point, man_made in tower+tank, power,
      utility, aeroway holds.

    Each disjunct implies its key exists → has_any_key is redundant."""
    emergency = T(t, "emergency")
    hydrant_phone = T(t, "amenity").isin("fire_hydrant", "emergency_phone") | emergency.isin(
        "fire_hydrant", "phone"
    )
    rest = (
        (T(t, "highway") == "emergency_access_point")
        | T(t, "man_made").isin(_INFRA_TOWER + _INFRA_TANK)
        | T(t, "power").isNotNull()
        | T(t, "utility").isNotNull()
        | T(t, "aeroway").isNotNull()
    )
    # redundant-but-fast gate: see _amenity_member
    return sc.has_any_key(t, INFRASTRUCTURE_KEYS) & (
        hydrant_phone
        | (emergency.isNotNull() & (emergency != "no"))
        | (emergency.isNull() & rest)
    )


# ---------------------------------------------------------------------------
# public_transport (/root/reference/flex-config/style/public_transport.lua:92-135)
# ---------------------------------------------------------------------------

def _public_transport_cols(name: Column) -> dict[str, Column]:
    t = F.col("tags")
    pairs = [("bus", "bus"), ("railway", "railway"), ("lightrail", "lightrail"),
             ("train", "train"), ("aerialway", "aerialway"), ("highway", "highway")]
    osm_type: Column = F.coalesce(T(t, "public_transport"), F.lit("unknown"))
    osm_subtype: Column = F.lit(None).cast("string")
    for label, key in reversed(pairs):
        osm_type = F.when(T(t, key).isNotNull(), F.lit(label)).otherwise(osm_type)
        osm_subtype = F.when(T(t, key).isNotNull(), T(t, key)).otherwise(osm_subtype)
    return {
        "osm_type": osm_type,
        "osm_subtype": osm_subtype,
        "name": name,
        "public_transport": T(t, "public_transport"),
        "layer": sc.parse_layer_value(T(t, "layer")),
        "ref": sc.get_ref(t),
        "operator": T(t, "operator"),
        "network": T(t, "network"),
        "surface": T(t, "surface"),
        "wheelchair": T(t, "wheelchair"),
        "wheelchair_desc": sc.get_wheelchair_desc(t),
    }


# ---------------------------------------------------------------------------
# traffic (/root/reference/flex-config/style/traffic.lua:51-210)
# ---------------------------------------------------------------------------

_TRAFFIC_HIGHWAY = [
    "traffic_signals", "mini_roundabout", "stop", "crossing", "speed_camera",
    "motorway_junction", "turning_circle", "ford", "street_lamp", "services",
]
_TRAFFIC_AMENITY = ["fuel", "parking", "bicycle_parking"]


_TRAFFIC_FIRST_LEVEL_KEYS = ["highway", "railway", "barrier", "traffic_calming", "amenity", "noexit"]


def _traffic_cols() -> dict[str, Column]:
    t = F.col("tags")
    osm_type = (
        F.when(T(t, "highway").isin(_TRAFFIC_HIGHWAY), T(t, "highway"))
        .when(T(t, "railway") == "level_crossing", F.lit("crossing"))
        .when(T(t, "barrier").isNotNull(), F.lit("barrier"))
        .when(T(t, "traffic_calming").isNotNull(), F.lit("traffic_calming"))
        .when(T(t, "amenity").isin(_TRAFFIC_AMENITY), F.lit("amenity"))
        .when(T(t, "noexit").isNotNull(), F.lit("noexit"))
        .otherwise(F.lit(None).cast("string"))
    )
    osm_subtype = (
        F.when(T(t, "highway").isin(_TRAFFIC_HIGHWAY), F.lit(None).cast("string"))
        .when(T(t, "railway") == "level_crossing", F.lit(None).cast("string"))
        .when(T(t, "barrier").isNotNull(), T(t, "barrier"))
        .when(T(t, "traffic_calming").isNotNull(), T(t, "traffic_calming"))
        .when(T(t, "amenity").isin(_TRAFFIC_AMENITY), T(t, "amenity"))
        .otherwise(F.lit(None).cast("string"))
    )
    return {"osm_type": osm_type, "osm_subtype": osm_subtype}


def _traffic_member(t: Column, with_noexit: bool = True) -> Column:
    """Row-set equivalent of ``has_any_key(first-level) &
    _traffic_cols()['osm_type'].isNotNull()`` as a flat OR chain: the CASE is
    non-NULL iff one of its six conditions holds, and each condition
    implies its key exists. ``with_noexit=False`` additionally encodes the
    polygon rule ``osm_type != 'noexit'``: the CASE takes the FIRST
    matching branch, and only the noexit branch (matched when none of the
    other five hold) yields the literal 'noexit' — every earlier branch
    yields a highway value from the traffic list, 'crossing', 'barrier',
    'traffic_calming' or 'amenity' — so membership-with-non-noexit-type is
    exactly the five-way OR."""
    member = (
        T(t, "highway").isin(_TRAFFIC_HIGHWAY)
        | (T(t, "railway") == "level_crossing")
        | T(t, "barrier").isNotNull()
        | T(t, "traffic_calming").isNotNull()
        | T(t, "amenity").isin(_TRAFFIC_AMENITY)
    )
    if with_noexit:
        member = member | T(t, "noexit").isNotNull()
    # redundant-but-fast gate: see _amenity_member
    return sc.has_any_key(t, _TRAFFIC_FIRST_LEVEL_KEYS) & member


# ---------------------------------------------------------------------------
# table inventory + layersets
# ---------------------------------------------------------------------------

# layer → its tables, in output order (42 style tables + tags + unitable /
# 20 layers; SURVEY.md §1.3). A ``_point``/``_line``/``_polygon`` suffix
# names the table's geometry class in :func:`_table_spec`.
_LAYER_TABLES: dict[str, list[str]] = {
    "amenity": ["amenity_point", "amenity_line", "amenity_polygon"],
    "building": ["building_point", "building_polygon"],
    "building_combined_point": ["building_combined_point"],
    "indoor": ["indoor_point", "indoor_line", "indoor_polygon"],
    "infrastructure": ["infrastructure_point", "infrastructure_line", "infrastructure_polygon"],
    "landuse": ["landuse_point", "landuse_polygon"],
    "leisure": ["leisure_point", "leisure_polygon"],
    "natural": ["natural_point", "natural_line", "natural_polygon"],
    "place": ["place_point", "place_line", "place_polygon"],
    "poi": ["poi_point", "poi_line", "poi_polygon"],
    "poi_combined_point": ["poi_combined_point"],
    "public_transport": ["public_transport_point", "public_transport_line", "public_transport_polygon"],
    "road": ["road_point", "road_line", "road_polygon"],
    "road_major": ["road_major"],
    "shop": ["shop_point", "shop_polygon"],
    "shop_combined_point": ["shop_combined_point"],
    "tags": ["tags"],
    "traffic": ["traffic_point", "traffic_line", "traffic_polygon"],
    "unitable": ["unitable"],
    "water": ["water_point", "water_line", "water_polygon"],
}

# /root/reference/flex-config/layerset/*.ini
LAYERSETS: dict[str, list[str]] = {
    "minimal": ["place", "poi_combined_point", "road_major"],
    "basic": [
        "building_combined_point", "landuse", "place", "poi_combined_point",
        "road_major", "unitable",
    ],
    "default": [
        "amenity", "building", "indoor", "infrastructure", "landuse", "leisure",
        "natural", "place", "poi", "public_transport", "road", "shop", "tags",
        "traffic", "water",
    ],
    "everything": sorted(_LAYER_TABLES),
}


def resolve_layerset_path(cli_value: str | None) -> str | None:
    """The JOB-boundary resolution the reference applies to the layerset
    directory: an explicit ``--layerset-path`` wins, else PGOSM_LAYERSET_PATH
    (docker/pgosm_flex.py:474-515), else the built-in names. Library code
    never reads the env var — :func:`layerset_layers` is argument-only so
    library results cannot change under an ambient environment (the same
    determinism contract as ``scalars.resolve_language``)."""
    if cli_value is not None:
        return cli_value or None
    return os.environ.get("PGOSM_LAYERSET_PATH") or None


def layerset_layers(layerset: str, layerset_path: str | None = None) -> list[str]:
    """Layer names a layerset enables.

    Without ``layerset_path`` the four built-in names resolve from
    :data:`LAYERSETS` — the same lists the reference ships as
    ``flex-config/layerset/{minimal,basic,default,everything}.ini``. With a
    path, ``<path>/<layerset>.ini`` is parsed with the reference's
    custom-layerset semantics
    (/root/reference/flex-config/layerset.lua:17-28, run.lua:5-103,
    docker/pgosm_flex.py:474-515): a ``[layerset]`` section where a layer is
    enabled iff its value is ``true`` (case-insensitive; missing or ``false``
    disables — the Lua nil / Python ``.lower() == 'true'`` gate), and keys
    naming no known layer are ignored exactly as run.lua's fixed checklist
    ignores them.

    Argument-only by design: PGOSM_LAYERSET_PATH is honored at the job
    boundary via :func:`resolve_layerset_path`, never here."""
    if layerset_path is None:
        try:
            return LAYERSETS[layerset]
        except KeyError:
            raise ValueError(
                f"unknown layerset {layerset!r}; options: {sorted(LAYERSETS)} "
                "(or pass layerset_path / set PGOSM_LAYERSET_PATH for a "
                "custom INI)"
            )
    import configparser

    ini_file = os.path.join(layerset_path, f"{layerset}.ini")
    parser = configparser.ConfigParser()
    if not parser.read(ini_file):
        raise FileNotFoundError(f"layerset INI not found: {ini_file}")
    if "layerset" not in parser:
        raise ValueError(f"{ini_file}: missing [layerset] section")
    return sorted(
        layer
        for layer, value in parser["layerset"].items()
        if layer in _LAYER_TABLES and value.lower() == "true"
    )




# ---------------------------------------------------------------------------
# the table spec: every table's membership predicate and projection
# ---------------------------------------------------------------------------

def _table_spec() -> dict[str, tuple[Column, dict[str, Column]]]:
    """table name → (membership predicate, ordered projection) for every
    table in :data:`_LAYER_TABLES` — the one place a table's rows and
    columns are defined. Predicates are unbound Columns over the
    osm-objects schema; a NULL predicate counts as non-member
    (``DataFrame.filter`` three-valued semantics). Name columns capture the
    calling thread's ``scalars.name_language`` scope.

    The geometry conjunct comes FIRST in every predicate: one column
    comparison short-circuits the tag logic for rows of the wrong geometry
    class (And evaluates left-to-right in both codegen and interpreted
    paths). amenity/shop/infrastructure/traffic use the flat member helpers
    (derivations on each helper).

    Expressions every table shares (the base columns, the best-name chain)
    are built once: each Column costs py4j round trips, and the router
    merges projections by expression text, so one ``name`` object becomes
    one CASE branch instead of one per layer (each ``get_name`` call mints
    fresh lambda variable names)."""
    t = F.col("tags")
    node, way, rel, closed = _is_node(), _is_way(), _is_rel(), _closed()
    name = sc.get_name(t)
    base = {c: F.col(c) for c in _BASE_COLS}
    member_ids = F.col("member_ids")

    def full(extra: dict[str, Column], with_members: bool = False) -> dict[str, Column]:
        """A table's whole projection: the base columns, ``member_ids`` for
        tables that take relations, then the layer's derived columns."""
        return {**base, **({"member_ids": member_ids} if with_members else {}), **extra}

    way_closed = way & closed
    geom = {
        "point": node,
        "line": way & ~closed,
        "polygon": way_closed | (rel & _rel_is_poly()),
    }
    spec: dict[str, tuple[Column, dict[str, Column]]] = {}

    def layer(layer_name: str, member: Column, cols: dict[str, Column],
              polygon: Column | None = None) -> None:
        """The layer's point/line/polygon tables: geometry class AND tag
        predicate (``polygon`` replaces the polygon table's whole
        predicate); polygon tables also carry ``member_ids``."""
        for table in _LAYER_TABLES[layer_name]:
            kind = table.rsplit("_", 1)[1]
            pred = polygon if kind == "polygon" and polygon is not None else geom[kind] & member
            spec[table] = (pred, full(cols, with_members=kind == "polygon"))

    place = _place_filter()
    # closed ways AND all matching relations land in place_polygon
    # (place.lua:113-131, 133-175 — relations get member_ids)
    layer("place", place, _place_cols(name), polygon=(way_closed | rel) & place)

    road = T(t, "highway").isNotNull()
    road_wr = (way | rel) & road
    area = _road_is_area()
    road_common = _road_common(t, name)
    routable = _road_routable(t)
    road_point = {**road_common, "oneway": sc.parse_oneway(T(t, "oneway"))}
    road_line = {**road_point, **routable}
    spec["road_point"] = (node & road, full(road_point))
    spec["road_line"] = (road_wr & ~area, full(road_line, with_members=True))
    spec["road_polygon"] = (road_wr & area, full({**road_common, **routable}, with_members=True))
    # road_major: the road_line subset where major_road(highway)
    # (flex-config/style/road_major.lua)
    spec["road_major"] = (
        spec["road_line"][0] & sc.major_road(T(t, "highway")),
        full(road_line, with_members=True),
    )

    layer("poi", _poi_filter(name), _poi_cols(name))
    layer("building", _building_filter(), _building_cols(name))
    # natural-in-set takes priority; else waterway key (water.lua:73-143)
    layer(
        "water",
        T(t, "natural").isin(WATER_NATURAL_VALUES) | T(t, "waterway").isNotNull(),
        _water_cols(name),
    )
    layer("amenity", _amenity_member(t), _amenity_cols(name))
    layer("shop", _shop_member(t), _shop_cols(name))
    for key in ("landuse", "leisure"):
        layer(key, T(t, key).isNotNull(), {"osm_type": T(t, key), "name": name})
    # natural minus the water-layer values (natural.lua:56-77)
    layer(
        "natural",
        T(t, "natural").isNotNull() & ~T(t, "natural").isin(WATER_NATURAL_VALUES),
        {"osm_type": T(t, "natural"), "name": name, "ele": sc.parse_to_meters(T(t, "ele"))},
    )
    layer("indoor", sc.has_any_key(t, ["indoor", "door", "entrance"]), _indoor_cols(name))
    layer("infrastructure", _infrastructure_member(t), _infrastructure_cols(name))
    layer(
        "public_transport",
        sc.has_any_key(t, ["public_transport", "aerialway", "railway"]),
        _public_transport_cols(name),
    )
    # nodes and ways only — traffic.lua defines no relation handler
    # (traffic.lua:266-292 registers process_node/process_way exclusively);
    # closed noexit ways are skipped ("noexit does not make sense for
    # polygons", traffic.lua:242-256)
    layer(
        "traffic", _traffic_member(t), _traffic_cols(),
        polygon=way_closed & _traffic_member(t, with_noexit=False),
    )

    # tags / unitable escape hatches (flex-config/style/tags.lua,
    # unitable.lua)
    has_tags = tagf.has_tags_after_clean(t)
    spec["tags"] = (has_tags, {
        "osm_id": base["osm_id"],
        "geom_type": base["geom_type"],
        "tags": tagf.clean_tags(t),
        "osm_url": sc.osm_url(base["geom_type"], base["osm_id"]),
    })
    spec["unitable"] = (has_tags, full({"tags": tagf.clean_tags(t)}))

    # combined_point: points and polygons in one table; polygons collapse to
    # their centroid downstream (operators.centroid_collapse;
    # flex-config/style/building_combined_point.lua:123,169).
    # geom_src marks what needs collapsing; only polygon rows keep member_ids.
    for fam in ("building", "poi", "shop"):
        (point, cols), (polygon, _) = spec[f"{fam}_point"], spec[f"{fam}_polygon"]
        spec[f"{fam}_combined_point"] = (point | polygon, {
            **cols,
            "geom_src": F.when(node, F.lit("point")).otherwise(F.lit("polygon")),
            "member_ids": F.when(~node, member_ids),
        })
    return spec


def _scoped_spec(language: str | None) -> dict[str, tuple[Column, dict[str, Column]]]:
    """:func:`_table_spec` with the name-language preference of
    :func:`build_layer_tables`'s ``language`` argument."""
    with sc.name_language(language if language is not None else sc.default_name_language()):
        return _table_spec()


def _wanted_tables(layerset: str, layerset_path: str | None = None) -> list[str]:
    """Table names a layerset resolves to, in layer order — the ONE place
    layerset → table-set resolution lives (predicate and projection
    surfaces must filter identically or route_layer_rows silently
    diverges)."""
    return [
        name
        for layer in layerset_layers(layerset, layerset_path)
        for name in _LAYER_TABLES[layer]
    ]


def build_layer_tables(
    osm: DataFrame,
    layerset: str = "everything",
    layerset_path: str | None = None,
    language: str | None = None,
) -> dict[str, DataFrame]:
    """One shared scan → every enabled layer's output tables, each
    ``osm.filter(predicate).select(projection)`` from :func:`_table_spec`.

    Callers should ``osm.cache()`` (or persist to a staged table) before this
    at scale: each table re-filters the same frame and Spark will otherwise
    re-read the source per table. Catalyst pushes each table's tag predicate
    into its scan either way.

    ``language`` sets the best-name preference every table's ``name`` column
    applies (``name:<language>`` first — the reference's PGOSM_LANGUAGE,
    helpers.lua:28-34,189-196); ``None`` defers to the thread's
    :func:`pgosm_flex_spark.functions.scalars.name_language` scope (no
    preference when none is active — library results never depend on
    ambient env vars; jobs resolve PGOSM_LANGUAGE via
    ``scalars.resolve_language``), ``""`` forces the unlocalized chain.
    """
    wanted = _wanted_tables(layerset, layerset_path)
    spec = _scoped_spec(language)
    out: dict[str, DataFrame] = {}
    for name in wanted:
        pred, cols = spec[name]
        out[name] = osm.filter(pred).select(*[e.alias(c) for c, e in cols.items()])
    return out


def layer_table_predicates(
    layerset: str = "everything", layerset_path: str | None = None
) -> dict[str, Column]:
    """table name → boolean membership Column of the layerset's tables (the
    spec's first half; layers/router.py evaluates them all in one pass).
    Name-dependent predicates use the calling thread's name-language scope."""
    wanted = _wanted_tables(layerset, layerset_path)
    spec = _table_spec()
    return {name: spec[name][0] for name in wanted}


def layer_table_columns(
    layerset: str = "everything",
    layerset_path: str | None = None,
    language: str | None = None,
) -> dict[str, dict[str, Column]]:
    """table name → its FULL output projection as named Column exprs, in
    output column order (base cols, member_ids for tables that take
    relations, then the layer's derived columns) — the spec's second half:
    with :func:`layer_table_predicates` a consumer can fuse ALL tables into
    one routed pass (layers/router.py:route_layer_rows) or rebuild one from
    a routed bundle (router.read_layer_table).

    ``language`` as in :func:`build_layer_tables` — the name exprs capture
    it at construction time."""
    wanted = _wanted_tables(layerset, layerset_path)
    spec = _scoped_spec(language)
    return {name: spec[name][1] for name in wanted}
