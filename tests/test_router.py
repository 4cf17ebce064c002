"""Single-scan router vs per-table frames: membership must be identical.

Both sides derive from the one table spec (``registry._table_spec``):
``build_layer_tables`` filters and projects each table on its own, the
router fuses all predicates into one CASE array and all projections into
one CASE per column. The lockstep guarantee checked here is that the fused
form equals the per-table spec — ids per table, full rows, schemas — and the
comparison fails naming the table.
"""

from collections import Counter

import pytest
from pyspark.sql import functions as F

from pgosm_flex_spark import fixtures
from pgosm_flex_spark.layers import build_layer_tables
from pgosm_flex_spark.layers.registry import layer_table_predicates, layerset_layers, _LAYER_TABLES
from pgosm_flex_spark.layers.router import layer_membership, route_layer_ids


@pytest.fixture(scope="module")
def osm(spark):
    df = fixtures.osm_objects_df(spark).cache()
    df.count()
    yield df
    df.unpersist()


def test_router_id_sets_match_builders(spark, osm):
    tables = build_layer_tables(osm, layerset="everything")
    routed = route_layer_ids(osm).cache()
    try:
        got = {
            name: Counter()
            for name in layer_table_predicates()
        }
        for r in routed.collect():
            got[r["table"]][r["osm_id"]] += 1
        assert set(got) == set(tables)
        for name, df in sorted(tables.items()):
            want = Counter(r["osm_id"] for r in df.select("osm_id").collect())
            assert got[name] == want, f"{name}: router membership != table rows"
    finally:
        routed.unpersist()


def test_router_single_scan_plan(osm):
    """The whole point: one pass. The routed plan must contain exactly one
    scan of the cached source, where the 44-way union contains 44 — one
    per table: every table, the combined_point ones included, is a single
    filtered scan."""
    routed = route_layer_ids(osm)
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") == 1, plan

    union = None
    for name, df in build_layer_tables(osm).items():
        tplan = df._jdf.queryExecution().executedPlan().toString()
        assert tplan.count("InMemoryTableScan") == 1, f"{name}: {tplan[:2000]}"
        ids = df.select("osm_id")
        union = ids if union is None else union.unionByName(ids)
    uplan = union._jdf.queryExecution().executedPlan().toString()
    assert uplan.count("InMemoryTableScan") > 40


def test_route_layer_rows_single_scan_no_exchange(osm):
    """The full-row router must keep the one-pass property: one source scan,
    zero shuffles — the 45 predicates AND 45 projections all evaluate in the
    scan's own pipeline (the clustering shuffle is added only by the export
    sink, not here)."""
    from pgosm_flex_spark.layers.router import route_layer_rows

    plan = route_layer_rows(osm)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") == 1, plan[:2000]
    assert "Exchange" not in plan, plan[:2000]


def test_layerset_subsets(spark, osm):
    preds = layer_table_predicates("minimal")
    wanted = {name for layer in layerset_layers("minimal") for name in _LAYER_TABLES[layer]}
    assert set(preds) == wanted
    routed = route_layer_ids(osm, layerset="minimal")
    seen = {r["table"] for r in routed.select("table").distinct().collect()}
    assert seen <= wanted


def test_layer_membership_matches_union(spark, osm):
    member_ids = {
        r["osm_id"]
        for r in osm.filter(layer_membership(osm)).select("osm_id").collect()
    }
    union_ids = set()
    for name, df in build_layer_tables(osm).items():
        union_ids.update(r["osm_id"] for r in df.select("osm_id").collect())
    assert member_ids == union_ids


def test_route_extra_cols(osm):
    routed = route_layer_ids(osm, extra_cols=["geom_type"])
    row = routed.filter(F.col("table") == "place_point").first()
    assert row is not None and row["geom_type"] == "N"


def _comparable(df):
    """Map columns don't support set ops: normalize to sorted entry arrays."""
    out = df
    for f in df.schema.fields:
        if f.dataType.typeName() == "map":
            out = out.withColumn(f.name, F.array_sort(F.map_entries(f.name)))
    return out


def test_route_layer_rows_equals_builders(spark, osm):
    """Row-LEVEL equality (full projections, not just ids): every table's
    routed slice must match its build_layer_tables frame exactly."""
    from pgosm_flex_spark.layers.router import route_layer_rows

    tables = build_layer_tables(osm, layerset="everything")
    routed = route_layer_rows(osm).cache()
    try:
        for name, df in sorted(tables.items()):
            mine = _comparable(
                routed.filter(F.col("layer_table") == name).select(*df.columns)
            )
            want = _comparable(df)
            # CASE-wrapping in the router makes Catalyst lose non-null
            # provability, so compare names+types; value equality below
            # covers nulls exactly.
            assert [(f.name, f.dataType) for f in mine.schema.fields] == [
                (f.name, f.dataType) for f in want.schema.fields
            ], name
            extra = mine.exceptAll(want).count()
            missing = want.exceptAll(mine).count()
            assert (extra, missing) == (0, 0), f"{name}: +{extra} -{missing} rows vs table"
    finally:
        routed.unpersist()


def test_routed_bundle_roundtrip(spark, osm, tmp_path):
    """Write the routed superset partitioned by layer_table; read one table
    back through read_layer_table — schema and rows must match the table."""
    from pgosm_flex_spark.layers.router import read_layer_table, route_layer_rows

    target = str(tmp_path / "routed")
    route_layer_rows(osm).write.mode("overwrite").partitionBy("layer_table").parquet(target)
    for name in ("road_line", "place_polygon", "tags"):
        got = _comparable(read_layer_table(spark, target, name))
        want = _comparable(build_layer_tables(osm)[name])
        assert [f.name for f in got.schema.fields] == [f.name for f in want.schema.fields]
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0


def test_has_key_prefix_matches_hof(spark):
    """_has_key_prefix (sentinel-joined key blob, codegen) must agree with
    the higher-order exists(startswith) formulation on edge-shaped keys."""
    from pyspark.sql import functions as F

    from pgosm_flex_spark.layers.registry import _has_key_prefix

    rows = [
        ({"addr:housenumber": "1"}, True),
        ({"addr:": ""}, True),               # bare prefix key
        ({"xaddr:street": "1"}, False),      # prefix not at key start
        ({"street": "addr:1"}, False),       # prefix inside a VALUE only
        ({"a": "1", "addr:unit": "2"}, True),
        ({}, False),
        ({"ADDR:x": "1"}, False),            # case-sensitive like startswith
    ]
    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(rows)], "i int, tags map<string,string>"
    )
    hof = F.exists(F.map_keys(F.col("tags")), lambda k: k.startswith("addr:"))
    got = (
        df.select("i", _has_key_prefix(F.col("tags"), "addr:").alias("blob"), hof.alias("hof"))
        .orderBy("i")
        .collect()
    )
    for r, (_, want) in zip(got, rows):
        assert bool(r["blob"]) == bool(r["hof"]) == want, r


def test_flat_members_match_case(spark, osm):
    """The flat OR member helpers are row-set equal to the CASE-derived
    membership they replace (derivations on each helper), on the fixture
    plus hand-picked first-match and demotion edge cases."""
    from pgosm_flex_spark.functions import scalars as sc
    from pgosm_flex_spark.layers import registry as r

    t = F.col("tags")
    edge = spark.createDataFrame(
        [(tags,) for tags in [
            {"emergency": "no", "power": "tower"},
            {"emergency": "fire_hydrant"},
            {"amenity": "fire_hydrant", "emergency": "no"},
            {"amenity": "emergency_phone"},
            {"highway": "emergency_access_point"},
            {"man_made": "silo"},
            {"man_made": "pier"},
            {"amenity": "bench"},
            {"bench": "yes"},
            {"bench": "no"},
            {"brewery": "x"},
            {"amenity": "pub"},
            {"shop": "bakery", "amenity": "cafe"},
            {"noexit": "yes"},
            {"noexit": "yes", "barrier": "gate"},
            {"railway": "level_crossing"},
            {"highway": "residential"},
            {},
        ]],
        "tags map<string,string>",
    )
    name = sc.get_name(t)
    infra_type = r._infrastructure_cols(name)["osm_type"]
    traffic_type = r._traffic_cols()["osm_type"]
    cases = {
        "amenity": (
            r._amenity_member(t),
            sc.has_any_key(t, ["amenity", "bench", "brewery"])
            & r._amenity_cols(name)["osm_type"].isNotNull(),
        ),
        "shop": (
            r._shop_member(t),
            sc.has_any_key(t, ["shop", "amenity"]) & r._shop_cols(name)["osm_type"].isNotNull(),
        ),
        "infrastructure": (
            r._infrastructure_member(t),
            sc.has_any_key(t, r.INFRASTRUCTURE_KEYS) & (infra_type != "unknown"),
        ),
        "traffic": (
            r._traffic_member(t),
            sc.has_any_key(t, r._TRAFFIC_FIRST_LEVEL_KEYS) & traffic_type.isNotNull(),
        ),
        "traffic_polygon": (
            r._traffic_member(t, with_noexit=False),
            sc.has_any_key(t, r._TRAFFIC_FIRST_LEVEL_KEYS)
            & traffic_type.isNotNull()
            & (traffic_type != "noexit"),
        ),
    }
    rows = osm.select("tags").unionByName(edge)
    for name, (flat, case) in cases.items():
        got = rows.select(
            F.coalesce(flat, F.lit(False)).alias("flat"),
            F.coalesce(case, F.lit(False)).alias("case"),
        ).collect()
        bad = [x for x in got if x["flat"] != x["case"]]
        assert not bad, f"{name}: {len(bad)} rows differ"
        assert any(x["flat"] for x in got), name
