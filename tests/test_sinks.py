from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import functions as F

from pgosm_flex_spark import fixtures
from pgosm_flex_spark.layers import build_layer_tables
from pgosm_flex_spark.sinks import export_bundle, write_layer_table
from pgosm_flex_spark.sources.lookup import pgosm_road


def test_write_layer_table_cell_partitioned(spark, tmp_path):
    osm = fixtures.osm_objects_df(spark)
    poi = build_layer_tables(osm, layerset="minimal")["poi_combined_point"]
    n = write_layer_table(poi, str(tmp_path), "poi_combined_point")
    back = spark.read.parquet(str(tmp_path / "poi_combined_point"))
    assert back.count() == n > 0
    assert "cell_p" in back.columns  # partition pruning key


def test_layer_table_scan_prunes_partitions(spark, tmp_path):
    """The cell_p directory layout is the GiST-index analog (SURVEY §2.7:
    reference declares per-table geom indexes, helpers.lua:442-573): a
    cell-keyed predicate on the written table must land in the scan's
    PartitionFilters slot — directory pruning, only matching partitions
    read — not in DataFilters as a post-scan residual."""
    osm = fixtures.osm_objects_df(spark)
    poi = build_layer_tables(osm, layerset="minimal")["poi_combined_point"]
    write_layer_table(poi, str(tmp_path), "poi_combined_point", cell_res=12)
    back = spark.read.parquet(str(tmp_path / "poi_combined_point"))
    present = sorted(
        r["cell_p"] for r in back.select("cell_p").distinct().collect()
    )
    assert len(present) > 1, "fixture collapsed to one partition; raise cell_res"
    target_cell = present[-1]
    q = back.filter(F.col("cell_p") == target_cell)
    plan = q._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "cell_p" in pf, plan[:1500]
    # independent expected count: full scan collected, counted Python-side
    expected = sum(
        1 for r in back.select("cell_p").collect() if r["cell_p"] == target_cell
    )
    assert q.count() == expected > 0


def test_export_bundle_manifest(spark, tmp_path):
    osm = fixtures.osm_objects_df(spark)
    tables = build_layer_tables(osm, layerset="minimal")
    manifest = export_bundle(
        spark, osm, str(tmp_path / "bundle"), region="dc", layerset="minimal",
        pgosm_date="2026-01-01",
    )
    assert manifest["bundle"] == "dc-minimal-2026-01-01"
    assert manifest["routed"] is True
    assert set(manifest["tables"]) == set(tables)


def test_export_bundle_leaves_no_marker(spark, tmp_path):
    """manifest.json doubles as the completion marker ImportMode.okay_to_run
    checks: the export never writes it, so a caller composing the bundle
    with other concurrent sections (jobs/import_job.py) writes it last —
    otherwise a crash in a later section leaves a completed-looking bundle
    behind."""
    osm = fixtures.osm_objects_df(spark)
    out = tmp_path / "bundle_nm"
    manifest = export_bundle(
        spark, osm, str(out), region="dc", layerset="minimal",
        pgosm_date="2026-01-01",
    )
    assert manifest["tables"]  # dict still returned in full
    assert not (out / "manifest.json").exists()
    # the tables themselves were written
    assert any(out.iterdir())


def test_pgosm_road_golden_count(spark):
    # tests/sql/pgosm_road_row_count.sql golden: 25 rows
    df = pgosm_road(spark)
    assert df.count() == 25
    mph = {r["osm_type"]: r["maxspeed_mph"] for r in df.collect()}
    assert mph["motorway"] == 65.0  # 104.60736 km/h / 1.609344


def test_merge_into_partitioned_upsert(spark, tmp_path):
    import glob
    import os
    import pandas as pd
    from pyspark.sql import functions as F
    from pgosm_flex_spark.sinks import merge_into_partitioned

    target = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        pd.DataFrame(
            {
                "id": list(range(10)),
                "val": [f"v{i}" for i in range(10)],
                "cell_p": [i % 3 for i in range(10)],
            }
        )
    )
    merge_into_partitioned(spark, target, base, key_cols=["id"])
    assert spark.read.parquet(target).count() == 10

    untouched_files = {
        f: os.path.getmtime(f) for f in glob.glob(f"{target}/cell_p=2/*.parquet")
    }
    # upsert: update id=0 (cell 0), insert id=100 (cell 1); cell 2 untouched
    updates = spark.createDataFrame(
        pd.DataFrame({"id": [0, 100], "val": ["NEW", "v100"], "cell_p": [0, 1]})
    )
    m = merge_into_partitioned(spark, target, updates, key_cols=["id"])
    assert m == {"touched_partitions": 2, "upserted_rows": 2}

    out = spark.read.parquet(target)
    assert out.count() == 11
    assert out.filter(F.col("id") == 0).collect()[0]["val"] == "NEW"
    assert out.filter(F.col("id") == 100).count() == 1
    # untouched partition's files were not rewritten
    for f, mt in untouched_files.items():
        assert os.path.exists(f) and os.path.getmtime(f) == mt


def test_export_bundle_routed_parity(spark, tmp_path):
    """The one-scan export holds the same tables as build_layer_tables:
    equal per-table counts in the manifest, equal rows for a table read back
    via read_layer_table, and the passed post-processed place_polygon in
    place of its raw slice, read back the same way."""
    from pgosm_flex_spark.layers.router import read_layer_table
    from pgosm_flex_spark.operators import relation_member_dedup

    osm = fixtures.osm_objects_df(spark)
    tables = build_layer_tables(osm, layerset="minimal")
    pp = relation_member_dedup(tables["place_polygon"])
    out = tmp_path / "bundle"
    m = export_bundle(
        spark, osm, str(out), region="dc", layerset="minimal",
        pgosm_date="2026-01-01", place_polygon=pp,
    )
    want_counts = {n: df.count() for n, df in tables.items()}
    want_counts["place_polygon"] = pp.count()
    assert m["tables"] == want_counts
    assert pp.count() < tables["place_polygon"].count()  # dedup dropped rows

    for name, want in (("road_major", tables["road_major"]), ("place_polygon", pp)):
        back = read_layer_table(
            spark, str(out / "routed"), name, layerset="minimal"
        )
        assert [f.name for f in back.schema.fields] == [
            f.name for f in want.schema.fields
        ], name
        assert back.exceptAll(want).count() == 0, name
        assert want.exceptAll(back).count() == 0, name
    # every table lives under routed/, none in a per-table dir
    assert not [n for n in tables if (out / n).exists()]

    # output clustering: the salted repartition bounds files per partition
    # dir at FILES_PER_DIR (4) — without it a dynamic write emits one file
    # per task × dir (small-file explosion at scale)
    import glob

    for d in glob.glob(str(out / "routed" / "layer_table=*/cell_p=*")):
        n_files = len(glob.glob(os.path.join(d, "*.parquet")))
        assert 1 <= n_files <= 4, f"{d}: {n_files} files"


def test_export_bundle_removes_stale_per_table_dirs(spark, tmp_path):
    """An export over a bundle in the earlier per-table layout removes the
    ``<out>/<table>/`` dirs it now writes under routed/, so the bundle never
    holds two copies of a table."""
    from pgosm_flex_spark.layers.router import read_layer_table
    from pgosm_flex_spark.operators import relation_member_dedup

    osm = fixtures.osm_objects_df(spark)
    pp = relation_member_dedup(
        build_layer_tables(osm, layerset="minimal")["place_polygon"]
    )
    out = tmp_path / "bundle"
    stale = out / "place_polygon"
    stale.mkdir(parents=True)
    pd.DataFrame({"osm_id": [1]}).to_parquet(stale / "part.parquet")
    m = export_bundle(
        spark, osm, str(out), region="dc", layerset="minimal",
        pgosm_date="2026-01-01", place_polygon=pp,
    )
    assert not stale.exists()
    back = read_layer_table(spark, str(out / "routed"), "place_polygon", layerset="minimal")
    assert back.count() == m["tables"]["place_polygon"] == pp.count() > 0


def test_export_bundle_routed_empty_source(spark, tmp_path):
    """An empty source writes zero partition dirs (nothing for parquet to
    infer a schema from) — the manifest must still list every table at 0
    rows instead of the count read-back throwing."""
    osm = fixtures.osm_objects_df(spark).filter("osm_id < -999999999")
    m = export_bundle(
        spark, osm, str(tmp_path / "empty"), region="e",
        layerset="minimal", pgosm_date="2026-01-01",
    )
    assert m["routed"] is True
    assert m["tables"] and all(v == 0 for v in m["tables"].values())


def test_routed_3857_place_polygon_projected_in_sink(spark, tmp_path):
    """A passed place_polygon goes through the same projection as the
    routed stream: at srid=3857 it reads back equal to
    ``with_projected(pp, 3857)`` (meter x/y and reprojected geom_wkb)."""
    from pgosm_flex_spark.geometry import srid as S
    from pgosm_flex_spark.layers.router import read_layer_table
    from pgosm_flex_spark.operators import relation_member_dedup

    osm = fixtures.osm_objects_df(spark)
    pp = relation_member_dedup(
        build_layer_tables(osm, layerset="minimal")["place_polygon"]
    )
    out = tmp_path / "a"
    export_bundle(
        spark, osm, str(out), region="r", layerset="minimal",
        pgosm_date="d", srid=3857, place_polygon=pp,
    )
    got = read_layer_table(
        spark, str(out / "routed"), "place_polygon", layerset="minimal", srid=3857
    )
    want = S.with_projected(pp, 3857)
    assert sorted(got.columns) == sorted(want.columns)
    assert got.count() == want.count() > 0
    assert got.exceptAll(want.select(*got.columns)).count() == 0
    assert want.select(*got.columns).exceptAll(got).count() == 0
