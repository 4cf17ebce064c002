from __future__ import annotations

import json
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
        spark, tables, str(tmp_path / "bundle"), region="dc", layerset="minimal",
        pgosm_date="2026-01-01",
    )
    assert manifest["bundle"] == "dc-minimal-2026-01-01"
    on_disk = json.load(open(tmp_path / "bundle" / "manifest.json"))
    assert on_disk["tables"] == manifest["tables"]
    assert set(manifest["tables"]) == set(tables)


def test_export_bundle_write_manifest_false_leaves_no_marker(spark, tmp_path):
    """manifest.json doubles as the completion marker ImportMode.okay_to_run
    checks: a caller composing the bundle with other concurrent sections
    (jobs/import_job.py) must be able to defer it, or a crash in a later
    section leaves a completed-looking bundle behind."""
    osm = fixtures.osm_objects_df(spark)
    tables = build_layer_tables(osm, layerset="minimal")
    out = tmp_path / "bundle_nm"
    manifest = export_bundle(
        spark, tables, str(out), region="dc", layerset="minimal",
        pgosm_date="2026-01-01", write_manifest=False,
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
    """Single-scan routed export must produce the same bundle as the
    per-table export: identical per-table counts in the manifest, identical
    rows for a routed table read back via read_layer_table, and the
    override table (post-processed outside the router) written to its own
    subdir exactly as export_bundle would."""
    from pgosm_flex_spark.layers.router import read_layer_table
    from pgosm_flex_spark.sinks import export_bundle_routed

    osm = fixtures.osm_objects_df(spark)
    tables = build_layer_tables(osm, layerset="minimal")
    per_table = export_bundle(
        spark, tables, str(tmp_path / "classic"), region="dc",
        layerset="minimal", pgosm_date="2026-01-01",
    )
    routed = export_bundle_routed(
        spark, osm, str(tmp_path / "routed"), region="dc",
        layerset="minimal", pgosm_date="2026-01-01",
        overrides={"place_polygon": tables["place_polygon"]},
    )
    assert routed["routed"] is True
    assert routed["tables"] == per_table["tables"]

    back = read_layer_table(
        spark, str(tmp_path / "routed" / "routed"), "road_major",
        layerset="minimal",
    )
    want = tables["road_major"]
    assert [f.name for f in back.schema.fields] == [
        f.name for f in want.schema.fields
    ]
    assert back.exceptAll(want).count() == 0
    assert want.exceptAll(back).count() == 0

    # override slice must NOT appear in the routed stream...
    routed_tables = {
        r["layer_table"]
        for r in spark.read.parquet(str(tmp_path / "routed" / "routed"))
        .select("layer_table").distinct().collect()
    }
    assert "place_polygon" not in routed_tables
    # ...and its subdir write matches the classic layout
    pp = spark.read.parquet(str(tmp_path / "routed" / "place_polygon"))
    assert pp.count() == per_table["tables"]["place_polygon"]

    # output clustering: the salted repartition bounds files per partition
    # dir at files_per_partition (default 4) — without it a dynamic write
    # emits one file per task × dir (small-file explosion at scale)
    import glob

    for d in glob.glob(str(tmp_path / "routed" / "routed" / "layer_table=*/cell_p=*")):
        n_files = len(glob.glob(os.path.join(d, "*.parquet")))
        assert 1 <= n_files <= 4, f"{d}: {n_files} files"


def test_export_bundle_routed_empty_source(spark, tmp_path):
    """An empty source writes zero partition dirs (nothing for parquet to
    infer a schema from) — the manifest must still land with every table
    at 0 rows instead of the count read-back throwing."""
    from pgosm_flex_spark.sinks import export_bundle_routed

    osm = fixtures.osm_objects_df(spark).filter("osm_id < -999999999")
    m = export_bundle_routed(
        spark, osm, str(tmp_path / "empty"), region="e",
        layerset="minimal", pgosm_date="2026-01-01",
    )
    assert m["routed"] is True
    assert m["tables"] and all(v == 0 for v in m["tables"].values())


def test_routed_3857_overrides_projected_in_sink(spark, tmp_path):
    """A direct caller passing UNPROJECTED override frames at srid=3857 must
    still get meter coordinates on disk (the manifest claims EPSG:3857);
    pre-projected frames (x/y present) pass through un-re-projected; a
    wkb-only frame of unknowable SRID raises."""
    import numpy as np
    import pytest

    from pgosm_flex_spark.geometry import srid as S
    from pgosm_flex_spark.sinks import export_bundle_routed

    osm = fixtures.osm_objects_df(spark)
    tables = build_layer_tables(osm, layerset="minimal")
    raw = tables["place_point"]

    # unprojected override: the sink projects it
    export_bundle_routed(
        spark, osm, str(tmp_path / "a"), region="r", layerset="minimal",
        pgosm_date="d", srid=3857, files_per_partition=None,
        overrides={"place_point": raw},
    )
    got = spark.read.parquet(str(tmp_path / "a" / "place_point"))
    row = got.filter(F.col("lon").isNotNull()).first()
    assert row["x"] == pytest.approx(S.R_3857 * np.radians(row["lon"]), rel=1e-12)

    # pre-projected override: byte-identical to the auto-projected write
    pre = S.with_projected(raw, 3857)
    export_bundle_routed(
        spark, osm, str(tmp_path / "b"), region="r", layerset="minimal",
        pgosm_date="d", srid=3857, files_per_partition=None,
        overrides={"place_point": pre},
    )
    got_b = spark.read.parquet(str(tmp_path / "b" / "place_point"))
    assert got_b.exceptAll(got).count() == 0
    assert got.exceptAll(got_b).count() == 0

    # ambiguous wkb-only frame: refuse rather than mislabel
    ambiguous = raw.select("osm_id", "geom_wkb")
    with pytest.raises(ValueError, match="cannot tell"):
        export_bundle_routed(
            spark, osm, str(tmp_path / "c"), region="r", layerset="minimal",
            pgosm_date="d", srid=3857, files_per_partition=None,
            overrides={"place_polygon": ambiguous},
        )
