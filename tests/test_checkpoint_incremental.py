from __future__ import annotations

import glob
import json
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pgosm_flex_spark import fixtures
from pgosm_flex_spark.plans import Checkpointer, ImportMode
from pgosm_flex_spark.plans.checkpoint import checkpointed_pip_join
from pgosm_flex_spark.layers import build_layer_tables
from pgosm_flex_spark.operators import pip_join, relation_member_dedup
from pgosm_flex_spark.streaming import incremental


# ---------------------------------------------------------------------------
# ImportMode truth table (reference: docker/tests/test_import_mode.py)
# ---------------------------------------------------------------------------

def test_import_mode_flags():
    """Row-for-row mirror of the reference truth table
    (/root/reference/docker/tests/test_import_mode.py:10-160 +
    docker/helpers.py:349-389)."""
    # append_first_run
    assert ImportMode().append_first_run  # no flags IS a first run
    assert not ImportMode(replication=True, replication_update=True).append_first_run
    assert ImportMode(
        replication=True, replication_update=True, update="create"
    ).append_first_run  # --update=create overrides replication_update
    assert not ImportMode(
        replication=True, replication_update=True, update="append"
    ).append_first_run
    assert not ImportMode(update="append").append_first_run
    # slim_no_drop: ANY --update value sets it, including 'create'
    assert not ImportMode().slim_no_drop
    assert ImportMode(replication=True).slim_no_drop
    assert ImportMode(update="append").slim_no_drop
    assert ImportMode(update="create").slim_no_drop
    # run_post_sql: only --update=append skips it
    assert ImportMode().run_post_sql
    assert ImportMode(update="create").run_post_sql
    assert ImportMode(replication=True, replication_update=True).run_post_sql
    assert not ImportMode(update="append").run_post_sql
    with pytest.raises(ValueError):
        ImportMode(update="bogus")


def test_import_mode_okay_to_run():
    """okay_to_run semantics (docker/helpers.py:284-352): plain re-imports
    over prior data need --force; replication needs a replication prior;
    append mode always proceeds; newer-version priors refuse."""
    m = ImportMode()
    assert m.okay_to_run(None, "0.1.0")
    assert m.okay_to_run({}, "0.1.0")
    # prior data + no force + plain import -> refuse
    assert not m.okay_to_run({"engine_version": "0.1.0", "replication": False}, "0.1.0")
    assert ImportMode(force=True).okay_to_run({"engine_version": "9.9"}, "0.1.0")
    # newer prior version refuses regardless of mode
    assert not ImportMode(update="append").okay_to_run(
        {"engine_version": "0.2.0"}, "0.1.0"
    )
    # replication requires the prior import to have used replication
    assert ImportMode(replication=True).okay_to_run(
        {"engine_version": "0.1.0", "replication": True}, "0.1.0"
    )
    assert not ImportMode(replication=True).okay_to_run(
        {"engine_version": "0.1.0", "replication": False}, "0.1.0"
    )
    # append over prior data is fine
    assert ImportMode(update="append").okay_to_run(
        {"engine_version": "0.1.0", "replication": False}, "0.1.0"
    )


# ---------------------------------------------------------------------------
# checkpointed join: resume skips completed units
# ---------------------------------------------------------------------------

def test_checkpointed_pip_join_resume(spark, tmp_path):
    out = str(tmp_path / "pairs")
    pts = spark.createDataFrame(
        pd.DataFrame(
            {
                "image_id": [f"i{i}" for i in range(500)],
                "lon": [fixtures.point_lonlat(i)[0] for i in range(500)],
                "lat": [fixtures.point_lonlat(i)[1] for i in range(500)],
            }
        )
    )
    osm = fixtures.osm_objects_df(spark)
    polys = relation_member_dedup(build_layer_tables(osm)["place_polygon"]).filter(
        F.col("geom_wkb").isNotNull()
    ).persist()

    r1 = checkpointed_pip_join(
        spark, pts, polys, out, job_id="job1", point_cols=["image_id"]
    )
    assert r1 and not any(m.get("skipped") for m in r1.values())
    total1 = spark.read.parquet(*glob.glob(f"{out}/unit=*")).count()

    # oracle: plain pip_join
    exp = pip_join(pts, polys, point_cols=["image_id"]).count()
    assert total1 == exp

    # resume: everything skipped, outputs unchanged
    r2 = checkpointed_pip_join(
        spark, pts, polys, out, job_id="job1", point_cols=["image_id"]
    )
    assert all(m.get("skipped") for m in r2.values())
    assert spark.read.parquet(*glob.glob(f"{out}/unit=*")).count() == exp

    # journal carries metrics
    cp = Checkpointer(path=out, job_id="job1")
    j = cp.read_journal(spark).collect()
    assert all(json.loads(r["metrics"]).get("pairs") is not None for r in j)


def test_checkpoint_partial_resume(spark, tmp_path):
    """Simulate a killed job: journal says one unit done; only others run."""
    out = str(tmp_path / "pairs2")
    cp = Checkpointer(path=out, job_id="jobX")
    cp.mark_completed(spark, "unitA", {"pairs": 1}, 0.0)
    seen = []

    def process(unit):
        seen.append(unit)
        return {"pairs": 0}

    res = cp.run_units(spark, ["unitA", "unitB", "unitC"], process)
    assert res["unitA"] == {"skipped": True}
    assert seen == ["unitB", "unitC"]


# ---------------------------------------------------------------------------
# incremental refresh
# ---------------------------------------------------------------------------

def test_incremental_pip_refresh_matches_full(spark):
    osm = fixtures.osm_objects_df(spark)
    polys = relation_member_dedup(build_layer_tables(osm)["place_polygon"]).filter(
        F.col("geom_wkb").isNotNull()
    ).persist()

    def pts_df(n, start=0):
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "image_id": [f"i{i}" for i in range(start, start + n)],
                    "lon": [fixtures.point_lonlat(i)[0] for i in range(start, start + n)],
                    "lat": [fixtures.point_lonlat(i)[1] for i in range(start, start + n)],
                }
            )
        )

    base = pts_df(300)
    prev_pairs = pip_join(base, polys, point_cols=["image_id"]).join(
        base.select("image_id", "lon", "lat"), "image_id"
    ).persist()

    diff = pts_df(100, start=300)
    all_pts = base.unionByName(diff)
    refreshed = incremental.incremental_pip_refresh(
        spark, all_pts, diff, polys, prev_pairs, point_cols=["image_id"]
    )
    full = pip_join(all_pts, polys, point_cols=["image_id"])
    got = {(r["image_id"], r["osm_id"]) for r in refreshed.select("image_id", "osm_id").collect()}
    exp = {(r["image_id"], r["osm_id"]) for r in full.collect()}
    assert got == exp


# ---------------------------------------------------------------------------
# structured streaming tile counts
# ---------------------------------------------------------------------------

def test_stream_tile_counts(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    rows = []
    for i in range(200):
        lon, lat = fixtures.point_lonlat(i)
        rows.append(
            {"ts": f"2026-01-01T00:{i % 60:02d}:00.000Z", "lon": lon, "lat": lat,
             "image_id": f"i{i}"}
        )
    with open(src / "batch1.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    q = incremental.stream_tile_counts(
        spark, str(src), str(tmp_path / "ckpt"), str(tmp_path / "out"), zoom=12
    )
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.agg(F.sum("n")).collect()[0][0] == 200
    assert out.select("x", "y").distinct().count() >= 2


def test_incremental_refresh_to_storage(spark, tmp_path):
    """Full incremental loop against STORAGE: initial pairs written
    partitioned by coarse cell; a diff touches one cell; only that cell's
    partition is rewritten and the stored table equals a full recompute."""
    import glob
    import os as _os

    from pgosm_flex_spark.index import cells
    from pgosm_flex_spark.sinks import refresh_partitions

    target = str(tmp_path / "pairs")
    res = 8
    pts = spark.createDataFrame(
        pd.DataFrame(
            {
                "image_id": [f"i{i}" for i in range(400)],
                "lon": [fixtures.point_lonlat(i)[0] for i in range(400)],
                "lat": [fixtures.point_lonlat(i)[1] for i in range(400)],
            }
        )
    )
    osm = fixtures.osm_objects_df(spark)
    polys = build_layer_tables(osm)["place_polygon"].filter(
        F.col("geom_wkb").isNotNull()
    ).persist()

    def pairs_of(points):
        return pip_join(points, polys, point_cols=["image_id"]).join(
            points.select("image_id", "lon", "lat"), "image_id"
        ).withColumn("cell_p", cells.cell_col(F.col("lon"), F.col("lat"), res))

    refresh_partitions(spark, target, pairs_of(pts), partition_col="cell_p")
    before = {
        f: _os.path.getmtime(f) for f in glob.glob(f"{target}/cell_p=*/*.parquet")
    }

    # diff: move one point; recompute only its (old+new) cells
    moved = pts.filter(F.col("image_id") == "i7").withColumn(
        "lon", F.col("lon") + F.lit(0.001)
    )
    diff = pts.filter(F.col("image_id") == "i7").unionByName(moved)
    touched = incremental.affected_cells(diff, res=res)
    all_pts = pts.filter(F.col("image_id") != "i7").unionByName(moved)
    pts_cell = all_pts.withColumn("cell_p", cells.cell_col(F.col("lon"), F.col("lat"), res))
    affected_pts = pts_cell.join(
        F.broadcast(touched), pts_cell["cell_p"] == touched["cell"]
    ).drop("cell")
    replacement = pairs_of(affected_pts.drop("cell_p"))
    refresh_partitions(spark, target, replacement, partition_col="cell_p")

    # stored table == full recompute
    stored = spark.read.parquet(target).select("image_id", "osm_id")
    full = pip_join(all_pts, polys, point_cols=["image_id"]).select("image_id", "osm_id")
    assert stored.exceptAll(full).count() == 0
    assert full.exceptAll(stored).count() == 0
    # untouched partitions' files untouched
    touched_vals = {str(r["cell"]) for r in touched.collect()}
    for f, mt in before.items():
        part = f.split("cell_p=")[1].split("/")[0]
        if part not in touched_vals:
            assert _os.path.getmtime(f) == mt, f


def test_incremental_refresh_new_coords_only_move_and_delete(spark):
    """Regression: a diff carrying only the NEW coordinates of a moved point
    (or only the id of a deleted one) left the OLD location's pair in the
    output forever — the cell rule never touched the old cell. The id rule
    now invalidates any prev pair whose point appears in the diff."""
    osm = fixtures.osm_objects_df(spark)
    polys = relation_member_dedup(build_layer_tables(osm)["place_polygon"]).filter(
        F.col("geom_wkb").isNotNull()
    ).persist()

    base = spark.createDataFrame(
        pd.DataFrame(
            {
                "image_id": [f"i{i}" for i in range(200)],
                "lon": [fixtures.point_lonlat(i)[0] for i in range(200)],
                "lat": [fixtures.point_lonlat(i)[1] for i in range(200)],
            }
        )
    )
    prev_pairs = pip_join(base, polys, point_cols=["image_id"]).join(
        base.select("image_id", "lon", "lat"), "image_id"
    ).persist()
    assert prev_pairs.filter(F.col("image_id").isin("i7", "i9")).count() > 0

    # move i7 FAR away (old res-6 cell untouched by the new position);
    # delete i9, represented only by its id (null coords)
    moved = base.filter(F.col("image_id") == "i7").withColumn(
        "lon", F.col("lon") + F.lit(40.0)
    )
    deleted = spark.createDataFrame(
        pd.DataFrame({"image_id": ["i9"], "lon": [None], "lat": [None]})
    ).select("image_id", F.col("lon").cast("double"), F.col("lat").cast("double"))
    diff = moved.unionByName(deleted)
    all_pts = base.filter(~F.col("image_id").isin("i7", "i9")).unionByName(moved)

    refreshed = incremental.incremental_pip_refresh(
        spark, all_pts, diff, polys, prev_pairs, point_cols=["image_id"]
    )
    full = pip_join(all_pts, polys, point_cols=["image_id"])
    got = {(r["image_id"], r["osm_id"]) for r in refreshed.select("image_id", "osm_id").collect()}
    exp = {(r["image_id"], r["osm_id"]) for r in full.collect()}
    assert got == exp
    # the deleted point's pairs are gone, and no stale i7 row survives
    assert not any(i == "i9" for i, _ in got)
