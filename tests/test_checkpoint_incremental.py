from __future__ import annotations

import glob
import json

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pgosm_flex_spark import fixtures
from pgosm_flex_spark.index import cells
from pgosm_flex_spark.plans import Checkpointer, ImportMode
from pgosm_flex_spark.plans.checkpoint import checkpointed_pip_join
from pgosm_flex_spark.layers import build_layer_tables
from pgosm_flex_spark.operators import pip_join, relation_member_dedup


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

    # the point side carries its unit cell, and one group-count yields the
    # unit set, as in jobs/import_job.py
    pts = pts.withColumn(
        "__unit", cells.cell_col(F.col("lon"), F.col("lat"), 4)
    ).persist()
    units = [str(r["__unit"]) for r in pts.groupBy("__unit").count().collect()]

    r1 = checkpointed_pip_join(
        spark, pts, polys, out, job_id="job1", point_cols=["image_id"],
        unit_col="__unit", units=units,
    )
    assert r1 and not any(m.get("skipped") for m in r1.values())
    total1 = spark.read.parquet(*glob.glob(f"{out}/unit=*")).count()

    # oracle: plain pip_join
    exp = pip_join(pts, polys, point_cols=["image_id"]).count()
    assert total1 == exp

    # resume: everything skipped, outputs unchanged
    r2 = checkpointed_pip_join(
        spark, pts, polys, out, job_id="job1", point_cols=["image_id"],
        unit_col="__unit", units=units,
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
