"""End-to-end drive of the import job (create → resume → append-with-diff),
in-process — the SURVEY §3.1 lifecycle against real output directories."""

from __future__ import annotations

import glob
import json
import os
import sys

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pgosm_flex_spark import fixtures


def run_job(argv: list[str]) -> int:
    sys.path.insert(0, "/root/repo/jobs")
    import import_job

    old = sys.argv
    sys.argv = ["import_job.py"] + argv
    try:
        return import_job.main()
    finally:
        sys.argv = old


@pytest.fixture(scope="module")
def job_out(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("job"))
    rc = run_job(
        ["--out", out, "--n-images", "2000", "--layerset", "minimal",
         "--skip-nested", "--unit-res", "13", "--date", "2026-01-01"]
    )
    assert rc == 0
    return out


def test_create_writes_pairs_and_manifest(spark, job_out):
    manifest = json.load(open(os.path.join(job_out, "manifest.json")))
    assert manifest["pip_units"]["total"] > 5
    assert manifest["pip_units"]["skipped_resume"] == 0
    assert manifest["tables"]["place_polygon"] > 0
    assert spark.read.parquet(*glob.glob(f"{job_out}/image_place_pairs/unit=*")).count() > 0


def test_import_outputs_store_zstd_pages(job_out):
    """Every table the job writes, Spark- or driver-written, stores zstd
    column chunks (the session's parquet codec)."""
    import pyarrow.parquet as pq

    for sub in ("routed", "image_place_pairs/unit=*", "image_place_pairs/_journal",
                "layer_styles"):
        codecs = []
        for f in glob.glob(f"{job_out}/{sub}/**/*.parquet", recursive=True):
            md = pq.ParquetFile(f).metadata
            codecs += [
                md.row_group(g).column(c).compression
                for g in range(md.num_row_groups)
                for c in range(md.num_columns)
            ]
        assert codecs and set(codecs) == {"ZSTD"}, (sub, set(codecs))


def test_unit_commits_one_sorted_file(job_out):
    """Each checkpoint unit's pairs are rebalanced and sorted before the
    write: one parquet file per ``unit=*`` dir, ordered by
    ``(osm_id, image_id)`` whatever the task timing."""
    import pyarrow.parquet as pq

    dirs = glob.glob(f"{job_out}/image_place_pairs/unit=*")
    assert dirs
    for d in dirs:
        files = glob.glob(f"{d}/*.parquet")
        assert len(files) == 1, (d, files)
        t = pq.read_table(files[0], columns=["osm_id", "image_id"])
        keys = list(zip(t["osm_id"].to_pylist(), t["image_id"].to_pylist()))
        assert keys == sorted(keys), d


def test_rerun_without_force_refuses(spark, job_out):
    rc = run_job(
        ["--out", job_out, "--n-images", "2000", "--layerset", "minimal",
         "--skip-nested", "--unit-res", "13", "--date", "2026-01-01"]
    )
    assert rc == 2  # prior data + no --force + not append -> refuse


def test_append_with_diff_recomputes_touched_cells_only(spark, job_out, tmp_path):
    # diff = 150 new images (ids 2000..2149); full current input = 2150
    diff_dir = str(tmp_path / "diff")
    full_dir = str(tmp_path / "full")
    all_imgs = fixtures.images_df(spark, 2150, with_pixels=False)
    all_imgs.write.parquet(full_dir)
    all_imgs.filter(F.col("image_id") >= "img000000002000").write.parquet(diff_dir)

    before_units = {
        d: os.path.getmtime(d) for d in glob.glob(f"{job_out}/image_place_pairs/unit=*")
    }
    rc = run_job(
        ["--out", job_out, "--input", full_dir, "--diff", diff_dir,
         "--mode", "append", "--layerset", "minimal", "--skip-nested",
         "--unit-res", "13", "--date", "2026-02-01"]
    )
    assert rc == 0
    manifest = json.load(open(os.path.join(job_out, "manifest.json")))
    touched = manifest["pip_units"]["append_touched_cells"]
    assert 0 < touched < len(before_units) + 5
    assert manifest["pip_units"]["total"] == touched

    # stored pairs == full recompute over the current 2150 images
    from pgosm_flex_spark.functions import tags as tagf
    from pgosm_flex_spark.layers import build_layer_tables
    from pgosm_flex_spark.operators import pip_join, relation_member_dedup

    pts = tagf.with_tags(all_imgs).select("image_id", "lon", "lat")
    osm = fixtures.osm_objects_df(spark)
    polys = relation_member_dedup(
        build_layer_tables(osm, layerset="minimal")["place_polygon"]
    ).filter(F.col("geom_wkb").isNotNull())
    exp = pip_join(pts, polys, point_cols=["image_id"]).select("image_id", "osm_id")
    got = spark.read.parquet(*glob.glob(f"{job_out}/image_place_pairs/unit=*")).select(
        "image_id", "osm_id"
    )
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0


def test_append_diff_empties_cell_invalidates_stale_output(spark, job_out, tmp_path):
    # a diff that REMOVES a cell's last points must still overwrite that
    # cell's stale unit dir (with an empty one) — stored pairs must equal a
    # full recompute of the new input
    from pgosm_flex_spark.functions import tags as tagf
    from pgosm_flex_spark.index import cells as cellmod

    all_imgs = fixtures.images_df(spark, 2150, with_pixels=False)
    tagged = tagf.with_tags(all_imgs).withColumn(
        "__unit", cellmod.cell_col(F.col("lon"), F.col("lat"), 13)
    )
    # pick a unit that currently holds stored pairs
    victim = None
    for d in sorted(glob.glob(f"{job_out}/image_place_pairs/unit=*")):
        try:
            if spark.read.parquet(d).count() > 0:
                victim = int(d.rsplit("=", 1)[1])
                break
        except Exception:
            continue
    assert victim is not None
    removed_ids = tagged.filter(F.col("__unit") == victim).select("image_id")
    assert removed_ids.count() > 0

    new_full = str(tmp_path / "full_minus_cell")
    diff_dir = str(tmp_path / "removed")
    all_imgs.join(removed_ids, "image_id", "left_anti").write.parquet(new_full)
    all_imgs.join(removed_ids, "image_id", "semi").write.parquet(diff_dir)

    rc = run_job(
        ["--out", job_out, "--input", new_full, "--diff", diff_dir,
         "--mode", "append", "--layerset", "minimal", "--skip-nested",
         "--unit-res", "13", "--date", "2026-03-01"]
    )
    assert rc == 0

    # the victim cell's stale pairs are gone
    victim_files = glob.glob(f"{job_out}/image_place_pairs/unit={victim}/*.parquet")
    if victim_files:
        assert spark.read.parquet(*victim_files).count() == 0
    # and the journal records the emptied unit's write as zero pairs
    journal = pd.read_parquet(f"{job_out}/image_place_pairs/_journal")
    last = journal[journal["unit"] == str(victim)].sort_values("finished_at").iloc[-1]
    assert json.loads(last["metrics"]) == {"pairs": 0}

    # stored pairs == full recompute over the reduced input
    from pgosm_flex_spark.layers import build_layer_tables
    from pgosm_flex_spark.operators import pip_join, relation_member_dedup

    remaining = all_imgs.join(removed_ids, "image_id", "left_anti")
    pts = tagf.with_tags(remaining).select("image_id", "lon", "lat")
    osm = fixtures.osm_objects_df(spark)
    polys = relation_member_dedup(
        build_layer_tables(osm, layerset="minimal")["place_polygon"]
    ).filter(F.col("geom_wkb").isNotNull())
    exp = pip_join(pts, polys, point_cols=["image_id"]).select("image_id", "osm_id")
    stored = [
        f for f in glob.glob(f"{job_out}/image_place_pairs/unit=*/*.parquet")
    ]
    got = spark.read.parquet(*stored).select("image_id", "osm_id")
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0


def test_import_job_leaves_no_persisted_rdds(spark, tmp_path):
    # library-mode hygiene: a job run adds NOTHING to the persisted-RDD set
    # (delta-based: the shared test session may carry other fixtures' caches)
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    rc = run_job(
        ["--out", str(tmp_path / "hygiene"), "--n-images", "500",
         "--layerset", "minimal", "--skip-nested", "--unit-res", "13"]
    )
    assert rc == 0
    assert jsc.getPersistentRDDs().size() == before


def test_routed_export_job_writes_routed_bundle(spark, tmp_path):
    # one layout with or without the (ignored) --routed-export flag: every
    # table, the deduped place_polygon included, lives under routed/ and no
    # per-table dir is written
    from pgosm_flex_spark.layers.registry import _wanted_tables

    for flags in ([], ["--routed-export"]):
        out = str(tmp_path / f"routed{len(flags)}")
        rc = run_job(
            ["--out", out, "--n-images", "500", "--layerset", "minimal",
             "--skip-nested", "--unit-res", "13", *flags]
        )
        assert rc == 0
        manifest = json.load(open(os.path.join(out, "manifest.json")))
        assert manifest["routed"] is True
        assert manifest["tables"]["place_polygon"] > 0
        assert glob.glob(f"{out}/routed/layer_table=place_polygon/**/*.parquet", recursive=True)
        assert not [n for n in _wanted_tables("minimal") if os.path.exists(f"{out}/{n}")]


def test_job_writes_nested_table(spark, tmp_path):
    # without --skip-nested the job writes the derived place_polygon_nested
    # beside the routed bundle, built from the deduped place polygons
    from pgosm_flex_spark.layers import build_layer_tables
    from pgosm_flex_spark.operators import relation_member_dedup
    from pgosm_flex_spark.operators.nested import build_nested_admin_polygons

    out = str(tmp_path / "nested")
    rc = run_job(
        ["--out", out, "--n-images", "300", "--layerset", "minimal",
         "--unit-res", "13"]
    )
    assert rc == 0
    manifest = json.load(open(os.path.join(out, "manifest.json")))
    assert os.path.isdir(f"{out}/place_polygon_nested")
    got = spark.read.parquet(f"{out}/place_polygon_nested")
    assert got.count() == manifest["tables"]["place_polygon_nested"] > 0
    polys = relation_member_dedup(
        build_layer_tables(fixtures.osm_objects_df(spark), layerset="minimal")["place_polygon"]
    ).filter(F.col("geom_wkb").isNotNull())
    exp = build_nested_admin_polygons(polys)
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0


def test_append_same_date_still_applies_diff(spark, tmp_path):
    """Regression: the checkpoint job_id was (region, --date) only, so an
    append that did not pass a NEW --date found every touched unit already
    journaled completed, skipped all recomputation, and reported success
    while silently ignoring the diff. The job_id now carries a diff-content
    signature."""
    out = str(tmp_path / "job")
    diff_dir = str(tmp_path / "diff")
    full_dir = str(tmp_path / "full")
    rc = run_job(
        ["--out", out, "--n-images", "800", "--layerset", "minimal",
         "--skip-nested", "--unit-res", "13"]  # default --date on purpose
    )
    assert rc == 0

    all_imgs = fixtures.images_df(spark, 950, with_pixels=False)
    all_imgs.write.parquet(full_dir)
    all_imgs.filter(F.col("image_id") >= "img000000000800").write.parquet(diff_dir)

    # append with the SAME (default) date — the diff must still be applied
    rc = run_job(
        ["--out", out, "--input", full_dir, "--diff", diff_dir,
         "--mode", "append", "--layerset", "minimal", "--skip-nested",
         "--unit-res", "13"]
    )
    assert rc == 0
    manifest = json.load(open(os.path.join(out, "manifest.json")))
    assert manifest["pip_units"]["skipped_resume"] == 0  # nothing skipped

    from pgosm_flex_spark.functions import tags as tagf
    from pgosm_flex_spark.layers import build_layer_tables
    from pgosm_flex_spark.operators import pip_join, relation_member_dedup

    pts = tagf.with_tags(all_imgs).select("image_id", "lon", "lat")
    osm = fixtures.osm_objects_df(spark)
    polys = relation_member_dedup(
        build_layer_tables(osm, layerset="minimal")["place_polygon"]
    ).filter(F.col("geom_wkb").isNotNull())
    exp = pip_join(pts, polys, point_cols=["image_id"]).select("image_id", "osm_id")
    got = spark.read.parquet(*glob.glob(f"{out}/image_place_pairs/unit=*")).select(
        "image_id", "osm_id"
    )
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0

    # replaying the SAME diff resumes: its units are journaled under the
    # diff-salted job id, so the rerun skips them all — and output is intact
    rc = run_job(
        ["--out", out, "--input", full_dir, "--diff", diff_dir,
         "--mode", "append", "--layerset", "minimal", "--skip-nested",
         "--unit-res", "13"]
    )
    assert rc == 0
    manifest = json.load(open(os.path.join(out, "manifest.json")))
    assert manifest["pip_units"]["skipped_resume"] == manifest["pip_units"]["total"]
    got2 = spark.read.parquet(*glob.glob(f"{out}/image_place_pairs/unit=*")).select(
        "image_id", "osm_id"
    )
    assert got2.exceptAll(exp).count() == 0
    assert exp.exceptAll(got2).count() == 0


def test_world_scale_invariants(spark, tmp_path):
    """--world-scale K: every layer table grows exactly K× (disjoint tile
    replicas of the fixture world), while the PIP pair count is IDENTICAL to
    the unscaled run — each point translates by the same tile offset as its
    replica's polygons, so it matches exactly the shifted copies of the
    polygons it matched at K=1. (Own K=1 run: the shared job_out fixture is
    mutated by the append tests.)"""
    common = ["--n-images", "2000", "--layerset", "minimal", "--skip-nested",
              "--unit-res", "13", "--date", "2026-01-01"]
    job_out = str(tmp_path / "k1")
    assert run_job(["--out", job_out, *common]) == 0
    out = str(tmp_path / "k3")
    rc = run_job(["--out", out, *common, "--world-scale", "3"])
    assert rc == 0
    base = json.load(open(os.path.join(job_out, "manifest.json")))
    scaled = json.load(open(os.path.join(out, "manifest.json")))
    assert scaled["world_scale"] == 3
    for name, n in base["tables"].items():
        assert scaled["tables"][name] == 3 * n, name
    n_base = spark.read.parquet(*glob.glob(f"{job_out}/image_place_pairs/unit=*")).count()
    n_scaled = spark.read.parquet(*glob.glob(f"{out}/image_place_pairs/unit=*")).count()
    assert n_scaled == n_base
    # replicas really are offset: pair place ids span multiple id strides
    pairs = spark.read.parquet(*glob.glob(f"{out}/image_place_pairs/unit=*"))
    poly_col = next(c for c in pairs.columns if c not in ("image_id",))
    reps = (
        pairs.select(F.floor(F.abs(F.col(poly_col)) / fixtures.WORLD_ID_STRIDE).alias("r"))
        .distinct().count()
    )
    assert reps == 3
