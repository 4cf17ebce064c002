"""The benchmark's workloads: inputs, one job, and the checks on its output.

Each run starts a fresh session and its first job is cold, as when a user
launches the job. (Measuring enrich_images warm, after an unmeasured run of
the same job, cost 10-15 s more per run and was no steadier on a 4-core
host.)
"""

from __future__ import annotations

import functools
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time

import pandas as pd
import pyarrow.parquet as pq

import inputs
import oracle

ENRICH_ROWS = 25_000
FEATURE_ROWS = 20_000
KNN_K = 3
TILE_ZOOM = 12
KNN_SAMPLE = 1024

APPEND_BASE_ROWS = 50_000
APPEND_DIFF_ROWS = APPEND_BASE_ROWS // 50  # a 2 % diff
UNIT_RES = 12
# The append skips the nested admin rebuild: with it a cold append took
# 80-90 s on 4 cores, so a traced run (an untraced and a traced job) could
# not end within the benchmark's 180 s per run. enrich_images measures the
# rebuild instead (see README.md).
IMPORT_FLAGS = ["--unit-res", str(UNIT_RES), "--routed-export", "--skip-nested"]


def admin_frame(spark):
    """The fixtures' admin polygons with the place_polygon columns that the
    pip join and the nested rebuild read."""
    from pgosm_flex_spark import fixtures

    rows = [
        (int(r.osm_id), r.tags["name"], r.tags.get("place", "boundary"),
         int(r.tags["admin_level"]), r.tags["boundary"], bytes(r.geom_wkb))
        for r in fixtures.admin_polygons().itertuples()
    ]
    return spark.createDataFrame(
        rows, "osm_id long, name string, osm_type string, admin_level int, boundary string, geom_wkb binary"
    )


def enrich(spark, images_dir: str, features_dir: str, out_dir: str) -> None:
    """Caption rows → geotags → admin-polygon pairs, the admin hierarchy of
    those polygons, 3 nearest features and z12 tiles, each written as a
    table. Every layer is called through its module so a traced run can
    wrap it."""
    from pyspark.sql import functions as F

    from pgosm_flex_spark import sinks
    from pgosm_flex_spark.functions import tags
    from pgosm_flex_spark.operators import knn, nested, tiles

    # the package re-exports the pip_join function under the module's name
    pj = importlib.import_module("pgosm_flex_spark.operators.pip_join")

    admin = admin_frame(spark)
    polys = admin.select("osm_id", "geom_wkb")
    pts = (
        tags.with_lonlat(spark.read.parquet(images_dir))
        .filter(F.col("lon").isNotNull())
        .select("image_id", "lon", "lat")
        .persist()
    )
    try:
        sinks.write_layer_table(pj.pip_join(pts, polys, point_cols=["image_id"]), out_dir, "pairs")
        sinks.write_layer_table(nested.build_nested_admin_polygons(admin), out_dir, "hierarchy")
        nbrs = knn.knn_join_adaptive(
            pts, spark.read.parquet(features_dir), k=KNN_K,
            point_id="image_id", feature_id="feat_id",
        )
        sinks.write_layer_table(nbrs, out_dir, "neighbors")
        sinks.write_layer_table(tiles.assign_tiles(pts, [TILE_ZOOM]), out_dir, "tiles")
    finally:
        pts.unpersist()


class EnrichImages:
    name = "enrich_images"
    consumed: dict = {}

    def __init__(self, root: str, cache: str, seed: int):
        self.inp = inputs.images(cache, seed, ENRICH_ROWS)
        self.feats = inputs.features(cache, FEATURE_ROWS)
        self.rows = self.inp["rows"]
        self.truth = pq.read_table(self.inp["truth"]).to_pandas()
        self.feat_df = pq.read_table(self.feats["dir"]).to_pandas()
        self.polygons = oracle.admin_polygons()
        self.hierarchy = oracle.admin_hierarchy()

    def describe(self) -> dict:
        return {"rows": self.rows, "hot_share": self.inp["hot_share"],
                "features": self.feats["rows"], "feature_hot_share": self.feats["hot_share"]}

    def reset(self, out: str) -> None:
        shutil.rmtree(out, ignore_errors=True)

    def run_job(self, spark, out: str) -> dict:
        enrich(spark, self.inp["dir"], self.feats["dir"], out)
        return {}

    def check(self, out: str, info: dict) -> list[str]:
        t = self.truth
        pairs = oracle.read_parquet_dir(os.path.join(out, "pairs"), ["image_id", "osm_id"])
        problems = oracle.check_pip(pairs, t, self.polygons)
        problems += oracle.check_hierarchy(oracle.read_parquet_dir(
            os.path.join(out, "hierarchy"), ["osm_id", "nest_level", "osm_id_path", "innermost"]
        ), self.hierarchy)
        nbrs = oracle.read_parquet_dir(
            os.path.join(out, "neighbors"), ["image_id", "feat_id", "distance_m", "knn_rank"]
        )
        if len(nbrs) != KNN_K * len(t):
            problems.append(f"knn: {len(nbrs)} rows for {len(t)} points, want {KNN_K} each")
        sample = t.iloc[:: max(1, len(t) // KNN_SAMPLE)]
        problems += oracle.check_knn(nbrs, sample, self.feat_df, KNN_K)
        cols = ["image_id", f"tile_z{TILE_ZOOM}_x", f"tile_z{TILE_ZOOM}_y"]
        problems += oracle.check_tiles(
            oracle.read_parquet_dir(os.path.join(out, "tiles"), cols), t, TILE_ZOOM
        )
        return problems


@functools.cache
def import_job(root: str):
    """``jobs/import_job.py`` loaded once as a module, so its ``main()`` runs
    inside the benchmark's session."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_import_job", os.path.join(root, "jobs", "import_job.py")
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def run_import(root: str, argv: list[str]) -> int:
    saved = sys.argv
    sys.argv = ["import_job.py", *argv]
    try:
        return import_job(root).main()
    finally:
        sys.argv = saved


class AppendDiff:
    name = "append_diff"
    # the routed export re-maps the raw OSM frame in its own scan, so of the
    # layer tables only place_polygon is consumed as built
    consumed = {"layers.map": ("place_polygon",)}

    def __init__(self, root: str, cache: str, seed: int):
        self.root = root
        self.inp = inputs.append_inputs(cache, seed, APPEND_BASE_ROWS, APPEND_DIFF_ROWS)
        self.rows = self.inp["rows"]
        self.base = self._base_import(cache)
        diff = pq.read_table(self.inp["truth"]).to_pandas()
        self.touched = set(oracle.unit_cells(diff["lon"], diff["lat"], UNIT_RES).tolist())
        truth = pd.concat([pq.read_table(self.inp["base"]["truth"]).to_pandas(), diff], ignore_index=True)
        units = oracle.unit_cells(truth["lon"], truth["lat"], UNIT_RES)
        self.touched_truth = truth[pd.Series(units).isin(self.touched).to_numpy()]
        self.base_units = {
            u: oracle.dir_digests(d)
            for u, d in oracle.unit_dirs(os.path.join(self.base["out"], "image_place_pairs")).items()
        }

    def describe(self) -> dict:
        return {"rows": self.rows, "diff_rows": self.inp["diff_rows"],
                "diff_hot_share": self.inp["hot_share"],
                "base_hot_share": self.inp["base"]["hot_share"],
                "units": len(self.base_units), "touched_units": len(self.touched)}

    def _base_import(self, cache: str) -> dict:
        """The create-mode import the diff applies to, built and checked once
        per cache in a child process (so this run's session stays cold),
        plus the unscaled layer-table counts from the per-table builders."""
        d = os.path.join(cache, f"append-base-import-{APPEND_BASE_ROWS}")
        meta_path = os.path.join(d, "meta.json")
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                return json.load(f)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        out = os.path.join(d, "out")
        counts = os.path.join(d, "unscaled_counts.json")
        with open(os.path.join(d, "build.log"), "w") as log:
            subprocess.run(
                [sys.executable, os.path.join(os.path.dirname(__file__), "base.py"), counts,
                 "--input", self.inp["base"]["dir"], "--out", out, *IMPORT_FLAGS],
                stdout=log, stderr=subprocess.STDOUT, check=True, timeout=800,
            )
        with open(counts) as f:
            unscaled = json.load(f)
        base_truth = pq.read_table(self.inp["base"]["truth"]).to_pandas()
        stored = oracle.read_parquet_dir(os.path.join(out, "image_place_pairs"), ["image_id", "osm_id"])
        problems = oracle.check_pip(stored, base_truth, oracle.place_polygons(), "base import pip pairs")
        problems += oracle.check_table_counts(
            oracle.stored_row_counts(out, list(unscaled)), unscaled, 1
        )
        meta = {"out": out, "unscaled": unscaled, "problems": problems}
        with open(meta_path, "w") as f:
            json.dump(meta, f, indent=1, sort_keys=True)
        return meta

    def reset(self, out: str) -> None:
        shutil.rmtree(out, ignore_errors=True)
        shutil.copytree(self.base["out"], out)

    def run_job(self, spark, out: str) -> dict:
        started = time.time()
        rc = run_import(self.root, [
            "--input", self.inp["input"], "--diff", self.inp["diff"],
            "--mode", "append", "--out", out, *IMPORT_FLAGS,
        ])
        if rc != 0:
            raise RuntimeError(f"import job exited {rc}")
        with open(os.path.join(out, "manifest.json")) as f:
            manifest = json.load(f)
        return {"started": started, "sections": manifest["sections"]}

    def check(self, out: str, info: dict) -> list[str]:
        problems = list(self.base["problems"])
        unscaled = self.base["unscaled"]
        problems += oracle.check_table_counts(
            oracle.stored_row_counts(out, list(unscaled)), unscaled, 1
        )
        after = oracle.unit_dirs(os.path.join(out, "image_place_pairs"))
        for unit, digests in self.base_units.items():
            if unit not in self.touched and (unit not in after or oracle.dir_digests(after[unit]) != digests):
                problems.append(f"append: untouched unit {unit} changed")
        stray = set(after) - set(self.base_units) - self.touched
        if stray:
            problems.append(f"append: unit dirs outside the diff appeared: {sorted(stray)}")
        stored = pd.concat(
            [oracle.read_parquet_dir(after[u], ["image_id", "osm_id"]) for u in self.touched if u in after]
            or [pd.DataFrame({"image_id": [], "osm_id": []})],
            ignore_index=True,
        )
        problems += oracle.check_pip(stored, self.touched_truth, oracle.place_polygons(), "append pip pairs")
        return problems

    def unit_s_max(self, out: str, info: dict) -> float:
        """Longest unit recomputed by this job, from the checkpoint journal."""
        journal = oracle.read_parquet_dir(
            os.path.join(out, "image_place_pairs", "_journal"), ["started_at", "finished_at"]
        )
        mine = journal[journal["started_at"] >= info["started"]]
        return float((mine["finished_at"] - mine["started_at"]).max()) if len(mine) else 0.0


WORKLOADS = {w.name: w for w in (EnrichImages, AppendDiff)}
