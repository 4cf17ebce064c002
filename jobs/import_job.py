"""Full import job — the Spark analog of `python3 docker/pgosm_flex.py`
(/root/reference/docker/pgosm_flex.py:23-79, lifecycle SURVEY.md §3.1).

Steps (one driver program; the reference's five process boundaries collapse
into stage boundaries):

1. config → ImportMode guard (okay_to_run version check)
2. read the image/caption input (parquet here; Iceberg on a real cluster)
3. tag→schema mapping: one shared scan → enabled layers' tables
4. post-processing: relation dedup, nested admin polygons
5. flagship containment join of image points into place polygons,
   checkpointed per coarse cell (resumable)
6. export bundle with manifest (the pg_dump analog)

Run standalone or via spark-submit --py-files (tools/submit.sh).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def main() -> int:
    p = argparse.ArgumentParser(description="pgosm-flex-spark import")
    p.add_argument("--input", help="images parquet (image_id, bytes, w, h, fmt, caption, phash); omit to synthesize")
    p.add_argument("--n-images", type=int, default=10000, help="synthetic image count when --input absent")
    p.add_argument("--layerset", default="everything")
    p.add_argument(
        "--layerset-path", default=None,
        help="directory holding <layerset>.ini (custom layerset, reference "
        "--layerset-path / PGOSM_LAYERSET_PATH semantics); default: built-in "
        "layerset names",
    )
    p.add_argument(
        "--language", default=None,
        help="best-name language preference (name:<lang> first — reference "
        "PGOSM_LANGUAGE); default: PGOSM_LANGUAGE env var, else OSM wiki "
        "priority only",
    )
    p.add_argument("--region", default="synthetic-dc")
    p.add_argument("--out", required=True)
    p.add_argument("--date", default="1970-01-01")
    p.add_argument("--mode", default="create", choices=["create", "append", "stream"])
    p.add_argument(
        "--diff",
        help="(append mode) parquet of new/changed image rows; only the "
        "coarse cells these rows touch are recomputed (I2/I3 semantics)",
    )
    p.add_argument("--unit-res", type=int, default=4, help="checkpoint unit cell resolution")
    p.add_argument(
        "--srid", type=int, default=4326,
        help="output SRID for exported geometry (reference --srid; 4326 "
        "native or 3857 web-mercator meters)",
    )
    p.add_argument("--force", action="store_true")
    p.add_argument("--skip-nested", action="store_true")
    p.add_argument(
        "--skip-qgis-style", action="store_true",
        help="skip loading the QGIS layer_styles table (reference "
        "--skip-qgis-style)",
    )
    p.add_argument(
        "--qgis-styles-dump", default=None,
        help="pg_dump file holding layer_styles_staging COPY rows (e.g. the "
        "reference's db/qgis-style/layer_styles.sql); default: built-in "
        "placeholder styles",
    )
    p.add_argument("--cpus", type=int, default=None)
    p.add_argument(
        "--world-scale", type=int, default=1,
        help="replicate the synthetic feature world K× onto a disjoint "
        "lon/lat tile grid (fixtures.osm_objects_scaled_df) and spread the "
        "point stream over the same tiles by xxhash64(image_id) %% K — makes "
        "every job section data-proportional (the scaling-measurement lever; "
        "1 = the unscaled fixture world)",
    )
    # the routed bundle is the only layout; the flag is accepted and ignored
    p.add_argument("--routed-export", action="store_true", help=argparse.SUPPRESS)
    args = p.parse_args()

    from pgosm_flex_spark import __version__, fixtures
    from pgosm_flex_spark.functions import tags as tagf
    from pgosm_flex_spark.layers import build_layer_tables
    from pgosm_flex_spark.operators import relation_member_dedup
    from pgosm_flex_spark.operators.nested import build_nested_admin_polygons
    from pgosm_flex_spark.plans import ImportMode
    from pgosm_flex_spark.plans.checkpoint import checkpointed_pip_join
    from pgosm_flex_spark.functions.scalars import resolve_language
    from pgosm_flex_spark.layers.registry import resolve_layerset_path
    from pgosm_flex_spark.geometry.srid import _check_srid
    from pgosm_flex_spark.session import ARCHIVE_CONF, get_spark
    from pgosm_flex_spark.sinks import export_bundle, write_layer_table

    # fail fast: an unsupported SRID must die in milliseconds, not after
    # the containment join has run for hours inside the export thread
    _check_srid(args.srid)
    # resolve the reference's env channel ONCE at the job boundary and pass
    # it explicitly everywhere — the library itself is deliberately not
    # environment-sensitive (oracle determinism), and mutating os.environ
    # here would leak config into later in-process invocations
    language = resolve_language(args.language)
    layerset_path = resolve_layerset_path(args.layerset_path)

    spark = get_spark("pgosm-flex-spark-import", cores=args.cpus)
    t0 = time.time()

    # streaming mode: drain the input dir through the stateful-dedup →
    # layer-mapping → MERGE pipeline; the stream checkpoint (not the batch
    # journal) carries resume state, so the ImportMode guard does not apply
    if args.mode == "stream":
        if not args.input:
            print("--mode stream requires --input (a stream directory)", file=sys.stderr)
            return 2
        if args.srid != 4326:
            # the streaming MERGE table carries lon/lat points only; a
            # silent 4326 output under --srid 3857 would contradict the
            # srid module's raise-not-pass-through policy
            print("--mode stream supports --srid 4326 only", file=sys.stderr)
            return 2
        from pgosm_flex_spark.streaming.import_stream import run_stream_import

        target = run_stream_import(
            spark,
            args.input,
            os.path.join(args.out, "_stream_checkpoint"),
            args.out,
            layerset=args.layerset,
            unit_res=args.unit_res,
            layerset_path=layerset_path,
            language=language,
        )
        n = spark.read.parquet(target).count()
        out_row = {
            "status": "Completed", "mode": "stream", "rows": n,
        }
        # the reference loads QGIS styles on every run (prepare_pgosm_db);
        # stream runs get the same treatment unless skipped
        if not args.skip_qgis_style:
            from pgosm_flex_spark.styles import load_qgis_styles, staging_from_pg_dump

            staging = (
                staging_from_pg_dump(spark, args.qgis_styles_dump)
                if args.qgis_styles_dump
                else None
            )
            out_row["qgis_styles"] = load_qgis_styles(
                spark, args.out, staging=staging
            ).count()
        out_row["wall_seconds"] = round(time.time() - t0, 1)
        print(json.dumps(out_row))
        return 0

    mode = ImportMode(update=args.mode if args.mode == "append" else None, force=args.force)
    prior_path = os.path.join(args.out, "manifest.json")
    prior = None
    if os.path.exists(prior_path):
        with open(prior_path) as f:
            prior = json.load(f)
        prior = {"engine_version": prior.get("engine_version", "0"), "status": "completed"}
    if not mode.okay_to_run(prior, __version__):
        print(
            "prior output exists (or was made by a newer engine); "
            "use --force or --mode append",
            file=sys.stderr,
        )
        return 2

    sections: dict[str, float] = {}

    # The job's stage DAG has two independent chains until the containment
    # join: the VARIABLE-size point side (read → tag parse → persist) and
    # the FIXED-size feature world (layer mapping → relation dedup → nested
    # rebuild → layer-table export). Running them serially charges the
    # fixed-world wall to every job regardless of core count — the Amdahl
    # term that capped the measured full-job scaling pairs (BASELINE.md
    # §Full-JOB scaling: ~26 s flat at both 4 and 16 cores against a
    # 141 s 16-core leg). A real cluster driver submits independent stage
    # DAGs concurrently; the same pattern here: the fixed world builds on a
    # second driver thread while the point side materializes, and the
    # export runs concurrently with the checkpointed join (disjoint output
    # dirs, journal appends are concurrent-safe). FAIR scheduler pools
    # (session.py) give both chains task slots; under FIFO (e.g. an
    # already-running test session) the overlap degrades gracefully to
    # leftover-slot scheduling with identical results.
    pool = ThreadPoolExecutor(max_workers=1, thread_name_prefix="fixed-world")

    def build_fixed_world():
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", "fixed_world")
        t = time.time()
        # 3. layer mapping over one shared scan (feature side: fixture world,
        # replicated K× under --world-scale so this chain scales with data)
        osm = fixtures.osm_objects_scaled_df(spark, args.world_scale).cache()
        tables = build_layer_tables(
            osm, layerset=args.layerset, layerset_path=layerset_path,
            language=language,
        )
        # 4. post-processing: relation dedup always precedes the join (it
        # defines the place_polygon table). Persisted lazily: the cover
        # build, the export and the nested rebuild all read it, and the
        # first of them fills the cache instead of each re-running the
        # anti-join. The nested rebuild runs on fresh imports
        # (run_post_sql) AND at append finish (I3 —
        # replication_functions.sql:22-38 refreshes derived artifacts after
        # applying a diff). It is lazy too: its cost lands in the write of
        # place_polygon_nested after the export (the "export_bundle"
        # section).
        place_polygon = nested = None
        if "place_polygon" in tables:
            place_polygon = relation_member_dedup(tables["place_polygon"]).persist()
            if not args.skip_nested and (mode.run_post_sql or args.mode == "append"):
                nested = build_nested_admin_polygons(
                    place_polygon.filter(F.col("geom_wkb").isNotNull())
                )
        sections["layer_post_processing"] = round(time.time() - t, 1)
        return osm, place_polygon, nested

    fut_world = pool.submit(build_fixed_world)
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", "points")
    _last = time.time()

    def mark(name: str) -> None:
        nonlocal _last
        now = time.time()
        sections[name] = round(now - _last, 1)
        _last = now

    # 2. input — project to the three point columns BEFORE the persist
    # below: every downstream consumer (unit restriction, count, the
    # containment join) needs only (image_id, lon, lat). Persisting the
    # full tag-mapped row (caption, tags map — and at production scale the
    # image `bytes` payload) multiplies the store's footprint, and at high
    # core counts the resulting execution-memory pressure evicts partitions
    # to disk mid-join (measured: the 16-core leg's per-row rate degraded
    # 740k→500k rows/s at 96M while the 4-core leg held steady)
    if args.input:
        images = spark.read.parquet(args.input)
    else:
        images = fixtures.images_df(spark, args.n_images, with_pixels=False)
    def geotagged_points(frame):
        """(image_id, lon, lat) from an images frame — caption geotag
        extraction when present, else the pre-parsed fast path (an input
        parquet already holding lon/lat columns); world-scale replica
        mapping applied the same way to inputs AND diffs."""
        if "caption" in frame.columns:
            p = tagf.with_lonlat(frame)  # geotag-only fast path: no tag map
        elif {"lon", "lat"} <= set(frame.columns):
            p = frame
        else:
            raise SystemExit(
                "input parquet needs a caption column or lon/lat columns"
            )
        p = p.filter(F.col("lon").isNotNull()).select("image_id", "lon", "lat")
        if args.world_scale > 1:
            # same tile grid as the scaled feature world: replica by id
            # hash, pure codegen — the point stream covers every replica
            rep = F.pmod(F.xxhash64(F.col("image_id")), F.lit(args.world_scale))
            dx, dy = fixtures.replica_shift_cols(rep, args.world_scale)
            p = p.select(
                "image_id",
                (F.col("lon") + dx).alias("lon"),
                (F.col("lat") + dy).alias("lat"),
            )
        return p

    pts = geotagged_points(images)

    from pgosm_flex_spark.index import cells

    # the join's unit cell rides along from the start: the SAME persisted
    # frame serves the append restriction, the unit discovery, and every
    # per-unit filter — the join wrapper used to re-persist a second
    # full-size copy just to add this column (double cache + a fill pass
    # + a whole-cache distinct scan before the first unit; measured
    # 124-488 task-seconds at 96M points)
    pts = pts.withColumn(
        "__unit", cells.cell_col(F.col("lon"), F.col("lat"), args.unit_res)
    )

    # 2b. append start (I2): a diff invalidates exactly the coarse cells it
    # touches — the join below recomputes ONLY those units (their partition
    # dirs overwrite idempotently; every other unit's files stay, the
    # reference's per-region invalidation instead of row patching)
    touched_units = None
    expected_units = None
    job_salt = ""
    if args.mode == "append" and args.diff:
        from pgosm_flex_spark.streaming.incremental import affected_cells

        diff_pts = geotagged_points(spark.read.parquet(args.diff))
        # the checkpoint job identity must include the DIFF CONTENT, not
        # just (region, date): an append run that reuses the previous
        # --date (it defaults to 1970-01-01) would otherwise find every
        # touched unit already journaled completed, skip all recomputation,
        # and report success while silently ignoring the diff. bit_xor of
        # row hashes is order-independent and overflow-free, so a crashed
        # append of the SAME diff still resumes its completed units while
        # any new diff content forces its touched cells to recompute.
        sig_row = diff_pts.agg(
            F.expr("bit_xor(xxhash64(image_id, lon, lat))").alias("sig"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        job_salt = "-d%x" % (((sig_row["sig"] or 0) ^ sig_row["n"]) % (1 << 64))
        touched = affected_cells(diff_pts, res=args.unit_res)
        # every touched cell must recompute even if it ends up with ZERO
        # points (the diff removed/moved its last rows) — otherwise its
        # stale unit dir survives and stored pairs diverge from a full run
        expected_units = [str(r["cell"]) for r in touched.collect()]
        touched_units = len(expected_units)
        pts = pts.join(
            F.broadcast(touched), pts["__unit"] == touched["cell"]
        ).drop("cell")

    # materialize the point side once (shared by the join and any append
    # restriction) and charge it to its own section — downstream sections
    # then time their own work, not the input lineage. ONE aggregation
    # yields both the row count and the unit set (cell_col is a pure
    # map-side-combinable key: ≤ a few thousand groups at unit_res)
    pts = pts.persist()
    unit_rows = pts.groupBy("__unit").count().collect()
    n_pts = sum(r["count"] for r in unit_rows)
    point_units = [str(r["__unit"]) for r in unit_rows]
    mark("points_materialize")

    # barrier: the join needs place_polygon; a fixed-world failure surfaces
    # here (future re-raises), not as a hung join
    osm, place_polygon, nested = fut_world.result()

    # 6 (concurrent with 5). export bundle — every layer table in ONE source
    # scan (layers/router.py), the deduped place_polygon in the same stream;
    # then the derived nested table in its own dir (no geometry or lon/lat,
    # so nothing to project). Independent of the join's output dir, so it
    # runs on the fixed-world thread while the join runs here. The sink
    # writes no manifest.json: the job writes that completion marker after
    # the containment join, so a run whose join crashes is not "completed".
    def do_export():
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", "export")
        t = time.time()
        m = export_bundle(
            spark, osm, args.out, region=args.region,
            layerset=args.layerset, pgosm_date=args.date, srid=args.srid,
            layerset_path=layerset_path, language=language,
            place_polygon=place_polygon,
        )
        if nested is not None:
            m["tables"]["place_polygon_nested"] = write_layer_table(
                nested, args.out, "place_polygon_nested"
            )
        sections["export_bundle"] = round(time.time() - t, 1)
        return m

    fut_export = pool.submit(do_export)

    # 5. flagship containment join, checkpointed per coarse cell; in append
    # mode pts is already restricted to touched cells and the diff-salted job_id
    # makes their units recompute while untouched unit dirs persist
    _last = time.time()
    pair_metrics = {}
    if place_polygon is not None:
        polys = place_polygon.filter(F.col("geom_wkb").isNotNull())
        pair_metrics = checkpointed_pip_join(
            spark,
            pts.select("image_id", "lon", "lat", "__unit"),
            polys,
            os.path.join(args.out, "image_place_pairs"),
            job_id=f"{args.region}-{args.date}{job_salt}",
            point_cols=["image_id"],
            expected_units=expected_units,
            unit_col="__unit",
            units=point_units,
        )
    mark("pip_join_checkpointed")

    manifest = fut_export.result()
    pool.shutdown(wait=True)

    # 6. QGIS layer styles (reference: prepare_pgosm_db → load_qgis_styles
    # on every run unless --skip-qgis-style; anti-join merge never
    # overwrites user-customized styles, so re-running is idempotent)
    if not args.skip_qgis_style:
        from pgosm_flex_spark.styles import load_qgis_styles, staging_from_pg_dump

        staging = (
            staging_from_pg_dump(spark, args.qgis_styles_dump)
            if args.qgis_styles_dump
            else None
        )
        styles = load_qgis_styles(spark, args.out, staging=staging)
        manifest["qgis_styles"] = styles.count()
    manifest["pip_units"] = {
        "total": len(pair_metrics),
        "skipped_resume": sum(1 for m in pair_metrics.values() if m.get("skipped")),
    }
    if touched_units is not None:
        manifest["pip_units"]["append_touched_cells"] = touched_units
    manifest["wall_seconds"] = round(time.time() - t0, 1)
    manifest["sections"] = sections
    manifest["n_points"] = n_pts
    manifest["world_scale"] = args.world_scale
    # metadata-row parity with osm.pgosm_flex (db/deploy/osm_pgosm_flex.sql:
    # region/layerset/srid/version/language/import_mode/input_file — the
    # reference writes one row per import; the manifest is that row here)
    manifest["srid"] = args.srid
    manifest["language"] = language or ""
    manifest["input_file"] = args.input
    manifest["import_mode"] = args.mode
    # how this session's driver JVM started: "mapped", "dumping" (the one
    # slower run that records the class archive) or "off:<reason>"
    manifest["class_archive"] = spark.conf.get(ARCHIVE_CONF, "off:jvm-running")
    # library-mode hygiene: nothing stays pinned in executor memory at exit
    osm.unpersist(blocking=False)
    pts.unpersist(blocking=False)
    if place_polygon is not None:
        place_polygon.unpersist(blocking=False)
    with open(prior_path, "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)
    print(json.dumps({"status": "Completed", **manifest["pip_units"],
                      "tables": len(manifest["tables"]),
                      "n_points": n_pts,
                      "sections": sections,
                      "wall_seconds": manifest["wall_seconds"]}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
