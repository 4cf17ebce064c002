"""Table sinks + export bundle — SURVEY.md S3/S4.

The reference bulk-loads typed tables into PostGIS and optionally pg_dumps
the schema to a dated artifact (/root/reference/docker/db.py:615-647, name
derivation docker/pgosm_flex.py:367-416). Here every layer table writes as
parquet partitioned/sorted for cell pruning, and an export bundle is a
directory of per-table parquet plus a manifest.json carrying the run
metadata the reference stores in its import journal (region/layerset/date/
row counts) — the artifact a downstream consumer would sync.

With Iceberg jars on the cluster the same writes map to
``df.writeTo(tbl).using("iceberg")`` with a sort order on the cell column;
plain parquet is the sandbox fallback.
"""

from __future__ import annotations

import json
import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.errors import AnalysisException

from pgosm_flex_spark import __version__
from pgosm_flex_spark.index import cells


def write_layer_table(
    df: DataFrame,
    out_dir: str,
    name: str,
    cell_res: int = 8,
) -> int:
    """Write one layer table, cell-bucketed for pruning: rows with a point
    location gain a coarse cell column used as the partition key (the
    'index' analog of the reference's per-table GiST specs,
    /root/reference/flex-config/helpers.lua:442-573).

    Overwrites ``out_dir/name`` and returns the written table's row count."""
    target = os.path.join(out_dir, name)
    if "lon" in df.columns and "lat" in df.columns:
        df = df.withColumn(
            "cell_p",
            F.when(
                F.col("lon").isNotNull(),
                cells.cell_col(F.col("lon"), F.col("lat"), cell_res),
            ).otherwise(F.lit(-1)),
        )
        df.write.mode("overwrite").partitionBy("cell_p").parquet(target)
    else:
        df.write.mode("overwrite").parquet(target)
    # count from the written files: parquet count() is satisfied from
    # row-group metadata (no data read), while counting ``df`` would run
    # the whole table pipeline a second time — at scale that doubles the
    # export's source scans. A zero-row table leaves no parquet files
    # behind and cannot be re-read without a schema → 0.
    try:
        return df.sparkSession.read.parquet(target).count()
    except AnalysisException:
        # only the no-files case (schema cannot be inferred / path has
        # just _SUCCESS); a transient count failure must still raise —
        # swallowing it would report a written table as 0 rows
        return 0


def export_bundle(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    out_dir: str,
    region: str,
    layerset: str,
    pgosm_date: str,
    write_manifest: bool = True,
    srid: int = 4326,
) -> dict:
    """Write every layer table + manifest. Returns the manifest dict.

    ``srid``: 4326 (native) or 3857 — the reference's ``--srid`` surface;
    3857 adds x/y meter coordinates and reprojects geom_wkb per table
    (geometry/srid.py) before writing.

    ``write_manifest=False`` skips the ``manifest.json`` write (the dict is
    still returned): manifest.json doubles as the COMPLETION MARKER that
    ``ImportMode.okay_to_run`` checks, so a caller composing this bundle
    with other concurrent sections (jobs/import_job.py runs it alongside
    the checkpointed containment join) must write the marker itself only
    after EVERY section has finished — otherwise a crash in a later section
    leaves a completed-looking bundle behind.

    Bundle name mirrors the reference's dump naming
    (docker/pgosm_flex.py:553-570): <region>-<layerset>-<date>.
    """
    os.makedirs(out_dir, exist_ok=True)
    if srid != 4326:
        from pgosm_flex_spark.geometry.srid import project_tables

        tables = project_tables(tables, srid)
    # concurrent table writes (same pattern as the checkpointed join's unit
    # dispatch, plans/checkpoint.py): each table's write is its own Spark
    # job whose fixed overhead and straggler tail would otherwise serialize
    # 45×; the scheduler interleaves the jobs' stages over the shared cached
    # scan so small-table jobs fill the cores a big table leaves idle.
    # Threads only drive job submission — Spark's scheduler is the actual
    # concurrency, so a modest pool is enough.
    names = sorted(tables)
    with ThreadPoolExecutor(max_workers=min(8, max(1, len(names)))) as ex:
        counts = dict(
            zip(
                names,
                ex.map(lambda n: write_layer_table(tables[n], out_dir, n), names),
            )
        )
    manifest = {
        "bundle": f"{region.replace('/', '-')}-{layerset}-{pgosm_date}",
        "region": region,
        "layerset": layerset,
        "pgosm_date": pgosm_date,
        "engine_version": __version__,
        "srid_convention": (
            "EPSG:4326 coordinates; web-mercator cell/tile grid"
            if srid == 4326
            else f"EPSG:{srid} x/y + geom_wkb; EPSG:4326 lon/lat retained; "
            "web-mercator cell/tile grid"
        ),
        "tables": counts,
    }
    if write_manifest:
        with open(os.path.join(out_dir, "manifest.json"), "w") as f:
            json.dump(manifest, f, indent=2, sort_keys=True)
    return manifest


def export_bundle_routed(
    spark: SparkSession,
    osm: DataFrame,
    out_dir: str,
    region: str,
    layerset: str,
    pgosm_date: str,
    cell_res: int = 8,
    overrides: dict[str, DataFrame] | None = None,
    files_per_partition: int | None = 4,
    write_manifest: bool = True,
    srid: int = 4326,
    layerset_path: str | None = None,
    language: str | None = None,
) -> dict:
    """Single-pass export: ONE scan of ``osm`` writes every layer table.

    ``srid`` as in :func:`export_bundle`: 3857 projects the routed superset
    (one codegen x/y + one kernel pass over the single stream — the routed
    path pays the reprojection once, not per table). Override tables are
    the caller's frames: pre-projected ones (carrying x/y, as
    jobs/import_job.py passes) write as-is, unprojected ones with lon/lat
    are projected here, and ambiguous wkb-only frames raise rather than
    ship degrees under the manifest's EPSG:3857 label.

    Where :func:`export_bundle` runs one write job per table (45 jobs whose
    source scans the cached ``osm`` 45×), this routes every row through
    layers/router.py:route_layer_rows — all membership predicates and all
    projections evaluate in one whole-stage-codegen pass — and writes the
    superset partitioned by ``(layer_table, cell_p)``. Each table is then a
    partition-pruned, column-pruned slice (read it back via
    router.read_layer_table). At 100 TB this turns the export stage from
    45 source scans into 1.

    ``overrides``: tables whose export rows are NOT the raw builder output
    (e.g. place_polygon after relation_member_dedup, or the derived
    place_polygon_nested) — these write conventionally via
    :func:`write_layer_table` into per-table subdirs, and the routed stream
    drops its raw slice for any overridden table so the bundle never holds
    two versions of one table.

    ``files_per_partition``: without it, a dynamic-partition write emits one
    file per (task × partition dir it touches) — at 10^3 tasks × 45 tables ×
    many cells that is a small-file explosion no metastore enjoys. Setting it
    adds ONE clustering shuffle keyed (layer_table, cell_p, salt<k) so each
    partition dir receives at most k files, with hot (table, cell) dirs still
    spread over k writers (the salt bounds skew). One shuffle traded against
    45 source scans is the same bargain the router itself makes. ``None``
    disables (tiny inputs/tests).

    Manifest shape matches :func:`export_bundle` (plus ``routed: True``);
    per-table counts come from the written parquet's partition/metadata
    (no second pipeline execution), zero-row tables are listed with 0.
    """
    from pgosm_flex_spark.layers.registry import _wanted_tables
    from pgosm_flex_spark.layers.router import route_layer_rows

    os.makedirs(out_dir, exist_ok=True)
    overrides = overrides or {}
    expected = _wanted_tables(layerset, layerset_path)

    routed = route_layer_rows(
        osm, layerset=layerset, layerset_path=layerset_path, language=language
    )
    if srid != 4326:
        from pgosm_flex_spark.geometry.srid import with_projected

        routed = with_projected(routed, srid)
    if overrides:
        keep = [n for n in expected if n not in overrides]
        routed = routed.filter(F.col("layer_table").isin(keep))
    routed = routed.withColumn(
        "cell_p",
        F.when(
            F.col("lon").isNotNull(),
            cells.cell_col(F.col("lon"), F.col("lat"), cell_res),
        ).otherwise(F.lit(-1)),
    )
    target = os.path.join(out_dir, "routed")
    if files_per_partition:
        routed = routed.repartition(
            F.col("layer_table"),
            F.col("cell_p"),
            F.pmod(F.xxhash64(F.col("osm_id")), F.lit(files_per_partition)),
        )
    counts = {n: 0 for n in expected}
    routed.write.mode("overwrite").partitionBy("layer_table", "cell_p").parquet(target)

    # counts from the written files: layer_table is a partition column,
    # so this group-count is satisfied from directory metadata +
    # row-group footers, not a re-run of the routing pipeline
    try:
        for r in spark.read.parquet(target).groupBy("layer_table").count().collect():
            counts[r["layer_table"]] = r["count"]
    except AnalysisException:
        # an empty source writes no partition dirs at all (just
        # _SUCCESS), which parquet cannot infer a schema from — every
        # table is 0 rows. Anything else (executor loss, FS hiccup)
        # must raise, not report a freshly-written bundle as all-zero.
        pass
    for name in sorted(overrides):
        ov = overrides[name]
        if srid != 4326:
            # override frames are the caller's; make the manifest's
            # EPSG:{srid} claim true for them regardless of whether the
            # caller pre-projected. Pre-projected frames carry x/y (lon/lat
            # stay degrees through with_projected), so their presence is the
            # reliable already-done marker — re-projecting would double-map
            # geom_wkb. A frame with neither x/y nor lon/lat is ambiguous
            # (is its wkb meters or degrees?) and must fail loudly.
            ov_cols = set(ov.columns)
            if {"x", "y"} <= ov_cols:
                pass  # pre-projected (jobs/import_job.py path)
            elif {"lon", "lat"} & ov_cols or "geom_wkb" not in ov_cols:
                from pgosm_flex_spark.geometry.srid import with_projected

                ov = with_projected(ov, srid)
            else:
                raise ValueError(
                    f"override table {name!r} for srid={srid} carries "
                    "geom_wkb but neither x/y (pre-projected) nor lon/lat "
                    "(projectable) — cannot tell whether its geometry is "
                    "already in the target SRID; project it with "
                    "geometry.srid.with_projected first"
                )
        counts[name] = write_layer_table(ov, out_dir, name, cell_res=cell_res)

    manifest = {
        "bundle": f"{region.replace('/', '-')}-{layerset}-{pgosm_date}",
        "region": region,
        "layerset": layerset,
        "pgosm_date": pgosm_date,
        "engine_version": __version__,
        "srid_convention": (
            "EPSG:4326 coordinates; web-mercator cell/tile grid"
            if srid == 4326
            else f"EPSG:{srid} x/y + geom_wkb; EPSG:4326 lon/lat retained; "
            "web-mercator cell/tile grid"
        ),
        "routed": True,
        "tables": counts,
    }
    if write_manifest:
        # same completion-marker contract as export_bundle
        with open(os.path.join(out_dir, "manifest.json"), "w") as f:
            json.dump(manifest, f, indent=2, sort_keys=True)
    return manifest


def merge_into_partitioned(
    spark: SparkSession,
    target_dir: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_col: str = "cell_p",
) -> dict:
    """MERGE INTO for the parquet sandbox: upsert ``updates`` into a
    partitioned target, rewriting ONLY the partitions the updates touch
    (everything Iceberg's MERGE does at the file level, minus snapshot
    isolation — with Iceberg jars this function becomes a single
    ``MERGE INTO`` statement; the caller contract is identical).

    Per touched partition: old rows whose key collides with an update are
    replaced, others kept. Uses dynamic partition overwrite so untouched
    partitions' files are never rewritten (verified by test via file
    mtimes). Returns {touched_partitions, upserted_rows}.
    """
    if partition_col not in updates.columns:
        raise ValueError(f"updates must carry the partition column {partition_col!r}")
    # materialize once: the updates plan is consumed FOUR times below
    # (touched collect, count, anti-join, union write) — for a streaming
    # foreachBatch caller that plan is the whole micro-batch pipeline and
    # would re-execute each time. persist (not localCheckpoint) so the pin
    # is released on exit instead of orphaning one RDD per call.
    updates = updates.persist()
    try:
        touched = [r[0] for r in updates.select(partition_col).distinct().collect()]
        n_up = updates.count()
        if not os.path.isdir(target_dir) or not touched:
            updates.write.mode("append").partitionBy(partition_col).parquet(target_dir)
            return {"touched_partitions": len(touched), "upserted_rows": n_up}

        target = spark.read.parquet(target_dir)
        old_touched = target.filter(F.col(partition_col).isin(touched))
        survivors = old_touched.join(
            updates.select(*key_cols).distinct(), key_cols, "left_anti"
        )
        merged = survivors.select(*updates.columns).unionByName(updates)
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            # localCheckpoint breaks the read-from-target lineage so the
            # dynamic overwrite does not read partitions it is deleting
            # mid-write
            merged.localCheckpoint(eager=True).write.mode("overwrite").partitionBy(
                partition_col
            ).parquet(target_dir)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        return {"touched_partitions": len(touched), "upserted_rows": n_up}
    finally:
        updates.unpersist(blocking=False)
