"""Table sinks + export bundle — SURVEY.md S3/S4.

The reference bulk-loads typed tables into PostGIS and optionally pg_dumps
the schema to a dated artifact (/root/reference/docker/db.py:615-647, name
derivation docker/pgosm_flex.py:367-416). Here an export bundle is one
routed parquet directory holding every layer table, one partition dir per
table with its rows sorted by cell (table pruning by directory, cell
pruning by parquet statistics), plus the run metadata the reference stores
in its import journal (region/layerset/date/row counts), which the import
job writes as manifest.json — the artifact a downstream consumer would
sync. Tables derived after the export
(place_polygon_nested, enrichment outputs) write one directory each via
:func:`write_layer_table`. Every writer counts its rows while it writes
(``DataFrame.observe``), so a table costs only its write jobs; nothing is
read back.

With Iceberg jars on the cluster the same writes map to
``df.writeTo(tbl).using("iceberg")`` with a sort order on the cell column;
plain parquet is the sandbox fallback. Pages are zstd-compressed, Iceberg's
default codec (the session's ``spark.sql.parquet.compression.codec``, set
by session.get_spark).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from pgosm_flex_spark import __version__
from pgosm_flex_spark.index import cells

# cell resolution of every written table's cell_p column
CELL_RES = 8


def _with_cell_p(df: DataFrame, cell_res: int) -> DataFrame:
    """``cell_p``: the coarse cell of a row's point location, -1 without
    one — the pruning key."""
    return df.withColumn(
        "cell_p",
        F.when(
            F.col("lon").isNotNull(),
            cells.cell_col(F.col("lon"), F.col("lat"), cell_res),
        ).otherwise(F.lit(-1)),
    )


def write_layer_table(
    df: DataFrame,
    out_dir: str,
    name: str,
    cell_res: int = CELL_RES,
) -> int:
    """Write one layer table, cell-bucketed for pruning: rows with a point
    location gain a coarse cell column used as the partition key (the
    'index' analog of the reference's per-table GiST specs,
    /root/reference/flex-config/helpers.lua:442-573).

    Overwrites ``out_dir/name`` and returns the written table's row count,
    observed by the write itself: counting ``df`` would run the whole table
    pipeline a second time, and reading the output back costs jobs of its
    own. The write adds no shuffle, so it stays one file per task per dir:
    clustering the enrich tables split their one-file tables into several,
    each with its own dictionaries, and stored more bytes."""
    target = os.path.join(out_dir, name)
    partitioned = "lon" in df.columns and "lat" in df.columns
    if partitioned:
        df = _with_cell_p(df, cell_res)
    rows = Observation()
    writer = df.observe(rows, F.count(F.lit(1)).alias("rows")).write.mode("overwrite")
    if partitioned:
        writer = writer.partitionBy("cell_p")
    writer.parquet(target)
    return rows.get["rows"]


def export_bundle(
    spark: SparkSession,
    osm: DataFrame,
    out_dir: str,
    region: str,
    layerset: str,
    pgosm_date: str,
    srid: int = 4326,
    layerset_path: str | None = None,
    language: str | None = None,
    place_polygon: DataFrame | None = None,
) -> dict:
    """Write every layer table of ``layerset`` from ONE scan of ``osm``.
    Returns the manifest dict; ``manifest.json`` itself is never written
    here: it is the completion marker ``ImportMode.okay_to_run`` checks, so
    the caller writes it once every other section of its run has finished.

    layers/router.py:route_layer_rows evaluates all membership predicates
    and all projections in one whole-stage-codegen pass; the superset is
    written to ``out_dir/routed`` partitioned by ``layer_table``, and each
    table is a partition-pruned, column-pruned slice (read it back with
    router.read_layer_table). One rebalance shuffle keyed by ``layer_table``
    sends each table to one reduce partition, which AQE coalesces with other
    small tables or splits at its advisory size, so a table is one file
    unless it is large; a dynamic-partition write without it emits one file
    per (task × dir it touches). Within a file rows are sorted by
    ``cell_p`` (Iceberg's sort order on the cell column), so a cell filter
    skips row groups through parquet statistics.

    ``place_polygon``: the post-processed table (relation_member_dedup of
    the raw slice). When given, it replaces the router's raw
    ``place_polygon`` rows in the same stream, so it is written, projected
    and read back like every other table.

    ``srid``: 4326 (native) or 3857, the reference's ``--srid`` surface;
    3857 adds x/y meter coordinates and reprojects geom_wkb once over the
    whole stream (geometry/srid.py:with_projected).

    An earlier per-table layout kept each table in ``out_dir/<name>``; an
    export over such a bundle removes those dirs once the routed write has
    succeeded, so no table is stored twice.

    Bundle name mirrors the reference's dump naming
    (docker/pgosm_flex.py:553-570): <region>-<layerset>-<date>. Per-table
    counts are observed during the write, one ``count_if`` per expected
    table, so the export runs no job after its write; zero-row tables are
    listed with 0.
    """
    from pgosm_flex_spark.geometry.srid import with_projected
    from pgosm_flex_spark.layers.registry import _wanted_tables
    from pgosm_flex_spark.layers.router import route_layer_rows

    os.makedirs(out_dir, exist_ok=True)
    expected = _wanted_tables(layerset, layerset_path)

    routed = route_layer_rows(
        osm, layerset=layerset, layerset_path=layerset_path, language=language
    )
    if place_polygon is not None:
        routed = routed.filter(F.col("layer_table") != "place_polygon").unionByName(
            place_polygon.select(F.lit("place_polygon").alias("layer_table"), "*"),
            allowMissingColumns=True,
        )
    routed = (
        _with_cell_p(with_projected(routed, srid), CELL_RES)
        .hint("rebalance", "layer_table")
        .sortWithinPartitions("layer_table", "cell_p")
    )
    # the observation sits after the shuffle: placed before it, an empty
    # source left the metrics unset with AQE on, and Observation.get failed
    # instead of returning zeros
    tables = Observation()
    routed = routed.observe(
        tables, *[F.count_if(F.col("layer_table") == n).alias(n) for n in expected]
    )
    target = os.path.join(out_dir, "routed")
    routed.write.mode("overwrite").partitionBy("layer_table").parquet(target)
    counts = tables.get

    for name in expected:
        stale = os.path.join(out_dir, name)
        if os.path.isdir(stale):
            shutil.rmtree(stale)

    return {
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


# perfbench/spans.py wraps both names
export_bundle_routed = export_bundle


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
