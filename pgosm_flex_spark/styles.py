"""QGIS layer-styles table — the reference's style-distribution surface.

The reference ships QGIS ``layer_styles`` rows (QML/SLD XML per layer
table) and loads them on every fresh import unless ``--skip-qgis-style``:
create table → load staging from a pg_dump artifact → point
``f_table_catalog`` at the target database → insert ONLY styles not
already present (anti-join on catalog/schema/table/stylename, so a user's
customized styles are never overwritten) → clean staging
(/root/reference/docker/qgis_styles.py:13-29,
db/qgis-style/_load_layer_styles.sql, create_layer_styles.sql).

Here the prod table is a parquet table in the export bundle, and the load
is one anti-join + append of a few rows, done on the driver with pandas and
pyarrow: it runs no Spark job unless the staging styles come from one. The
reference's actual XML payloads are a data artifact its repo ships
(db/qgis-style/layer_styles.sql) — a user
brings that file and :func:`staging_from_pg_dump` ingests it via the
pg_dump COPY source; :func:`placeholder_styles_df` provides a minimal
deterministic stand-in (same rows/keys as the reference's four styled
tables, stub QML bodies) so the pipeline is exercised without copying the
reference's artwork.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LAYER_STYLES_SCHEMA = (
    "id int, f_table_catalog string, f_table_schema string, "
    "f_table_name string, f_geometry_column string, stylename string, "
    "styleqml string, stylesld string, useasdefault boolean, "
    "description string, owner string, ui string, update_time timestamp, "
    "type string"
)
# the same schema for the driver-side merge; timestamps are UTC instants,
# which Spark reads back as ``timestamp``
_ARROW_TYPES = {
    "int": pa.int32(), "string": pa.string(), "boolean": pa.bool_(),
    "timestamp": pa.timestamp("us", tz="UTC"),
}
_ARROW_SCHEMA = pa.schema(
    [(n, _ARROW_TYPES[t]) for n, t in (f.split() for f in LAYER_STYLES_SCHEMA.split(", "))]
)
_COLS = _ARROW_SCHEMA.names

# the four (table, stylename) keys the reference styles
# (db/qgis-style/layer_styles.sql COPY rows 1-4)
_PLACEHOLDER_KEYS = [
    ("road_line", "osm_road_line"),
    ("building_polygon", "osm_building_polygon"),
    ("landuse_polygon", "osm_landuse_polygon"),
    ("vplace_polygon", "place_polygon"),
]


def _stub_qml(table: str) -> str:
    return (
        "<!DOCTYPE qgis PUBLIC 'http://mrcc.com/qgis.dtd' 'SYSTEM'>"
        f"<qgis styleCategories=\"AllStyleCategories\"><!-- placeholder "
        f"style for {table}; load the reference's layer_styles.sql via "
        "staging_from_pg_dump for the shipped artwork --></qgis>"
    )


def _placeholder_rows() -> list[tuple]:
    return [
        (
            i + 1, "pgosm", "osm", tbl, "geom", style, _stub_qml(tbl), None,
            True, f"placeholder {style}", "pgosm_flex_spark", None, None,
            "Normal",
        )
        for i, (tbl, style) in enumerate(_PLACEHOLDER_KEYS)
    ]


def placeholder_styles_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(_placeholder_rows(), schema=LAYER_STYLES_SCHEMA)


def staging_from_pg_dump(spark: SparkSession, dump_path: str) -> DataFrame:
    """The reference's own ``layer_styles.sql`` (or any pg_dump of a
    layer_styles table) → a typed staging frame."""
    from pgosm_flex_spark.sources.pg_dump import read_pg_dump_copy

    raw = read_pg_dump_copy(spark, dump_path, table="layer_styles_staging")
    casts = []
    for field in LAYER_STYLES_SCHEMA.split(", "):
        name, typ = field.split(" ", 1)
        casts.append(F.col(name).cast(typ).alias(name))
    return raw.select(*casts)


_MERGE_KEY = ["f_table_catalog", "f_table_schema", "f_table_name", "stylename"]


def merge_styles(existing: pd.DataFrame, staging: pd.DataFrame) -> pd.DataFrame:
    """The staging→prod insert of _load_layer_styles.sql as a pure frame op:
    keep every existing row untouched; append only staging rows whose
    (catalog, schema, table, stylename) key is absent (LEFT JOIN ... WHERE
    id IS NULL; a NULL key part never matches), ids continuing after the
    existing maximum (SERIAL) in staging (id, key) order."""
    start = existing["id"].max()
    start = 0 if pd.isna(start) else int(start)
    present = pd.MultiIndex.from_frame(existing[_MERGE_KEY])
    keys = staging[_MERGE_KEY]
    absent = ~pd.MultiIndex.from_frame(keys).isin(present) | keys.isna().any(axis=1)
    fresh = staging[absent].sort_values(["id", *_MERGE_KEY], na_position="first")
    fresh = fresh.assign(id=range(start + 1, start + 1 + len(fresh)))
    return pd.concat([existing[_COLS], fresh[_COLS]], ignore_index=True)


def load_qgis_styles(
    spark: SparkSession,
    bundle_dir: str,
    staging: DataFrame | None = None,
    db_name: str = "pgosm",
) -> DataFrame:
    """Merge ``staging`` styles into the bundle's ``layer_styles`` parquet
    table and return the merged frame.

    Reference semantics, step for step (docker/qgis_styles.py:load_qgis_styles):
    retarget ``f_table_catalog`` when ``db_name`` differs from the default
    (update_styles_db_name), then :func:`merge_styles` — a user's
    customized styles are never overwritten.

    The table is read, merged and rewritten on the driver (one file, the
    session's parquet codec), and the returned frame holds the merged rows
    as local data.
    """
    from pgosm_flex_spark.session import arrow_codec

    if staging is None:
        staged = pd.DataFrame(_placeholder_rows(), columns=_COLS)
    else:
        staged = staging.select(*_COLS).toArrow().cast(_ARROW_SCHEMA).to_pandas()
    if db_name != "pgosm":
        staged["f_table_catalog"] = db_name

    out = os.path.join(bundle_dir, "layer_styles")
    # ONLY a missing table means "fresh load" — any other read failure
    # (permissions, corrupt footers, transient FS errors) must raise: the
    # merge exists to protect customized styles, and treating a failed read
    # as an empty table would let the overwrite below destroy them
    if os.path.isdir(out):
        existing = pq.read_table(out).select(_COLS).cast(_ARROW_SCHEMA).to_pandas()
    else:
        existing = _ARROW_SCHEMA.empty_table().to_pandas()
    merged = pa.Table.from_pandas(
        merge_styles(existing, staged), schema=_ARROW_SCHEMA, preserve_index=False
    )

    # the new table is complete in its own dir before the old one goes
    tmp = f"{out}.{uuid.uuid4().hex}.tmp"
    os.makedirs(tmp)
    pq.write_table(
        merged, os.path.join(tmp, "part-00000.parquet"), compression=arrow_codec(spark)
    )
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.rename(tmp, out)
    return spark.createDataFrame(merged)
