"""Nested admin polygon hierarchy — SURVEY.md J1 + A1 + J7.

Re-expresses /root/reference/flex-config/sql/place_polygon_nested.sql:

- population filter (populate_place_polygon_nested, lines 55-75):
  rows participate when ``boundary = 'administrative'`` OR osm_type ∈
  {neighborhood, city, suburb, town, admin_level, locality}, name not null;
  the stored admin_level is ``COALESCE(admin_level, 99)``.
- containment paths (build_nested_admin_polygons, lines 96-150):
  ``INNER JOIN LATERAL ... ST_Within(p.geom, i.geom)`` with
  ``ARRAY_AGG(... ORDER BY COALESCE(admin_level, 99))`` → ``nest_level`` +
  ``name_path``/``osm_id_path``/``admin_level_path``.
- ``row_innermost`` generated column (lines 12-16): last path entry == own id.
- ``innermost`` (lines 156-172): row_innermost AND the id appears in no
  *other* row's osm_id_path.

Polygon-within-polygon runs PostGIS's plan shape: a cheap candidate join,
then the EXACT ST_Within test (kernels.polygons_within_container) on the
surviving pairs only, so concave containers and holes reject correctly.
Candidates come from bboxes: a polygon's enclosing cell is the finest
quadtree cell (index/cells.py) holding its bbox; each child joins, on its
enclosing cell and that cell's ancestors, the containers keyed by their own
enclosing cell, then child bbox ⊆ container bbox. No pair is lost: child ⊆
container puts the child's bbox inside the container's bbox and so inside
the container's cell. The plan has no broadcast hint; AQE picks each join
from the observed sizes. The reference's LIMIT-100 batched loop (lines
96-150) is unnecessary set-at-once in Spark; its restart property lives in
plans/checkpoint.py instead. Path ties at equal admin_level are broken by
(name, osm_id) for determinism (the reference leaves them unordered).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pgosm_flex_spark.geometry import kernels, wkb as wkb_mod
from pgosm_flex_spark.geometry.udfs import bbox_udf
from pgosm_flex_spark.index import cells

_NESTED_OSM_TYPES = ["neighborhood", "city", "suburb", "town", "admin_level", "locality"]

# resolution of the bbox corner cells; a child explodes to at most
# _KEY_RES + 1 candidate rows
_KEY_RES = 24


def _enclosing_cell(bbox: Column) -> tuple[Column, Column, Column]:
    """(level, x, y) of a bbox's enclosing cell: (x, y) is the lower
    corner's cell at _KEY_RES and level the length of the common prefix of
    both corners' cell coordinates."""
    lo = cells.cell_col(bbox["xmin"], bbox["ymin"], _KEY_RES)
    hi = cells.cell_col(bbox["xmax"], bbox["ymax"], _KEY_RES)
    x, y = cells.cell_x_col(lo), cells.cell_y_col(lo)
    diff = x.bitwiseXOR(cells.cell_x_col(hi)).bitwiseOR(y.bitwiseXOR(cells.cell_y_col(hi)))
    return _KEY_RES - F.when(diff == 0, 0).otherwise(F.length(F.bin(diff))), x, y


def _cell_at(level: Column, x: Column, y: Column) -> Column:
    """Cell id of the level-``level`` ancestor of the _KEY_RES cell (x, y)."""
    shift = _KEY_RES - level
    return cells.pack_col(
        level,
        F.call_function("shiftright", x, shift),
        F.call_function("shiftright", y, shift),
    )


def _exact_within(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    # batched by container: each container decodes ONCE per Arrow batch and
    # its candidate children run through the vectorized batch kernel
    # (kernels.polygons_within_container); child decodes are memoized across
    # containers within the batch. No per-pair Python work.
    for b in batches:
        if len(b) == 0:
            continue
        child_cache: dict[int, object] = {}
        keep = np.zeros(len(b), dtype=bool)
        groups = b.groupby("container_id", sort=False).indices
        for _cid, idx in groups.items():
            rows = b.iloc[idx]
            self_mask = (rows["child_id"] == rows["container_id"]).to_numpy()
            # self-pairs are within by definition and skip the geometry
            # test — their vertices lie ON the boundary, which strict
            # interiority would reject
            keep[idx[self_mask]] = True
            todo = idx[~self_mask]
            if todo.size == 0:
                continue
            container = wkb_mod.decode(bytes(rows["container_wkb"].iloc[0]))
            kids = []
            for cid_child, raw in zip(
                b["child_id"].to_numpy()[todo], b["child_wkb"].to_numpy()[todo]
            ):
                g = child_cache.get(cid_child)
                if g is None:
                    g = wkb_mod.decode(bytes(raw))
                    child_cache[cid_child] = g
                kids.append(g)
            keep[todo] = kernels.polygons_within_container(kids, container)
        out = b.loc[keep]
        yield pd.DataFrame(
            {
                "child_id": out["child_id"],
                "container_id": out["container_id"],
                "c_admin_level": out["c_admin_level"],
                "c_name": out["c_name"],
            }
        )


def build_nested_admin_polygons(place_polygon: DataFrame) -> DataFrame:
    """place_polygon → one row per participating polygon with path columns.

    Output: osm_id, name, osm_type, admin_level (coalesced to 99),
    nest_level, name_path, osm_id_path, admin_level_path, row_innermost,
    innermost.
    """
    participates = (
        (F.col("boundary") == "administrative")
        | F.col("osm_type").isin(_NESTED_OSM_TYPES)
    ) & F.col("name").isNotNull()
    polys = place_polygon.filter(participates).select(
        "osm_id",
        "name",
        "osm_type",
        F.coalesce(F.col("admin_level"), F.lit(99)).alias("admin_level"),
        "geom_wkb",
    )

    level, x, y = _enclosing_cell(F.col("bbox"))
    keyed = polys.withColumn("bbox", bbox_udf(F.col("geom_wkb"))).select(
        "*", level.alias("level"), x.alias("x"), y.alias("y")
    )
    ancestors = F.transform(
        F.sequence(F.lit(0), F.col("level")), lambda lv: _cell_at(lv, F.col("x"), F.col("y"))
    )
    children = keyed.select(
        F.col("osm_id").alias("child_id"),
        F.col("bbox").alias("child_bbox"),
        F.explode(ancestors).alias("cell"),
    )
    containers = keyed.select(
        _cell_at(F.col("level"), F.col("x"), F.col("y")).alias("cell"),
        F.col("osm_id").alias("container_id"),
        F.col("admin_level").alias("c_admin_level"),
        F.col("name").alias("c_name"),
        F.col("bbox").alias("container_bbox"),
        F.col("geom_wkb").alias("container_wkb"),
    )
    child_geoms = polys.select(
        F.col("osm_id").alias("child_id"), F.col("geom_wkb").alias("child_wkb")
    )
    cand = (
        children.join(containers, "cell")
        .filter(
            (F.col("child_bbox.xmin") >= F.col("container_bbox.xmin"))
            & (F.col("child_bbox.ymin") >= F.col("container_bbox.ymin"))
            & (F.col("child_bbox.xmax") <= F.col("container_bbox.xmax"))
            & (F.col("child_bbox.ymax") <= F.col("container_bbox.ymax"))
        )
        .join(child_geoms, "child_id")
    )
    pairs = cand.select(
        "child_id", "container_id", "c_admin_level", "c_name",
        "child_wkb", "container_wkb",
    ).mapInPandas(
        _exact_within,
        schema="child_id long, container_id long, c_admin_level int, c_name string",
    )

    # one aggregation over the pair stream gives the A1 path arrays (order
    # encoded in the struct sort key) and innermost's flag: each pair also
    # emits a link-less row keyed by its container, so a polygon that
    # contains another has more than one (its self-pair's) such row
    link = F.struct(
        F.col("c_admin_level").alias("lvl"),
        F.col("c_name").alias("name"),
        F.col("container_id").alias("cid"),
    )
    rows = pairs.select(F.inline(F.array(
        F.struct(F.col("child_id").alias("osm_id"), link.alias("link")),
        F.struct(F.col("container_id").alias("osm_id"), F.lit(None).alias("link")),
    )))
    paths = rows.groupBy("osm_id").agg(
        F.count("link").alias("nest_level"),
        F.array_sort(F.collect_list("link")).alias("chain"),
        (F.count(F.lit(1)) - F.count("link") > 1).alias("contains_others"),
    ).select(
        "osm_id",
        "nest_level",
        F.transform("chain", lambda s: s["name"]).alias("name_path"),
        F.transform("chain", lambda s: s["cid"]).alias("osm_id_path"),
        F.transform("chain", lambda s: s["lvl"]).alias("admin_level_path"),
        "contains_others",
    )

    out = polys.drop("geom_wkb").join(paths, "osm_id", "left")
    # row_innermost (place_polygon_nested.sql:12-16)
    out = out.withColumn(
        "row_innermost",
        F.coalesce(F.element_at("osm_id_path", -1) == F.col("osm_id"), F.lit(False)),
    )
    # innermost (place_polygon_nested.sql:156-172)
    return out.withColumn(
        "innermost",
        F.col("row_innermost") & ~F.coalesce(F.col("contains_others"), F.lit(False)),
    ).drop("contains_others")
