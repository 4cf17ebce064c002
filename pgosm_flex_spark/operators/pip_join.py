"""Point-in-polygon join — the engine's flagship operator (SURVEY.md J1).

Replaces the reference's PostGIS containment join
(`ST_Within` + GiST + ST_Subdivide matview,
/root/reference/flex-config/sql/place_polygon_nested.sql:114-139 and
/root/reference/flex-config/sql/place.sql:60-66) with the canonical
distributed two-phase plan:

1. **Cover** (once per polygon set): each polygon → covering cells, each
   classified interior / boundary, cells chosen at a per-polygon adaptive
   resolution (coarse for continents, fine for buildings) quantized to a
   small set of levels. Runs distributed via ``mapInPandas``.
2. **Prefilter**: points carry one fine-res cell id (pure JVM math). For each
   resolution present in the cover, a *broadcast* hash join matches
   ``parent(point_cell, res) == cover_cell`` — no shuffle of the point side
   at all, which also makes the hot-cell skew of dense cities irrelevant to
   the join itself (no hash-partitioning by cell ever happens).
3. **Refine**: candidates in interior cells are hits with no exact test
   (most of them, by area); boundary-cell candidates run the exact
   vectorized PIP pandas UDF.

The point side streams through map-only stages; the cover table is the only
thing broadcast (bounded by ``MAX_CELLS_PER_POLY`` × #polygons). This is the
one plan: there is no shuffle fallback (see :func:`pip_join` for its limit).
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pgosm_flex_spark.geometry import kernels, wkb as wkb_mod
from pgosm_flex_spark.geometry.udfs import pip_udf
from pgosm_flex_spark.index import cells

FINE_RES = 17
COARSE_RES = 7
# Per-polygon cell budget: finer covers convert boundary area into interior
# shortcut cells, and boundary POINT candidates (the rows that must pay the
# exact-PIP refine) shrink by half per extra level, so the budget buys
# refine time directly. Measured on the 600k-point bench corpus: 1024 →
# 16384 moved the whole admin set from res 15-17 to uniform res 17, cut the
# join from 1.21 s to 0.86 s (boundary candidates 1.10M → fewer, one probe
# level instead of three) and made the cover BUILD faster too (0.70 s vs
# 1.03 s — no multi-level adaptive search). Cover rows grew only 30k → 44k:
# interior cells are 17 bytes/row and bounded by area while the wkb payload
# rides only on boundary rows.
MAX_CELLS_PER_POLY = 16384


def _pick_res(bbox: tuple[float, float, float, float]) -> int:
    """Finest res in [COARSE_RES, FINE_RES] whose grid keeps the bbox under
    MAX_CELLS_PER_POLY."""
    xmin, ymin, xmax, ymax = bbox
    for res in range(FINE_RES, COARSE_RES - 1, -1):
        n = 1 << res
        nx = max(1, int(math.floor((xmax + 180) / 360 * n)) - int(math.floor((xmin + 180) / 360 * n)) + 1)
        # mercator y span approximated by lat fraction — good enough for sizing
        ny_frac = abs(
            float(cells._merc_y(np.array([ymin]))[0]) - float(cells._merc_y(np.array([ymax]))[0])
        )
        ny = max(1, int(ny_frac * n) + 1)
        if nx * ny <= MAX_CELLS_PER_POLY:
            return res
    return COARSE_RES


def build_polygon_cover(polygons: DataFrame) -> DataFrame:
    """polygons (``osm_id``, ``geom_wkb``) → (osm_id, cell, kind, geom_wkb)
    cover table.

    ``geom_wkb`` is carried only on boundary rows (interior hits need no
    geometry), keeping the broadcast payload small. The adaptive resolution
    is the Spark-native ST_Subdivide: big polygons get coarse cells instead
    of huge cell lists.
    """
    schema = "osm_id long, cell long, kind tinyint, geom_wkb binary"

    def cover(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out_id, out_cell, out_kind, out_wkb = [], [], [], []
            for pid, raw in zip(b["osm_id"].tolist(), b["geom_wkb"].tolist()):
                if raw is None:
                    continue
                raw = bytes(raw)
                geom = wkb_mod.decode(raw)
                try:
                    cid, kind = kernels.covering_cells(geom, _pick_res(geom.bbox))
                except ValueError:
                    cid, kind = kernels.covering_cells(geom, COARSE_RES)
                out_id.extend([pid] * len(cid))
                out_cell.extend(cid.tolist())
                out_kind.extend(kind.tolist())
                boundary = kind == kernels.KIND_BOUNDARY
                out_wkb.extend([raw if bnd else None for bnd in boundary.tolist()])
            yield pd.DataFrame(
                {"osm_id": out_id, "cell": out_cell, "kind": out_kind, "geom_wkb": out_wkb}
            )

    return polygons.select("osm_id", "geom_wkb").mapInPandas(cover, schema=schema)


def cover_res_levels(cover: DataFrame) -> list[int]:
    """The distinct cell resolutions present in a polygon cover — one
    bounded driver collect (≤ FINE_RES-COARSE_RES+1 rows). res_levels is a
    property of the (fixed) cover, so callers doing repeated joins probe it
    ONCE and pass it to every :func:`pip_join` call (the checkpointed unit
    loop) instead of paying a collect job per join."""
    return sorted(
        r["res"]
        for r in cover.select(cells.cell_res_col(F.col("cell")).alias("res"))
        .distinct()
        .collect()
    )


def pip_join(
    points: DataFrame,
    polygons: DataFrame,
    point_cols: list[str],
    cover: DataFrame | None = None,
    res_levels: list[int] | None = None,
) -> DataFrame:
    """points (``lon``, ``lat``) ⋈_within polygons (``osm_id``,
    ``geom_wkb``) → ``point_cols + ["osm_id"]``, one row per (point,
    containing polygon) pair.

    Pass a precomputed ``cover`` (from :func:`build_polygon_cover`, cached)
    when joining several point sets against the same polygons.

    Known limit: the cover is always broadcast, whatever its size. A
    polygon set whose cover outgrows a broadcast (past roughly 4M rows or
    128 MB of boundary wkb) still broadcasts and gets slow: 337k polygons
    gave a 32M-row, ~1 GB cover, and the join of 48M points against it took
    590 s.
    """
    if cover is None:
        # NOT persisted: an internal persist can never be released (the
        # returned plan still references it lazily), and a leaked cache per
        # call adds up in long-running jobs. The cover builds twice (once for
        # the resolution probe below, once inside the join's broadcast) —
        # callers doing repeated joins pass a cached cover explicitly.
        cover = build_polygon_cover(polygons)
    if res_levels is None:
        # one bounded driver collect (≤ FINE_RES-COARSE_RES+1 rows); callers
        # doing repeated joins against the same cover pass res_levels
        # explicitly to skip this job (the checkpointed unit loop does)
        res_levels = cover_res_levels(cover)
        if res_levels and res_levels[-1] > FINE_RES:
            # the ancestor rollup shifts the point's fine cell RIGHT by
            # (FINE_RES - res); a cover level finer than FINE_RES cannot be
            # probed (negative shift — the JVM masks the count into garbage
            # cells that match nothing), so those polygons would silently
            # contribute zero joined points. Probed levels are REAL cover
            # rows, so this is a genuine mismatch: a precomputed cover that
            # was not built by build_polygon_cover.
            raise ValueError(
                f"cover contains cells at res {res_levels[-1]} finer than "
                f"the join's fine res {FINE_RES}: build the cover with "
                "build_polygon_cover"
            )
    else:
        # explicit levels are a perf contract ("a superset is harmless"):
        # entries finer than FINE_RES are unreachable by the rollup and, on
        # a consistent cover, hold no rows — drop them instead of probing
        res_levels = sorted({r for r in res_levels if r <= FINE_RES})

    # ONE join: each point explodes its ancestor cell at every resolution
    # present in the cover (≤ FINE_RES-COARSE_RES+1 rows, typically 2-4)
    # and probes the broadcast cover once. A per-resolution union of joins
    # measures ~12 fixed-overhead stages that dominate wall time and
    # anti-scale with cores; the exploded single-stage plan trades a small
    # probe-row multiplier for a fully parallel pipeline.
    pts = points.select(*point_cols, F.col("lon").alias("__lon"), F.col("lat").alias("__lat"))
    pts = pts.withColumn("__fine_cell", cells.cell_col(F.col("__lon"), F.col("__lat"), FINE_RES))
    ancestors = []
    for res in res_levels:
        shift = FINE_RES - res
        ancestors.append(
            cells.pack_col(
                res,
                F.shiftright(cells.cell_x_col(F.col("__fine_cell")), shift),
                F.shiftright(cells.cell_y_col(F.col("__fine_cell")), shift),
            )
        )
    pts = pts.withColumn("__cell", F.explode(F.array(*ancestors)))

    cov = F.broadcast(cover)
    cand = pts.join(cov, pts["__cell"] == cov["cell"], "inner")
    # interior-cell candidates are hits by construction — the exact UDF only
    # ever sees boundary-cell rows
    interior = cand.filter(F.col("kind") == kernels.KIND_INTERIOR)
    boundary = cand.filter(F.col("kind") == kernels.KIND_BOUNDARY).filter(
        pip_udf(F.col("__lon"), F.col("__lat"), F.col("geom_wkb"))
    )
    return interior.select(*point_cols, F.col("osm_id")).unionByName(
        boundary.select(*point_cols, F.col("osm_id"))
    )
