"""kNN nearest-feature join — SURVEY.md J8.

The reference delegates nearest-feature lookups to PostGIS GiST ``<->``
practice (no SQL in-tree; closest analog: vertex inputs to
/root/reference/db/deploy/routing_functions.sql:553-561). The north star
requires it explicitly: H3-style k-ring expansion + equi-join + window.

One operator, one exact plan (:func:`knn_join_adaptive`): a driver numpy
ring-density map over the feature side, one vectorized level-pick pandas
UDF, one ring explode and one broadcast equi-join against feature buckets,
haversine distance JVM-side, and a WindowGroupLimit top-k window.

Completeness: each point searches a ring wide enough to hold its k-th
neighbour. A point searches the whole globe instead when its coarsest
density ring (res 4) holds fewer than k features, when it lies beyond the
web-mercator latitude clamp, or when its kth-distance bound reaches the
pole. Like ``<->``, a point gets min(k, #features) rows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pgosm_flex_spark.index import cells

EARTH_RADIUS_M = 6_371_008.8
# equatorial circumference — the meters-per-grid-cell scale of the
# kth-distance bound; ONE definition shared by the driver numpy picker
# and the cell-level prune so the bound math cannot diverge
EARTH_CIRCUMFERENCE_M = 40_075_016.7
# density levels, finest first: step 1 down to res 10, then 7 and 4
LEVELS = tuple(range(22, 9, -1)) + (7, 4)
# search level = r* − SEARCH_OFFSET; 2 is the nearest level whose 3×3 ring
# covers the kth-distance bound (see knn_join_adaptive)
SEARCH_OFFSET = 2
# a point with no bound searches its 3×3 ring at res 1: the whole globe
GLOBE_RES = 1


def haversine_m_col(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
    """Geodesic distance in meters — native column math (JVM codegen)."""
    rl1 = F.radians(lat1)
    rl2 = F.radians(lat2)
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    h = F.pow(F.sin(dlat / 2), 2) + F.cos(rl1) * F.cos(rl2) * F.pow(F.sin(dlon / 2), 2)
    return F.lit(2.0 * EARTH_RADIUS_M) * F.asin(F.sqrt(F.least(h, F.lit(1.0))))


def knn_join_adaptive(
    points: DataFrame,
    features: DataFrame,
    k: int,
    point_id: str = "image_id",
    feature_id: str = "osm_id",
) -> DataFrame:
    """Exact kNN with a per-point cell resolution picked from the local
    feature density — the skew answer for dense urban cells (SURVEY.md §7.3):
    dense points search tiny fine-res rings, sparse points coarse ones.

    Both sides carry ``lon``/``lat`` columns. Output: ``point_id``,
    ``feature_id``, ``distance_m``, ``knn_rank`` (1-based).

    SINGLE PASS over the point side (the round-1 multi-pass escalation design
    re-processed most points ~4× and anti-scaled with cores):

    1. Feature side only (tiny, broadcastable): per level r in ``LEVELS``,
       the count of features in the 3×3 ring around every occupied cell —
       built by exploding each feature cell's 9 neighbors and re-aggregating,
       so a point cell's lookup answers "features in MY 3×3 ring" exactly.
    2. Points pick r* = finest level whose ring holds ≥ k features in ONE
       vectorized pandas UDF: numpy searchsorted over the sorted broadcast
       density map, 15 lookups/point, no joins, no shuffle (a broadcast-join
       per level rebuilds the exchange per level — column renames defeat
       ReuseExchange).
    3. One ring explode at s = r* − ``SEARCH_OFFSET`` and one broadcast join
       against feature buckets at every s level (mixed resolutions share one
       join: the cell id encodes its level).
    4. Top-k: a plain ``row_number`` window that Spark ≥3.5 rewrites with
       WindowGroupLimit — a LOCAL sort + per-run top-k BEFORE the exchange,
       so the shuffle carries ≤k rows per point (the result size), never
       the candidate set, and the whole path stays in JVM codegen. Round-4
       profile: pushing the ~33×-points candidate stream through any Python
       stage cost ~2 µs/candidate in JVM↔Arrow transfer alone, dwarfing the
       ranking math.

    Exactness: ≥ k features inside the 3×3 ring at r* bound the true k-th
    neighbor by the ring diameter ≤ 2·√2·c(r*) from the point (point inside
    the center cell, candidates within the 3×3 block), with c(r*) the
    ground cell width of the ring's widest row. The search ring at
    s = r*−2 is guaranteed to cover ≥ 1 cell width at s = 4·c(r*) ≥ 2.83·c(r*)
    in grid distance; mercator conformality makes meter distance locally
    proportional to grid distance (distortion ≪ the 1.41× margin wherever
    the ring spans little latitude), so every true k-nearest feature is
    inside the searched ring. That argument fails for a bound disk that
    reaches the pole: a great circle across the pole is short on the ground
    and long in the grid. So a point whose bound is at least its distance
    to the pole, like a point whose res-4 ring holds < k features, gets an
    infinite bound and searches its ring at ``GLOBE_RES`` = 1, which covers
    the globe: every feature is a candidate. Beyond the mercator clamp
    (|lat| > ``cells.MAX_LAT``) every row lands in y-row 0, where the grid
    no longer measures distance: such features cast no density votes (they
    stay in the candidate buckets), and such points get no bound and search
    every feature. Ties: (distance, feature_id), as in the reference's ``<->``
    ordering.

    Candidate volume is bounded by the LEVEL STEP: with step-1 levels,
    ring_count(r*) ≲ 4k (one level finer already held < k), and the searched
    area is 16× the r* ring, so ≈ 64k candidates per point INDEPENDENT of
    local density — a 30%-of-corpus hot disc costs dense points the same as
    sparse ones (coarser steps trade fewer broadcast joins for a 4×/step
    candidate multiplier; sub-finest-cell feature clusters are the one
    escape, bounded by co-located ties). Below res 10 the levels step by 3:
    only points with fewer than k features in their res-10 ring (~120 km
    across at the equator) reach them.
    """
    feats = features.select(
        F.col(feature_id).alias("__fid"),
        F.col("lon").alias("__flon"),
        F.col("lat").alias("__flat"),
    )

    spark = points.sparkSession
    bound_factor = 2.8284271247461903 * 1.25

    # 1. ring-density map across all levels: features come to the driver
    # (broadcastable by assumption — the same assumption every broadcast
    # join here makes) and the map is pure numpy: each feature votes +1
    # into the ring-count of its cell's 9 neighbors at every level.
    # Catalyst higher-order exprs for the same job measured 1 ms/row —
    # 2000× slower. Features beyond the mercator clamp cast no vote.
    fp = feats.select("__flon", "__flat").toPandas()
    flon_a = fp["__flon"].to_numpy(dtype=np.float64)
    flat_a = fp["__flat"].to_numpy(dtype=np.float64)
    voting = np.abs(flat_a) <= cells.MAX_LAT
    flon_a, flat_a = flon_a[voting], flat_a[voting]
    # LEVELS stop at res 4 (16 columns), so the ring's x-wrap never folds
    # two offsets onto one cell and no feature votes twice into a ring
    ring_cells = []
    for r in LEVELS:
        x, y = cells.xy_of_points(flon_a, flat_a, r)
        n = 1 << r
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                ny = y + dy
                keep = (ny >= 0) & (ny < n)
                ring_cells.append(cells.pack((x[keep] + dx) % n, ny[keep], r))
    all_cells, counts = np.unique(np.concatenate(ring_cells), return_counts=True)
    density_bc = spark.sparkContext.broadcast((all_cells, counts.astype(np.int64)))

    # 2. per-point level pick: ONE vectorized pandas UDF (numpy
    # searchsorted over the sorted density map — one lookup per level, no
    # joins, no shuffle). Emits s = r*−offset and the kth-distance bound:
    # with ≥k features in the 3×3 ring at r*, the true k-th neighbor is
    # within √8·c(r*) (grid distance); metric bound adds a 1.25 safety
    # factor over the ring's widest ground cell width. Points with no such
    # level, points beyond the mercator clamp and points whose bound
    # reaches the pole get an infinite bound and s = GLOBE_RES.
    @F.pandas_udf("struct<s:int, bound:double>")
    def _pick_level(plon: "pd.Series", plat: "pd.Series") -> "pd.DataFrame":
        sorted_cells, cnts = density_bc.value
        lon_a = plon.to_numpy(dtype=np.float64)
        lat_a = plat.to_numpy(dtype=np.float64)
        r_star = np.full(lon_a.shape[0], LEVELS[-1], dtype=np.int64)
        has_bound = np.zeros(lon_a.shape[0], dtype=bool)
        # empty density map: searchsorted's clamped index would be -1 into a
        # zero-length array (IndexError); every point gets no bound instead
        lookups = LEVELS[::-1] if len(sorted_cells) else ()
        for r in lookups:  # coarsest → finest so the finest hit wins
            cell_r = cells.cells_of_points(lon_a, lat_a, r)
            idx = np.searchsorted(sorted_cells, cell_r)
            idx_c = np.minimum(idx, len(sorted_cells) - 1)
            cnt = np.where(sorted_cells[idx_c] == cell_r, cnts[idx_c], 0)
            ok = cnt >= k
            r_star = np.where(ok, r, r_star)
            has_bound |= ok
        has_bound &= np.abs(lat_a) <= cells.MAX_LAT
        # ground cell width at the ring's widest row (its latitude nearest
        # the equator): a coarse ring spans many degrees of latitude, and a
        # feature in its equatorward row is farther than the point's own
        # cos(lat) says
        x, y = cells.xy_of_points(lon_a, lat_a, r_star)
        n = 1 << r_star
        south = cells.cell_bounds(cells.pack(x, np.minimum(y + 1, n - 1), r_star))[1]
        north = cells.cell_bounds(cells.pack(x, np.maximum(y - 1, 0), r_star))[3]
        widest = np.where(
            (south < 0) & (north > 0), 0.0, np.minimum(np.abs(south), np.abs(north))
        )
        cell_m = EARTH_CIRCUMFERENCE_M * np.cos(np.radians(widest)) / (2.0 ** r_star)
        bound = bound_factor * cell_m
        # a bound disk that reaches the pole holds great circles across it,
        # which the mercator ring does not measure: no bound, globe search
        has_bound &= bound < np.radians(90.0 - np.abs(lat_a)) * EARTH_RADIUS_M
        bound = np.where(has_bound, bound, np.inf)
        s = np.where(has_bound, r_star - SEARCH_OFFSET, GLOBE_RES).astype(np.int32)
        return pd.DataFrame({"s": s, "bound": bound})

    pts = points.select(
        F.col(point_id).alias("__pid"),
        F.col("lon").alias("__plon"),
        F.col("lat").alias("__plat"),
        _pick_level(F.col("lon"), F.col("lat")).alias("__pick"),
    )

    # 3. ring explode at s with plain column arithmetic (no per-row array
    # building), then ONE broadcast equi-join against feature buckets at
    # every search level
    s_col = F.col("__pick.s")
    n_s = F.pow(F.lit(2.0), s_col.cast("double"))
    px = F.least(F.greatest(F.floor(cells.merc_x_col(F.col("__plon")) * n_s), F.lit(0)), n_s.cast("long") - 1)
    py = F.least(F.greatest(F.floor(cells.merc_y_col(F.col("__plat")) * n_s), F.lit(0)), n_s.cast("long") - 1)
    slim = pts.select(
        "__pid", "__plon", "__plat",
        s_col.alias("__s"), n_s.cast("long").alias("__n"),
        px.cast("long").alias("__px"), py.cast("long").alias("__py"),
        (cells.merc_x_col(F.col("__plon")) * n_s).alias("__mx"),
        (cells.merc_y_col(F.col("__plat")) * n_s).alias("__my"),
        F.col("__pick.bound").alias("__bound"),
    )
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    # cell-level prune: a ring cell whose nearest edge is already beyond the
    # kth-distance bound cannot hold a top-k candidate — skip its join probe
    # entirely (the 0.95 slack keeps the estimate conservative vs haversine)
    cx = (F.col("__px") + F.col("__o.dx")).cast("double")
    cy = (F.col("__py") + F.col("__o.dy")).cast("double")
    gap_x = F.greatest(F.lit(0.0), cx - F.col("__mx"), F.col("__mx") - (cx + 1))
    gap_y = F.greatest(F.lit(0.0), cy - F.col("__my"), F.col("__my") - (cy + 1))
    grid_to_m = (
        F.lit(EARTH_CIRCUMFERENCE_M) * F.cos(F.radians(F.col("__plat"))) / F.col("__n").cast("double")
    )
    min_dist_m = F.hypot(gap_x, gap_y) * grid_to_m * F.lit(0.95)
    ringed = (
        slim.withColumn("__o", F.explode(offsets))
        .withColumn("__ny", F.col("__py") + F.col("__o.dy"))
        .filter((F.col("__ny") >= 0) & (F.col("__ny") < F.col("__n")))
        # wrap-fold guard (per-row: __n varies with the point's level): at
        # GLOBE_RES (n=2) pmod folds dx=-1 onto dx=+1 — keep one offset per
        # distinct cell or the candidate join pairs the same (point,
        # feature) twice and row_number hands a duplicate a top-k slot
        .filter((F.col("__n") >= 3) | (F.col("__o.dx") >= 0))
        .filter(min_dist_m <= F.col("__bound"))
        .withColumn(
            "__cell",
            cells.pack_col(
                F.col("__s"),
                F.pmod(F.col("__px") + F.col("__o.dx"), F.col("__n")),
                F.col("__ny"),
            ),
        )
        .select("__pid", "__plon", "__plat", "__bound", "__cell")
    )

    s_levels = sorted({r - SEARCH_OFFSET for r in LEVELS} | {GLOBE_RES})
    fbuckets = feats.withColumn(
        "__cell",
        F.explode(
            F.array(
                *[cells.cell_col(F.col("__flon"), F.col("__flat"), s) for s in s_levels]
            )
        ),
    )
    cand = (
        ringed.join(F.broadcast(fbuckets), "__cell")
        .withColumn(
            "__dist",
            haversine_m_col(
                F.col("__plon"), F.col("__plat"), F.col("__flon"), F.col("__flat")
            ),
        )
        # JVM-side prune: beyond the kth-distance bound a candidate can never
        # enter the top-k — cuts the volume the window sorts several-fold
        .filter(F.col("__dist") <= F.col("__bound"))
        .select("__pid", "__fid", "__dist")
    )
    # WindowGroupLimit window (see docstring)
    w = Window.partitionBy("__pid").orderBy(F.col("__dist").asc(), F.col("__fid").asc())
    topk = cand.withColumn("knn_rank", F.row_number().over(w)).filter(
        F.col("knn_rank") <= k
    )
    return topk.select(
        F.col("__pid").alias(point_id),
        F.col("__fid").alias(feature_id),
        F.col("__dist").alias("distance_m"),
        "knn_rank",
    )
