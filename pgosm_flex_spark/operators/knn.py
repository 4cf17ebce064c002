"""kNN nearest-feature join — SURVEY.md J8.

The reference delegates nearest-feature lookups to PostGIS GiST ``<->``
practice (no SQL in-tree; closest analog: vertex inputs to
/root/reference/db/deploy/routing_functions.sql:553-561). The north star
requires it explicitly: H3-style k-ring expansion + equi-join + window.

Plan shape: features are bucketed by cell at ``res``; each query point
explodes its (2k+1)² ring of neighbor cells (native sequence/transform —
no UDF), equi-joins feature buckets on the cell key, computes haversine
distance JVM-side, and keeps the top-k per point with a window. With a
broadcast feature side this is map-only over the points.

Completeness: a neighbor beyond the ring radius is missed. Callers pick
``res``/``ring`` so that the ring radius covers the max expected
nearest-neighbor distance (ring_radius ≈ ring × cell_width(res)).
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
# and both distributed column paths so the bound math cannot diverge
EARTH_CIRCUMFERENCE_M = 40_075_016.7


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
    res_levels: tuple[int, ...] = tuple(range(22, 9, -1)),
    lon: str = "lon",
    lat: str = "lat",
    f_lon: str = "lon",
    f_lat: str = "lat",
    search_offset: int = 2,
    broadcast_features: bool = True,
    salt: int = 8,
) -> DataFrame:
    """Exact kNN with a per-point cell resolution picked from the local
    feature density — the skew answer for dense urban cells (SURVEY.md §7.3):
    dense points search tiny fine-res rings, sparse points coarse ones.

    SINGLE PASS over the point side (the round-1 multi-pass escalation design
    re-processed most points ~4× and anti-scaled with cores):

    1. Feature side only (tiny, broadcastable): per level r, the count of
       features in the 3×3 ring around every occupied cell — built by
       exploding each feature cell's 9 neighbors and re-aggregating, so a
       point cell's lookup answers "features in MY 3×3 ring" exactly.
    2. Points pick r* = finest level whose ring holds ≥ k features (else the
       coarsest level) in ONE vectorized pandas UDF: numpy searchsorted over
       the sorted broadcast density map, 13 lookups/point, no joins, no
       shuffle (a broadcast-join per level rebuilds the exchange 13× —
       column renames defeat ReuseExchange).
    3. One ring explode at s = r* − search_offset and one broadcast join
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
    the center cell, candidates within the 3×3 block). The search ring at
    s = r*−2 is guaranteed to cover ≥ 1 cell width at s = 4·c(r*) ≥ 2.83·c(r*)
    in grid distance; mercator conformality makes meter distance locally
    proportional to grid distance (distortion ≪ the 1.41× margin below
    |lat| 85°), so every true k-nearest feature is inside the searched ring.
    Points whose coarsest ring holds < k features keep the old semantics:
    search s = coarsest−2 (a superset of the old coarsest ring) and accept.
    Ties: (distance, feature_id), as in the reference's ``<->`` ordering.

    Candidate volume is bounded by the LEVEL STEP: with step-1 levels,
    ring_count(r*) ≲ 4k (one level finer already held < k), and the searched
    area is 16× the r* ring, so ≈ 64k candidates per point INDEPENDENT of
    local density — a 30%-of-corpus hot disc costs dense points the same as
    sparse ones (coarser steps trade fewer broadcast joins for a 4×/step
    candidate multiplier; sub-finest-cell feature clusters are the one
    escape, bounded by co-located ties).

    ``broadcast_features=False`` is the scale fallback for feature sides too
    large to broadcast (the reference's GiST ``<->`` has no such limit):
    the ring-density map builds DISTRIBUTIVELY (features explode their 9
    ring cells per level, one groupBy — never collected to the driver), the
    level pick becomes one exploded-ancestor equi-join against that map plus
    a per-point aggregate, and the candidate join salts the feature buckets
    ``salt`` ways with each probe picking a bucket by point-id hash (the
    pip_join skew pattern). Identical results to the broadcast path: the
    distributed density map counts exactly the same votes the driver numpy
    map does.
    """
    if search_offset < 2:
        raise ValueError(
            f"search_offset must be >= 2 (got {search_offset}): the "
            "kth-distance bound (2*sqrt(2)*1.25 ring widths at r*) is only "
            "covered by the 3x3 searched ring at s <= r*-2 — a nearer "
            "search level silently omits true nearest neighbors between "
            "2c and 2.83c of the point"
        )
    levels = sorted(set(res_levels), reverse=True)  # finest first
    feats = features.select(
        F.col(feature_id).alias("__fid"),
        F.col(f_lon).alias("__flon"),
        F.col(f_lat).alias("__flat"),
    )

    spark = points.sparkSession
    lv = list(levels)
    koff = search_offset
    bound_factor = 2.8284271247461903 * 1.25

    if broadcast_features:
        # 1. ring-density map across all levels: features come to the driver
        # (broadcastable by assumption — the same assumption every broadcast
        # join here makes) and the map is pure numpy: each feature votes +1
        # into the ring-count of its cell's 9 neighbors at every level.
        # Catalyst higher-order exprs for the same job measured 1 ms/row —
        # 2000× slower.
        fp = feats.select("__flon", "__flat").toPandas()
        flon_a = fp["__flon"].to_numpy(dtype=np.float64)
        flat_a = fp["__flat"].to_numpy(dtype=np.float64)
        ring_cells = []
        for r in levels:
            x, y = cells.xy_of_points(flon_a, flat_a, r)
            n = 1 << r
            # x-wrap folds dx=-1 onto dx=+1 when the level is narrower than
            # the ring (n <= 2): skip the folded offsets or one feature votes
            # twice into the same cell and the inflated density picks a level
            # whose ring holds fewer DISTINCT features than k — breaking the
            # kth-distance bound (same guard as the distributed build below)
            dxs = (-1, 0, 1) if n >= 3 else ((0, 1) if n == 2 else (0,))
            for dx in dxs:
                for dy in (-1, 0, 1):
                    ny = y + dy
                    keep = (ny >= 0) & (ny < n)
                    ring_cells.append(cells.pack((x[keep] + dx) % n, ny[keep], r))
        all_cells, counts = np.unique(np.concatenate(ring_cells), return_counts=True)
        density_bc = spark.sparkContext.broadcast((all_cells, counts.astype(np.int64)))

        # 2. per-point level pick: ONE vectorized pandas UDF (numpy
        # searchsorted over the sorted density map — 13 lookups/point, no
        # joins, no shuffle). Emits s = r*−offset and the kth-distance bound:
        # with ≥k features in the 3×3 ring at r*, the true k-th neighbor is
        # within √8·c(r*) (grid distance); metric bound adds a 1.25 safety
        # factor over ground cell width. Points whose coarsest ring holds <k
        # get an infinite bound (accept-all semantics).
        @F.pandas_udf("struct<s:int, bound:double>")
        def _pick_level(plon: "pd.Series", plat: "pd.Series") -> "pd.DataFrame":
            sorted_cells, cnts = density_bc.value
            lon_a = plon.to_numpy(dtype=np.float64)
            lat_a = plat.to_numpy(dtype=np.float64)
            r_star = np.full(lon_a.shape[0], lv[-1], dtype=np.int64)
            has_bound = np.zeros(lon_a.shape[0], dtype=bool)
            # empty feature side: searchsorted's clamped index would be -1
            # into a zero-length array (IndexError); the coarsest level with
            # an infinite bound reproduces the non-broadcast path's graceful
            # empty-join result instead of failing the job
            lookups = lv[::-1] if len(sorted_cells) else []
            for r in lookups:  # coarsest → finest so the finest hit wins
                cell_r = cells.cells_of_points(lon_a, lat_a, r)
                idx = np.searchsorted(sorted_cells, cell_r)
                idx_c = np.minimum(idx, len(sorted_cells) - 1)
                cnt = np.where(sorted_cells[idx_c] == cell_r, cnts[idx_c], 0)
                ok = cnt >= k
                r_star = np.where(ok, r, r_star)
                has_bound |= ok
            cell_m = EARTH_CIRCUMFERENCE_M * np.cos(np.radians(lat_a)) / (2.0 ** r_star)
            bound = np.where(has_bound, bound_factor * cell_m, np.inf)
            s = np.maximum(r_star - koff, 1).astype(np.int32)
            return pd.DataFrame({"s": s, "bound": bound})

        pts = points.select(
            F.col(point_id).alias("__pid"),
            F.col(lon).alias("__plon"),
            F.col(lat).alias("__plat"),
            _pick_level(F.col(lon), F.col(lat)).alias("__pick"),
        )
    else:
        # 1'. the SAME ring-density map, built distributively: each feature
        # explodes its 9 ring cells per level, one groupBy — the feature
        # side never reaches the driver. Neighbors are spelled as NINE plain
        # column expressions (x-wrap via pmod, y clip via when→NULL→filter),
        # NOT higher-order array exprs: transform/filter lambdas run
        # interpreted at ~1 ms/row, plain arithmetic stays in codegen
        ring_union = None
        for r in levels:
            fc = cells.cell_col(F.col("__flon"), F.col("__flat"), r)
            x = cells.cell_x_col(fc)
            y = cells.cell_y_col(fc)
            n_r = F.lit(1 << r).cast("long")
            neigh = []
            # same wrap-fold guard as the driver-side build: at n <= 2 the
            # dx=-1 neighbor IS the dx=+1 neighbor, so emitting both would
            # double-count the feature in that cell's ring density
            dxs = (-1, 0, 1) if (1 << r) >= 3 else ((0, 1) if (1 << r) == 2 else (0,))
            for dx in dxs:
                for dy in (-1, 0, 1):
                    ny = y + F.lit(dy)
                    cell_expr = cells.pack_col(r, F.pmod(x + F.lit(dx), n_r), ny)
                    neigh.append(F.when((ny >= 0) & (ny < n_r), cell_expr))
            rc = (
                feats.select(F.explode(F.array(*neigh)).alias("__rcell"))
                .filter(F.col("__rcell").isNotNull())
            )
            ring_union = rc if ring_union is None else ring_union.unionByName(rc)
        density = ring_union.groupBy("__rcell").agg(F.count(F.lit(1)).alias("__cnt"))
        density = density.withColumn(
            "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
        )

        # 2'. level pick via one exploded-ancestor equi-join against the map
        # (salted: many points share a coarse cell, the density side is
        # unique per cell, so probes spread over salt replicas) + a per-point
        # aggregate picking the finest level whose ring holds ≥ k
        probes = points.select(
            F.col(point_id).alias("__pid"),
            F.col(lon).alias("__plon"),
            F.col(lat).alias("__plat"),
        ).select(
            "*",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).alias("lvl"),
                            cells.cell_col(F.col("__plon"), F.col("__plat"), r).alias("c"),
                        )
                        for r in levels
                    ]
                )
            ).alias("__lc"),
        ).select(
            "__pid", "__plon", "__plat",
            F.col("__lc.lvl").alias("__lvl"),
            F.col("__lc.c").alias("__pcell"),
            F.pmod(F.xxhash64(F.col("__pid")), F.lit(salt)).cast("int").alias("__salt"),
        )
        joined = probes.join(
            density,
            (probes["__pcell"] == density["__rcell"])
            & (probes["__salt"] == density["__salt"]),
            "left",
        )
        picked = joined.groupBy("__pid", "__plon", "__plat").agg(
            F.max(F.when(F.col("__cnt") >= k, F.col("__lvl"))).alias("__rstar")
        )
        r_star = F.coalesce(F.col("__rstar"), F.lit(lv[-1]))
        cell_m = (
            F.lit(EARTH_CIRCUMFERENCE_M)
            * F.cos(F.radians(F.col("__plat")))
            / F.pow(F.lit(2.0), r_star.cast("double"))
        )
        bound = F.when(
            F.col("__rstar").isNotNull(), F.lit(bound_factor) * cell_m
        ).otherwise(F.lit(float("inf")))
        s_expr = F.greatest(r_star - F.lit(koff), F.lit(1)).cast("int")
        pts = picked.select(
            "__pid", "__plon", "__plat",
            F.struct(s_expr.alias("s"), bound.alias("bound")).alias("__pick"),
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
        # wrap-fold guard (per-row: __n varies with the point's level): when
        # the search level is narrower than the ring, pmod folds dx=-1 onto
        # dx=+1 (n=2) or everything onto dx=0 (n=1) — keep one canonical
        # offset per distinct cell or the candidate join pairs the same
        # (point, feature) twice and row_number hands a duplicate a top-k slot
        .filter(
            (F.col("__n") >= 3)
            | (F.col("__o.dx") == 0)
            | ((F.col("__o.dx") == 1) & (F.col("__n") == 2))
        )
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

    s_levels = sorted({max(r - search_offset, 1) for r in levels})
    fbuckets = feats.withColumn(
        "__cell",
        F.explode(
            F.array(
                *[cells.cell_col(F.col("__flon"), F.col("__flat"), s) for s in s_levels]
            )
        ),
    )
    if broadcast_features:
        cand = ringed.join(F.broadcast(fbuckets), "__cell")
    else:
        # salted shuffle join (pip_join pattern): every feature bucket row
        # replicates to all salt buckets, each probe picks one by pid hash —
        # a hot cell's probes spread over salt reducers
        fb = fbuckets.withColumn(
            "__fsalt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
        )
        rg = ringed.withColumn(
            "__psalt", F.pmod(F.xxhash64(F.col("__pid")), F.lit(salt)).cast("int")
        )
        cand = rg.join(
            fb,
            (rg["__cell"] == fb["__cell"]) & (rg["__psalt"] == fb["__fsalt"]),
        )
    cand = (
        cand.withColumn(
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


def knn_join(
    points: DataFrame,
    features: DataFrame,
    k: int,
    point_id: str = "image_id",
    feature_id: str = "osm_id",
    res: int = 10,
    ring: int = 1,
    lon: str = "lon",
    lat: str = "lat",
    f_lon: str = "lon",
    f_lat: str = "lat",
    broadcast_features: bool = True,
) -> DataFrame:
    """For each point, its k nearest features within the cell ring.

    Output: point columns ``point_id``, ``feature_id``, ``distance_m``,
    ``knn_rank`` (1-based). Deterministic ties: (distance, feature_id).
    """
    feats = features.select(
        F.col(feature_id).alias("__fid"),
        F.col(f_lon).alias("__flon"),
        F.col(f_lat).alias("__flat"),
    ).withColumn("__fcell", cells.cell_col(F.col("__flon"), F.col("__flat"), res))
    if broadcast_features:
        feats = F.broadcast(feats)

    pts = points.select(
        F.col(point_id).alias("__pid"),
        F.col(lon).alias("__plon"),
        F.col(lat).alias("__plat"),
    ).withColumn("__pcell", cells.cell_col(F.col("__plon"), F.col("__plat"), res))

    ringed = pts.withColumn(
        "__cell", F.explode(cells.kring_col(F.col("__pcell"), ring, res))
    )
    cand = ringed.join(feats, ringed["__cell"] == feats["__fcell"], "inner")
    cand = cand.withColumn(
        "__dist",
        haversine_m_col(F.col("__plon"), F.col("__plat"), F.col("__flon"), F.col("__flat")),
    )
    w = Window.partitionBy("__pid").orderBy(F.col("__dist").asc(), F.col("__fid").asc())
    out = (
        cand.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
        .select(
            F.col("__pid").alias(point_id),
            F.col("__fid").alias(feature_id),
            F.col("__dist").alias("distance_m"),
            "knn_rank",
        )
    )
    return out
