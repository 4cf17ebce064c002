"""Routing-network construction — SURVEY.md J4/J6/A4/A5/W1, re-expressing
/root/reference/db/deploy/routing_functions.sql:50-404 as DataFrame ops:

1. clean lines (UNION distinct of routable sources, multiline explode —
   ST_LineMerge/ST_Dump, sql:63-84)
2. candidate pairs via the cell index (the reference's bbox `&&` prefilter +
   same-layer condition, sql:120-158), exact segment intersections in a
   vectorized pandas UDF (ST_Intersection blade points, sql:149; collinear
   overlaps skipped per the ST_Relate guard, sql:196)
3. replicated-join dedup: a pair can meet in several shared cells — an
   intersection point is kept only by the cell that contains it (standard
   dedup for spatial joins with replication)
4. split edges at blade points (ST_Split + ST_Dump, sql:195); blades at an
   edge's endpoints are no-ops; unsplit edges pass through (the LEFT JOIN /
   IS NULL union, sql:211-236)
5. vertices from quantized endpoints (pgr_extractVertices, sql:359-395):
   vertex id = content hash of the quantized coordinate — deterministic
   without the reference's global ROW_NUMBER() OVER (ORDER BY geom)
   (sql:86-94), which would be a single-partition sort at scale
6. costs: geodesic length (ST_Length::geography, sql:309), directed
   forward/reverse by oneway, travel-time seconds from maxspeed with the
   pgosm.road lookup as a broadcast join (sql:304-336)
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pgosm_flex_spark.geometry import kernels, wkb as wkb_mod
from pgosm_flex_spark.index import cells

QUANT = 1e7  # vertex coordinate quantization (~1 cm)
# Max segment combinations enumerated per flat-kernel call in the blade cut
# stage — bounds the Python worker's peak allocation per call (~9 work
# arrays × 8 B × CAP ≈ 300 MB) regardless of how dense an Arrow batch is.
_BLADE_COMBO_CAP = 4_000_000
DEFAULT_RES = 12
# coarse fallback level for lines whose bbox is too large to cover at
# DEFAULT_RES (a merged cross-country way). At res 6 the whole world is a
# 64×64 grid, so this level always fits.
FALLBACK_RES = 6


def explode_lines(
    roads: DataFrame,
    id_col: str = "osm_id",
    wkb_col: str = "geom_wkb",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """ST_LineMerge + ST_Dump of (multi)linestrings → one single-part line per
    row with a part index; touching parts of a multilinestring are dissolved
    into maximal linestrings first (sql:63-84), degenerate parts dropped.

    ``carry`` columns ride through unchanged (one copy per emitted part) so
    downstream cost/oneway attribution needs no join back to the road-sized
    input — the join was a broadcast-OOM at scale."""
    carry = tuple(c for c in carry if c != id_col)
    carry_fields = [roads.schema[c] for c in carry]
    schema = f"{id_col} long, part int, geom_wkb binary" + "".join(
        f", {f.name} {f.dataType.simpleString()}" for f in carry_fields
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out: dict[str, list] = {id_col: [], "part": [], "geom_wkb": []}
            for c in carry:
                out[c] = []
            carried = [b[c].tolist() for c in carry]
            for row_i, (rid, raw) in enumerate(zip(b[id_col].tolist(), b[wkb_col].tolist())):
                if raw is None:
                    continue
                g = wkb_mod.decode(bytes(raw))
                if g.kind == wkb_mod.LINESTRING:
                    part_arrays = [g.rings[0]]
                elif g.kind == wkb_mod.MULTILINESTRING:
                    part_arrays = kernels.linemerge(g.rings)
                else:
                    continue
                for p_i, arr in enumerate(part_arrays):
                    if arr.shape[0] < 2:
                        continue
                    out[id_col].append(rid)
                    out["part"].append(p_i)
                    out["geom_wkb"].append(wkb_mod.encode_linestring(arr))
                    for c, vals in zip(carry, carried):
                        out[c].append(vals[row_i])
            yield pd.DataFrame(out)

    return roads.select(id_col, wkb_col, *carry).mapInPandas(run, schema=schema)


def edge_intersection_blades(
    lines: DataFrame,
    id_col: str = "edge_id",
    layer_col: str | None = "layer",
    res: int = DEFAULT_RES,
    fallback_res: int = FALLBACK_RES,
) -> DataFrame:
    """(edge_id, blade_x, blade_y) — exact crossing points between distinct
    edges sharing a cell (+ same layer, sql:129-137). Both edges of a pair
    receive the blade.

    Two-level covering: a line whose bbox overflows the cell budget at
    ``res`` (a merged cross-country way) is covered at ``fallback_res``
    instead of crashing; every normal line ALSO emits its (few) ancestor
    cells at ``fallback_res`` flagged non-primary, so oversized×normal pairs
    still meet. The pair generation runs as TWO linear joins, never one
    combined self-join: primary×primary on the covering cells (normal pairs
    meet at ``res``, oversized pairs at ``fallback_res`` — cell ids encode
    their resolution, so the levels cannot cross-match), plus
    oversized-primary×ancestor for the mixed pairs. A combined self-join
    would enumerate ALL pairs of normal lines sharing a coarse ancestor cell
    (a metro's entire road set in one res-6 cell) before any primary filter
    could prune them — O(N²) per coarse cell at scale. The oversized side is
    broadcast: oversized lines are by construction the rare cell-budget
    overflows.

    ``res`` must be strictly finer than ``fallback_res``: at res ==
    fallback_res every line's primary cells ARE fallback cells, so the
    mixed join would pair each line with its own ancestor rows (spurious
    self-blades at every interior vertex), and res < fallback_res makes
    cells.parent raise inside an executor."""
    if res <= fallback_res:
        raise ValueError(
            f"edge_intersection_blades needs res > fallback_res (got res="
            f"{res}, fallback_res={fallback_res}): equal levels self-pair "
            "every line with its own ancestor cells; finer fallback breaks "
            "the parent() rollup"
        )
    covschema = f"{id_col} long, cell long, is_primary boolean, geom_wkb binary" + (
        f", {layer_col} int" if layer_col else ""
    )

    def cov(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = {id_col: [], "cell": [], "is_primary": [], "geom_wkb": []}
            if layer_col:
                out[layer_col] = []

            def emit(rid, cells_arr, primary, raw, lyr):
                for c in cells_arr.tolist():
                    out[id_col].append(rid)
                    out["cell"].append(c)
                    out["is_primary"].append(primary)
                    out["geom_wkb"].append(raw)
                    if layer_col:
                        out[layer_col].append(lyr)

            for row in b.itertuples(index=False):
                raw = bytes(getattr(row, "geom_wkb"))
                g = wkb_mod.decode(raw)
                lyr = getattr(row, layer_col) if layer_col else None
                try:
                    cid, _ = kernels.covering_cells(g, res)
                except ValueError:
                    cid_fb, _ = kernels.covering_cells(g, fallback_res)
                    emit(getattr(row, id_col), cid_fb, True, raw, lyr)
                    continue
                emit(getattr(row, id_col), cid, True, raw, lyr)
                # ancestor cells at the fallback level (usually 1-2 rows)
                anc = np.unique(cells.parent(cid, fallback_res))
                emit(getattr(row, id_col), anc, False, raw, lyr)
            yield pd.DataFrame(out)

    sel = [id_col, "geom_wkb"] + ([layer_col] if layer_col else [])
    covered = lines.select(*sel).mapInPandas(cov, schema=covschema)

    def side(df: DataFrame, suffix: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(f"id_{suffix}"), F.col("cell"),
            F.col("geom_wkb").alias(f"wkb_{suffix}"),
            *( [F.col(layer_col).alias(f"layer_{suffix}")] if layer_col else [] ),
        )

    prim = covered.filter(F.col("is_primary"))
    # oversized lines are primary at the fallback level; the cell id's top
    # bits carry its resolution
    oversized = prim.filter(cells.cell_res_col(F.col("cell")) == fallback_res)
    ancestors = covered.filter(~F.col("is_primary"))

    # same-level pairs: normal×normal at res, oversized×oversized at
    # fallback_res (cell ids of different levels never compare equal)
    pairs_same = (
        side(prim, "a").join(side(prim, "b"), "cell")
        .filter(F.col("id_a") < F.col("id_b"))
    )
    # mixed pairs: the tiny oversized set against normal lines' 1-2 ancestor
    # rows — linear in the line count
    pairs_mixed = F.broadcast(side(oversized, "a")).join(side(ancestors, "b"), "cell")
    pairs = pairs_same.unionByName(pairs_mixed)
    if layer_col:
        pairs = pairs.filter(
            F.coalesce(F.col("layer_a"), F.lit(0)) == F.coalesce(F.col("layer_b"), F.lit(0))
        )

    out_schema = "edge_id long, blade_x double, blade_y double"

    def _cut_pair_range(bdf, s, e, combos, n, a_pts, b_pts, a_off, b_off, empty):
        """Enumerate + intersect the segment combinations of pairs [s, e) of
        one Arrow batch: flat repeat/cumsum indexing into the batch's shared
        point pools, one elementwise kernel call, then the per-pair quantized
        dedup and replicated-join cell filter."""
        c = combos[s:e]
        ctotal = int(c.sum())
        if ctotal == 0:
            return empty
        pair_of = np.repeat(np.arange(s, e), c)
        local_off = np.concatenate([[0], np.cumsum(c)])[:-1]
        within = np.arange(ctotal) - np.repeat(local_off, c)
        nn = n[pair_of]
        ai = a_off[pair_of] + within // nn
        bi = b_off[pair_of] + within % nn
        pts, hit = kernels.segment_pairs_flat(
            a_pts[ai], a_pts[ai + 1], b_pts[bi], b_pts[bi + 1]
        )
        if pts.shape[0] == 0:
            return empty
        hp = pair_of[hit]
        # per-pair quantized dedup, globally: unique (pair, xq, yq) rows
        q = np.round(pts * QUANT).astype(np.int64)
        key = np.unique(np.column_stack([hp, q[:, 0], q[:, 1]]), axis=0)
        upair = key[:, 0]
        ux = key[:, 1] / QUANT
        uy = key[:, 2] / QUANT
        # replicated-join dedup: keep only points whose cell (at the join
        # cell's own resolution) is the join cell; vectorized per
        # resolution level (two levels at most)
        cell_arr = bdf["cell"].to_numpy()[upair]
        res_arr = cells.unpack(cell_arr)[0].astype(np.int64)
        keep = np.zeros(len(key), dtype=bool)
        for r in np.unique(res_arr):
            sel = res_arr == r
            pc = cells.cells_of_points(ux[sel], uy[sel], int(r))
            keep[sel] = pc == cell_arr[sel]
        upair, ux, uy = upair[keep], ux[keep], uy[keep]
        id_a = bdf["id_a"].to_numpy()[upair]
        id_b = bdf["id_b"].to_numpy()[upair]
        return pd.DataFrame({
            "edge_id": np.concatenate([id_a, id_b]),
            "blade_x": np.concatenate([ux, ux]),
            "blade_y": np.concatenate([uy, uy]),
        })

    def cut(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # ONE vectorized intersection pass per Arrow batch: every pair's
        # (m_p × n_p) segment combinations are enumerated into flat index
        # arrays (repeat/cumsum arithmetic) and handed to the elementwise
        # kernel in a single call — per-pair Python shrinks to a decode-cache
        # lookup and a list append, the O(Σ m_p·n_p) math batches across the
        # whole cell's pair set (same reduceat idea as
        # polygons_within_container). WKB decode stays per unique id
        # (variable-length payloads), memoized across pairs in the batch.
        empty = pd.DataFrame({
            "edge_id": pd.Series([], dtype="int64"),
            "blade_x": pd.Series([], dtype="float64"),
            "blade_y": pd.Series([], dtype="float64"),
        })
        for bdf in batches:
            if len(bdf) == 0:
                yield empty
                continue
            cache: dict = {}

            def geom_of(gid, raw):
                g = cache.get(gid)
                if g is None:
                    g = wkb_mod.decode(bytes(raw)).rings[0]
                    cache[gid] = g
                return g

            ga_list, gb_list = [], []
            for row in bdf.itertuples(index=False):
                ga_list.append(geom_of(row.id_a, row.wkb_a))
                gb_list.append(geom_of(row.id_b, row.wkb_b))
            m = np.array([g.shape[0] - 1 for g in ga_list], dtype=np.int64)
            n = np.array([g.shape[0] - 1 for g in gb_list], dtype=np.int64)
            combos = m * n
            total = int(combos.sum())
            if total == 0:
                yield empty
                continue
            a_pts = np.concatenate(ga_list)
            b_pts = np.concatenate(gb_list)
            a_off = np.concatenate([[0], np.cumsum(m + 1)])[:-1]
            b_off = np.concatenate([[0], np.cumsum(n + 1)])[:-1]
            # Chunk the flat enumeration so peak memory is bounded per
            # KERNEL CALL, not per Arrow batch: a dense cell's batch can
            # hold Σ m_p·n_p in the 10^8-10^9 range, and the six int64/
            # float64 work arrays below would then allocate tens of GB at
            # once in the Python worker. Greedy pair grouping at start-
            # offset // CAP keeps each call ≤ CAP + max single pair.
            CAP = _BLADE_COMBO_CAP
            chunk_of = (np.cumsum(combos) - combos) // CAP
            bounds = np.flatnonzero(np.diff(chunk_of)) + 1
            pair_starts = np.concatenate([[0], bounds, [len(combos)]])
            for s, e in zip(pair_starts[:-1], pair_starts[1:]):
                yield _cut_pair_range(
                    bdf, int(s), int(e), combos, n,
                    a_pts, b_pts, a_off, b_off, empty,
                )

    return pairs.mapInPandas(cut, schema=out_schema).dropDuplicates(
        ["edge_id", "blade_x", "blade_y"]
    )


def split_edges_at_blades(
    lines: DataFrame,
    blades: DataFrame,
    id_col: str = "edge_id",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """ST_Split analog: cut each line at its blade points; blades at
    endpoints are no-ops; lines with no blades pass through unchanged
    (sql:195-236). Output: (edge_id, seq, geom_wkb [, carry...]), seq ordered
    along the original line direction. ``carry`` columns replicate onto every
    piece — attribute propagation without a post-split join."""
    carry = tuple(c for c in carry if c != id_col)
    carry_fields = [lines.schema[c] for c in carry]
    with_blades = (
        lines.select(id_col, "geom_wkb", *carry)
        .join(
            blades.groupBy(id_col).agg(
                F.collect_list(F.struct("blade_x", "blade_y")).alias("blades")
            ),
            id_col,
            "left",
        )
    )
    schema = f"{id_col} long, seq int, geom_wkb binary" + "".join(
        f", {f.name} {f.dataType.simpleString()}" for f in carry_fields
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out: dict[str, list] = {id_col: [], "seq": [], "geom_wkb": []}
            for c in carry:
                out[c] = []
            for row in b.itertuples(index=False):
                arr = wkb_mod.decode(bytes(row.geom_wkb)).rings[0]
                blade_rows = row.blades
                if blade_rows is None or (
                    isinstance(blade_rows, float) and pd.isna(blade_rows)
                ) or len(blade_rows) == 0:
                    pieces = [arr]
                else:
                    bx = np.array([p["blade_x"] for p in blade_rows])
                    by = np.array([p["blade_y"] for p in blade_rows])
                    pieces = _split_polyline(arr, bx, by)
                for s, piece in enumerate(pieces):
                    out[id_col].append(getattr(row, id_col))
                    out["seq"].append(s)
                    out["geom_wkb"].append(wkb_mod.encode_linestring(piece))
                    for c in carry:
                        out[c].append(getattr(row, c))
            yield pd.DataFrame(out)

    return with_blades.mapInPandas(run, schema=schema)


# blades are QUANTIZED crossing points (np.round(pts*QUANT)/QUANT in the cut
# stage): a blade on a non-axis-aligned edge sits up to √2/2/QUANT ≈ 7.1e-8
# deg off the true line, so the on-line tolerance must exceed that or every
# diagonal crossing is silently dropped and the routing graph disconnects at
# it (measured: a 1e-9 tolerance rejected 98% of random diagonal crossings;
# axis-aligned fixtures hid this because their quantized blades land back on
# the line exactly). 2e-7 ≈ 3× the max quantization offset, and still ~2 cm
# ground distance — far below any distinct-feature separation.
BLADE_EPS = 2e-7


def _split_polyline(arr: np.ndarray, bx: np.ndarray, by: np.ndarray) -> list[np.ndarray]:
    """Split a polyline at blade points lying on it (within BLADE_EPS)."""
    seg = arr[1:] - arr[:-1]
    seg_len = np.hypot(seg[:, 0], seg[:, 1])
    cum = np.concatenate([[0.0], np.cumsum(seg_len)])
    total = cum[-1]
    cuts: dict[float, np.ndarray] = {}
    for x, y in zip(bx, by):
        d = np.array([x, y]) - arr[:-1]
        with np.errstate(divide="ignore", invalid="ignore"):
            t = (d[:, 0] * seg[:, 0] + d[:, 1] * seg[:, 1]) / (seg_len**2)
        t = np.clip(t, 0.0, 1.0)
        proj = arr[:-1] + t[:, None] * seg
        dist = np.hypot(proj[:, 0] - x, proj[:, 1] - y)
        k = int(np.argmin(dist))
        if dist[k] > BLADE_EPS:
            continue  # blade not on this line
        s = cum[k] + t[k] * seg_len[k]
        if s <= BLADE_EPS or s >= total - BLADE_EPS:
            continue  # endpoint blade is a no-op (the endpoint vertex exists)
        cuts.setdefault(float(s), np.array([x, y]))
    if not cuts:
        return [arr]
    pieces = []
    prev = 0.0
    prev_pt: np.ndarray | None = None
    for s in sorted(cuts) + [total]:
        # the cut ends at the BLADE coordinate itself, not the projection
        # onto this line: both crossing edges receive the same quantized
        # blade, so their pieces end at the identical on-grid point and the
        # downstream vertex derivation (round(pt*QUANT)) gives both the same
        # junction vertex id. The projection instead differs per edge by up
        # to 7.1e-8 — more than half a quantization cell — so the two edges
        # could round to ADJACENT grid points and the junction would stay
        # disconnected.
        piece = _substring(arr, cum, seg, seg_len, prev, s, prev_pt, cuts.get(s))
        if piece.shape[0] >= 2:
            pieces.append(piece)
        prev, prev_pt = s, cuts.get(s)
    return pieces


def _substring(arr, cum, seg, seg_len, s0, s1, p0=None, p1=None) -> np.ndarray:
    """Sub-polyline between arc lengths s0..s1; ``p0``/``p1`` override the
    end coordinates (the shared blade points) when given."""
    def point_at(s):
        k = int(np.searchsorted(cum, s, side="right") - 1)
        k = min(max(k, 0), len(seg_len) - 1)
        t = 0.0 if seg_len[k] == 0 else (s - cum[k]) / seg_len[k]
        return arr[k] + t * seg[k]

    inner = [i for i in range(len(arr)) if s0 + 1e-12 < cum[min(i, len(cum) - 1)] < s1 - 1e-12]
    start = p0 if p0 is not None else point_at(s0)
    end = p1 if p1 is not None else point_at(s1)
    coords = [start] + [arr[i] for i in inner] + [end]
    out = np.array(coords)
    keep = np.ones(len(out), dtype=bool)
    keep[1:] = np.hypot(*(out[1:] - out[:-1]).T) > 1e-12
    return out[keep]


def shortest_paths_khop(
    edges: DataFrame,
    source_vertex_id: int,
    k_hops: int = 16,
    fwd_cost: str = "cost_seconds_forward",
    rev_cost: str = "cost_seconds_reverse",
) -> DataFrame:
    """Single-source shortest paths, bounded to ``k_hops`` relaxation rounds —
    the set-oriented analog of the reference's pgr_dijkstra + per-route
    rollup (/root/reference/db/deploy/routing_functions.sql:553-591): the
    output row per vertex IS the route rollup (dist = SUM(cost) along the
    optimal route, hops = COUNT(edges)).

    Bellman-Ford over the edge table: one shuffle per round, arcs built from
    directed costs (negative cost = direction closed, sql:482-493). Round
    semantics are deterministic DP — d_{i+1}(v) = min(d_i(v),
    min_u(d_i(u) + w(u,v))) with ties by fewer hops — so bounded-hop results
    are reproducible bit-for-bit by any engine running the same rounds.
    Each round localCheckpoints to truncate lineage (the standard iterative-
    algorithm pattern; without it the plan doubles per round)."""
    arcs = (
        edges.select(
            F.col("source_vertex").alias("src"),
            F.col("target_vertex").alias("dst"),
            F.col(fwd_cost).alias("w"),
        )
        .filter(F.col("w") >= 0)
        .unionByName(
            edges.select(
                F.col("target_vertex").alias("src"),
                F.col("source_vertex").alias("dst"),
                F.col(rev_cost).alias("w"),
            ).filter(F.col("w") >= 0)
        )
        .persist()
    )
    spark = edges.sparkSession
    dist = spark.createDataFrame(
        [(int(source_vertex_id), 0.0, 0)], schema="vertex_id long, dist double, hops int"
    )
    for i in range(k_hops):
        cand = dist.join(arcs, dist["vertex_id"] == arcs["src"]).select(
            arcs["dst"].alias("vertex_id"),
            (dist["dist"] + arcs["w"]).alias("dist"),
            (dist["hops"] + F.lit(1)).alias("hops"),
        )
        prev = dist
        dist = (
            dist.unionByName(cand)
            .groupBy("vertex_id")
            .agg(F.min(F.struct("dist", "hops")).alias("__s"))
            .select(
                "vertex_id",
                F.col("__s.dist").alias("dist"),
                F.col("__s.hops").alias("hops"),
            )
            .localCheckpoint(eager=True)
        )
        # the eager checkpoint above already consumed prev; drop its blocks so
        # k rounds pin one frontier, not k (round 0's prev is not checkpointed)
        if i > 0:
            prev.unpersist(blocking=False)
    arcs.unpersist(blocking=False)
    return dist


def shortest_paths(
    edges: DataFrame,
    source_vertex_id: int,
    fwd_cost: str = "cost_seconds_forward",
    rev_cost: str = "cost_seconds_reverse",
    max_rounds: int = 10_000,
    with_pred: bool = False,
) -> DataFrame:
    """Single-source shortest paths run to CONVERGENCE — the exact analog of
    the reference's pgr_dijkstra (/root/reference/db/deploy/
    routing_functions.sql:571-581), which relaxes until no distance improves.

    Same per-round DP as :func:`shortest_paths_khop`, but the loop stops when
    a round changes nothing: after each round the checkpointed frontier is
    compared to the previous one (exact struct equality is safe — the DP is
    deterministic, so a converged vertex reproduces bit-identical doubles)
    and the count of new-or-improved vertices gates the next round. With
    non-negative weights Bellman-Ford converges within |V|-1 rounds, so the
    ``max_rounds`` cap is a runaway guard, not a semantic bound. One shuffle
    plus one count action per round; each round localCheckpoints to truncate
    the iterative lineage and drops the previous round's blocks so only one
    frontier stays pinned.

    With ``with_pred=True`` the per-round min-struct also carries
    ``(pred_vertex, pred_edge)`` — the upstream vertex and edge of the
    winning relaxation — at zero extra shuffles; ties on (dist, hops) break
    deterministically by smallest (pred_vertex, pred_edge). The source row
    carries the reference's ``-1`` sentinel (pgr_dijkstra's edge = -1 on the
    terminal row). Feed the result to :func:`route_paths` to materialize the
    reference rollup's ``vertex_ids``/``edge_ids`` arrays
    (routing_functions.sql:586-588)."""
    pcols = ("pred_vertex", "pred_edge") if with_pred else ()
    # edge_id is only a requirement of the predecessor variant: a minimal
    # (source_vertex, target_vertex, costs) frame keeps working with the
    # default with_pred=False
    eid_col = F.col("edge_id") if with_pred else F.lit(-1).cast("long")
    arcs = (
        edges.select(
            F.col("source_vertex").alias("src"),
            F.col("target_vertex").alias("dst"),
            F.col(fwd_cost).alias("w"),
            eid_col.alias("eid"),
        )
        .filter(F.col("w") >= 0)
        .unionByName(
            edges.select(
                F.col("target_vertex").alias("src"),
                F.col("source_vertex").alias("dst"),
                F.col(rev_cost).alias("w"),
                eid_col.alias("eid"),
            ).filter(F.col("w") >= 0)
        )
        .persist()
    )
    spark = edges.sparkSession
    dist = spark.createDataFrame(
        [(int(source_vertex_id), 0.0, 0, -1, -1)],
        schema="vertex_id long, dist double, hops int, pred_vertex long, pred_edge long",
    ).localCheckpoint(eager=True)
    state_cols = ("dist", "hops", *pcols)
    for _ in range(max_rounds):
        cand = dist.join(arcs, dist["vertex_id"] == arcs["src"]).select(
            arcs["dst"].alias("vertex_id"),
            (dist["dist"] + arcs["w"]).alias("dist"),
            (dist["hops"] + F.lit(1)).alias("hops"),
            dist["vertex_id"].alias("pred_vertex"),
            arcs["eid"].alias("pred_edge"),
        )
        new = (
            dist.unionByName(cand)
            .groupBy("vertex_id")
            .agg(F.min(F.struct(*state_cols)).alias("__s"))
            .select(
                "vertex_id",
                *[F.col(f"__s.{c}").alias(c) for c in state_cols],
                *(
                    []
                    if with_pred
                    else [
                        F.lit(-1).cast("long").alias("pred_vertex"),
                        F.lit(-1).cast("long").alias("pred_edge"),
                    ]
                ),
            )
            .localCheckpoint(eager=True)
        )
        n_changed = (
            new.select("vertex_id", F.struct(*state_cols).alias("ns"))
            .join(
                dist.select("vertex_id", F.struct(*state_cols).alias("os")),
                "vertex_id",
                "left",
            )
            .filter(F.col("os").isNull() | (F.col("ns") != F.col("os")))
            .count()
        )
        dist.unpersist(blocking=False)
        dist = new
        if n_changed == 0:
            break
    arcs.unpersist(blocking=False)
    cols = ["vertex_id", "dist", "hops", *pcols]
    return dist.select(*cols)


def route_paths(pred: DataFrame, source_vertex_id: int) -> DataFrame:
    """Reconstruct the actual route to every reached vertex from the
    predecessor frontier of ``shortest_paths(..., with_pred=True)`` — the
    set-oriented analog of the reference rollup's per-route
    ``ARRAY_AGG(vertex_id) AS vertex_ids, ARRAY_AGG(edge_id) AS edge_ids``
    (/root/reference/db/deploy/routing_functions.sql:586-588; there
    pgr_dijkstra emits the step rows, here they come from the tree).

    Pointer doubling, not per-hop walking: each row carries a contiguous
    path segment ``(anc → vertex]`` as (vseg, eseg) arrays plus the segment's
    upstream ancestor pointer; every round joins active rows to the current
    state at their ancestor and splices the ancestor's segment in front,
    doubling segment length — ceil(log2(max_hops)) shuffles instead of
    max_hops, the difference between 20 and a million rounds at continental
    graph diameters. Output per reached vertex: ``vertex_ids`` =
    [source, …, vertex], ``edge_ids`` = the traversed edge ids (no trailing
    -1 sentinel — the reference's pgr LEFT JOIN artifact, documented
    divergence), dist, hops.

    Cost note: materializing the reference's ARRAY_AGG output inherently
    carries O(path-length) arrays through each of the log2(diameter) splice
    shuffles — at continental diameters the late rounds move long arrays.
    Callers that need only distances/hops (or the next-hop tree) should stay
    on ``shortest_paths(..., with_pred=True)`` and skip reconstruction."""
    src = int(source_vertex_id)
    state = pred.select(
        "vertex_id",
        "dist",
        "hops",
        F.when(F.col("vertex_id") == src, F.lit(None).cast("long"))
        .otherwise(F.col("pred_vertex"))
        .alias("anc"),
        F.array(F.col("vertex_id")).alias("vseg"),
        F.when(F.col("vertex_id") == src, F.array().cast("array<long>"))
        .otherwise(F.array(F.col("pred_edge")))
        .alias("eseg"),
    ).localCheckpoint(eager=True)
    # 2^64 hops exceeds any graph: more rounds means the pred chain cycles
    max_rounds = 64
    n_state = state.count()
    for _round in range(max_rounds + 1):
        done = state.filter(F.col("anc").isNull())
        active = state.filter(F.col("anc").isNotNull())
        if active.isEmpty():
            break
        if _round == max_rounds:
            raise ValueError(
                "route_paths did not converge after 64 pointer-doubling "
                "rounds — the predecessor chain contains a cycle"
            )
        anc_tbl = state.select(
            F.col("vertex_id").alias("__av"),
            F.col("anc").alias("__aanc"),
            F.col("vseg").alias("__avseg"),
            F.col("eseg").alias("__aeseg"),
        )
        spliced = active.join(anc_tbl, active["anc"] == anc_tbl["__av"]).select(
            "vertex_id",
            "dist",
            "hops",
            F.col("__aanc").alias("anc"),
            F.concat(F.col("__avseg"), F.col("vseg")).alias("vseg"),
            F.concat(F.col("__aeseg"), F.col("eseg")).alias("eseg"),
        )
        new = done.unionByName(spliced).localCheckpoint(eager=True)
        # the splice join is ≤1:1 (anc → unique vertex_id), so any shrink
        # means active rows whose ancestor is missing from the input — a
        # pre-filtered pred frame. Fail loud instead of silently returning
        # a subset of routes.
        n_new = new.count()
        if n_new != n_state:
            raise ValueError(
                f"route_paths lost {n_state - n_new} route(s): some rows' "
                "pred_vertex is absent from the input — pass the COMPLETE "
                "frontier from shortest_paths(with_pred=True), then filter "
                "the reconstructed output"
            )
        state.unpersist(blocking=False)
        state = new
    return state.select(
        "vertex_id",
        "dist",
        "hops",
        F.col("vseg").alias("vertex_ids"),
        F.col("eseg").alias("edge_ids"),
    )


def build_routing_network(
    roads: DataFrame,
    lookup: DataFrame | None = None,
    id_col: str = "osm_id",
    res: int = DEFAULT_RES,
    extra_attrs: tuple[str, ...] = (),
) -> tuple[DataFrame, DataFrame]:
    """roads (road_line schema) → (edges, vertices).

    edges: edge_id, osm_id, seq, geom_wkb, source_vertex, target_vertex,
    length_m, cost_length_forward/reverse, maxspeed_final,
    cost_seconds_forward/reverse [, extra_attrs...].
    vertices: vertex_id, lon, lat, degree.

    ``extra_attrs`` names additional input columns (e.g. name/tunnel/bridge
    for the waterway network) replicated onto every split edge via the same
    zero-join carry path as the cost attributes.
    """
    from pgosm_flex_spark.functions.scalars import kmh_to_seconds_per_meter
    from pgosm_flex_spark.geometry.udfs import length_m_udf

    # carry routing attributes through the per-part pipeline instead of
    # joining back to the road-sized input afterwards: the old
    # join(broadcast(roads-attrs)) OOMs at 100× scale — only the 25-row
    # pgosm.road lookup below earns a broadcast
    attr_cols = tuple(
        c
        for c in ("layer", "oneway", "maxspeed", "osm_type") + tuple(extra_attrs)
        if c in roads.columns
    )
    parts = explode_lines(roads, id_col=id_col, carry=attr_cols)
    base = parts.withColumn(
        "edge_base_id", F.xxhash64(F.col(id_col), F.col("part"))
    )
    lines = base.select(
        F.col("edge_base_id").alias("edge_id"), "geom_wkb", id_col, *attr_cols
    )

    blades = edge_intersection_blades(
        lines.select("edge_id", "geom_wkb", "layer") if "layer" in attr_cols
        else lines.select("edge_id", "geom_wkb"),
        id_col="edge_id",
        layer_col="layer" if "layer" in attr_cols else None,
        res=res,
    )
    carry_through = (id_col,) + attr_cols
    split = split_edges_at_blades(lines, blades, id_col="edge_id", carry=carry_through)
    edges = split.withColumn("final_edge_id", F.xxhash64(F.col("edge_id"), F.col("seq")))

    # endpoints (precomputed columns instead of an expensive join, sql:86-91)
    ep_schema = "final_edge_id long, sx long, sy long, ex long, ey long"

    def endpoints(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for row in b.itertuples(index=False):
                arr = wkb_mod.decode(bytes(row.geom_wkb)).rings[0]
                rows.append(
                    (
                        row.final_edge_id,
                        int(round(arr[0, 0] * QUANT)), int(round(arr[0, 1] * QUANT)),
                        int(round(arr[-1, 0] * QUANT)), int(round(arr[-1, 1] * QUANT)),
                    )
                )
            yield pd.DataFrame(rows, columns=["final_edge_id", "sx", "sy", "ex", "ey"])

    eps = edges.select("final_edge_id", "geom_wkb").mapInPandas(endpoints, schema=ep_schema)
    edges = edges.join(eps, "final_edge_id")
    edges = edges.withColumn("source_vertex", F.xxhash64("sx", "sy")).withColumn(
        "target_vertex", F.xxhash64("ex", "ey")
    )

    # vertices with degree (pgr_extractVertices analog, sql:359-395)
    vs = edges.select(
        F.col("source_vertex").alias("vertex_id"),
        (F.col("sx") / QUANT).alias("lon"), (F.col("sy") / QUANT).alias("lat"),
    ).unionByName(
        edges.select(
            F.col("target_vertex").alias("vertex_id"),
            (F.col("ex") / QUANT).alias("lon"), (F.col("ey") / QUANT).alias("lat"),
        )
    )
    vertices = vs.groupBy("vertex_id", "lon", "lat").agg(
        F.count(F.lit(1)).alias("degree")
    )

    # costs (sql:281-336, 482-493) — oneway/maxspeed/osm_type arrived with
    # the edge rows via carry; no join against the road table happens here
    edges = edges.withColumn("length_m", length_m_udf(F.col("geom_wkb")))
    for c, typ in (("oneway", "short"), ("maxspeed", "double"), ("osm_type", "string")):
        if c not in attr_cols:
            edges = edges.withColumn(c, F.lit(None).cast(typ))
    if lookup is not None:
        lk = lookup.select(
            F.col("osm_type"),
            F.col("maxspeed").alias("default_maxspeed"),
        )
        edges = edges.join(F.broadcast(lk), "osm_type", "left")
        edges = edges.withColumn(
            "maxspeed_final", F.coalesce("maxspeed", "default_maxspeed", F.lit(25.0))
        )
    else:
        edges = edges.withColumn("maxspeed_final", F.coalesce("maxspeed", F.lit(25.0)))
    ow = F.coalesce(F.col("oneway"), F.lit(0))
    edges = (
        edges.withColumn(
            "cost_length_forward", F.when(ow >= 0, F.col("length_m")).otherwise(-F.col("length_m"))
        )
        .withColumn(
            "cost_length_reverse", F.when(ow <= 0, F.col("length_m")).otherwise(-F.col("length_m"))
        )
        .withColumn(
            "cost_seconds_forward",
            F.when(ow >= 0, F.col("length_m") * kmh_to_seconds_per_meter(F.col("maxspeed_final"))).otherwise(F.lit(-1.0)),
        )
        .withColumn(
            "cost_seconds_reverse",
            F.when(ow <= 0, F.col("length_m") * kmh_to_seconds_per_meter(F.col("maxspeed_final"))).otherwise(F.lit(-1.0)),
        )
    )
    edge_cols = [
        "final_edge_id", id_col, "seq", "geom_wkb", "source_vertex", "target_vertex",
        "length_m", "cost_length_forward", "cost_length_reverse", "maxspeed_final",
        "cost_seconds_forward", "cost_seconds_reverse",
        *[c for c in extra_attrs if c in attr_cols],
    ]
    return edges.select(*edge_cols).withColumnRenamed("final_edge_id", "edge_id"), vertices


def build_water_routing_network(
    water_lines: DataFrame,
    id_col: str = "osm_id",
    res: int = DEFAULT_RES,
) -> tuple[DataFrame, DataFrame]:
    """Waterway routing prep — the reference's second routing graph
    (/root/reference/db/deploy/routing_functions.sql:417-520): water_line
    rows go through the SAME split-at-crossings edge pipeline as roads, but
    costs are length-based only (``cost_length`` via geography length,
    sql:474-478) and edges are strictly directed downstream — the reference's
    GENERATED columns pin ``cost_length_forward = cost_length`` and
    ``cost_length_reverse = -cost_length`` (sql:482-496), which is exactly
    the generic builder's oneway=1 contract. name/tunnel/bridge replicate
    onto every split edge (sql:452-462) through the zero-join carry path
    instead of the reference's join-back-by-osm_id.

    Returns (edges, vertices); edges: edge_id, osm_id, seq, geom_wkb,
    source_vertex, target_vertex, cost_length, cost_length_forward,
    cost_length_reverse [, name, tunnel, bridge when present].
    """
    extra = tuple(c for c in ("name", "tunnel", "bridge") if c in water_lines.columns)
    wl = water_lines.withColumn("oneway", F.lit(1).cast("short"))
    edges, vertices = build_routing_network(
        wl, lookup=None, id_col=id_col, res=res, extra_attrs=extra
    )
    return (
        edges.select(
            "edge_id", id_col, "seq", "geom_wkb", "source_vertex", "target_vertex",
            F.col("length_m").alias("cost_length"),
            "cost_length_forward", "cost_length_reverse", *extra,
        ),
        vertices,
    )
