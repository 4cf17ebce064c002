"""Vectorized numpy geometry kernels — the engine's PostGIS stand-ins.

Each kernel reproduces the semantics of a PostGIS function the reference
relies on (SURVEY.md §2.7) without Shapely/GEOS: everything is numpy over
coordinate arrays, called only from Arrow-batched pandas UDFs (never per-row
Python).

- :func:`points_in_polygon`  → ST_Within(point, poly)
  (/root/reference/flex-config/sql/place_polygon_nested.sql:122).
  Even-odd ray cast over all rings (holes included). Boundary points are
  *excluded* (ST_Within semantics: interior only); exactly-on-edge points are
  undefined at float precision — fixtures avoid them, and ties are documented
  in SURVEY.md §7.3.
- :func:`covering_cells`     → ST_Subdivide + GiST
  (/root/reference/flex-config/sql/place.sql:60-66): polygon → cell ids at a
  resolution, each classified interior (fully inside: containment decided
  with no exact test) or boundary (needs refinement).
- :func:`centroid`           → osm2pgsql ``:centroid()``
  (/root/reference/flex-config/style/building_combined_point.lua:123).
- :func:`haversine_m` / :func:`line_length_m`
  → ST_Length(geog) (/root/reference/db/deploy/routing_functions.sql:309).
- :func:`segment_box_hits`   → the `&&` bbox prefilter
  (/root/reference/db/deploy/routing_functions.sql:129).
- :func:`segment_pair_intersections` → ST_Intersection blade points
  (/root/reference/db/deploy/routing_functions.sql:149).
"""

from __future__ import annotations

import numpy as np

from pgosm_flex_spark.geometry import wkb as wkb_mod
from pgosm_flex_spark.index import cells as cell_mod

EARTH_RADIUS_M = 6_371_008.8


# ---------------------------------------------------------------------------
# point in polygon
# ---------------------------------------------------------------------------

def points_in_rings(px: np.ndarray, py: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """Even-odd rule over all rings. px/py shape (n,) → bool (n,)."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    inside = np.zeros(px.shape[0], dtype=bool)
    for ring in rings:
        x0, y0 = ring[:-1, 0], ring[:-1, 1]
        x1, y1 = ring[1:, 0], ring[1:, 1]
        # edges whose y-span strictly straddles the point's horizontal ray
        straddle = (y0 > py[:, None]) != (y1 > py[:, None])
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x0 + (py[:, None] - y0) * (x1 - x0) / (y1 - y0)
        cross = straddle & (px[:, None] < xint)
        inside ^= (cross.sum(axis=1) & 1).astype(bool)
    return inside


def points_in_geom(px: np.ndarray, py: np.ndarray, geom: wkb_mod.Geom) -> np.ndarray:
    if geom.kind == wkb_mod.POLYGON:
        return points_in_rings(px, py, geom.rings)
    if geom.kind == wkb_mod.MULTIPOLYGON:
        # even-odd across all rings of all parts gives union semantics for
        # disjoint parts (the only multipolygons the reference produces)
        return points_in_rings(px, py, geom.rings)
    raise ValueError("points_in_geom expects a (multi)polygon")


# ---------------------------------------------------------------------------
# area / centroid
# ---------------------------------------------------------------------------

def centroid(geom: wkb_mod.Geom) -> tuple[float, float]:
    """Area-weighted centroid of a (multi)polygon; vertex mean for lines,
    identity for points. Holes must be wound opposite the outer ring (the
    fixture/encoder convention) so their signed area subtracts."""
    if geom.kind == wkb_mod.POINT:
        return float(geom.rings[0][0, 0]), float(geom.rings[0][0, 1])
    if geom.kind in (wkb_mod.LINESTRING, wkb_mod.MULTILINESTRING):
        # length-weighted midpoint along segments
        cx = cy = wsum = 0.0
        for part in geom.rings:
            seg = part[1:] - part[:-1]
            w = np.hypot(seg[:, 0], seg[:, 1])
            mid = (part[1:] + part[:-1]) / 2.0
            cx += float((mid[:, 0] * w).sum())
            cy += float((mid[:, 1] * w).sum())
            wsum += float(w.sum())
        if wsum == 0.0:
            return float(geom.rings[0][0, 0]), float(geom.rings[0][0, 1])
        return cx / wsum, cy / wsum
    # compute in a LOCAL frame (first vertex at the origin): at real-world
    # coordinates (lon ≈ -77) the raw shoelace cross-products cancel ~4
    # significant digits; centering removes that cancellation and makes the
    # result translation-stable
    ox, oy = float(geom.rings[0][0, 0]), float(geom.rings[0][0, 1])
    a_sum = cx_sum = cy_sum = 0.0
    for ring in geom.rings:
        x, y = ring[:-1, 0] - ox, ring[:-1, 1] - oy
        x1, y1 = ring[1:, 0] - ox, ring[1:, 1] - oy
        cross = x * y1 - x1 * y
        a = 0.5 * float(cross.sum())
        a_sum += a
        cx_sum += float(((x + x1) * cross).sum()) / 6.0
        cy_sum += float(((y + y1) * cross).sum()) / 6.0
    if a_sum == 0.0:
        allc = np.concatenate(geom.rings, axis=0)
        return float(allc[:, 0].mean()), float(allc[:, 1].mean())
    return cx_sum / a_sum + ox, cy_sum / a_sum + oy


def point_on_surface(geom: wkb_mod.Geom) -> tuple[float, float]:
    """A point guaranteed INSIDE a (multi)polygon — ST_PointOnSurface's
    contract, which the area centroid cannot give: a horseshoe's centroid
    lies in its notch, OUTSIDE the polygon, so using centroids as
    representative points drops real containment candidates (including the
    required self-pair) before any exact test runs.

    GEOS-style horizontal bisector: cast a horizontal ray at a y between
    ymin and ymax, collect even-odd crossings, take the midpoint of the
    widest inside interval. If the chosen y grazes a vertex (degenerate
    crossing set) retry at other fractions; verified with a PIP test before
    returning. Falls back to the centroid for non-areal geometry or a
    fully-degenerate polygon."""
    if geom.kind not in (wkb_mod.POLYGON, wkb_mod.MULTIPOLYGON):
        return centroid(geom)
    allc = np.concatenate(geom.rings, axis=0)
    ymin, ymax = float(allc[:, 1].min()), float(allc[:, 1].max())
    if ymax <= ymin:
        return centroid(geom)
    # 0.5 first (the GEOS choice); irrational-ish retries dodge vertex rows
    for frac in (0.5, 0.381966, 0.618034, 0.271828, 0.707107, 0.141421):
        y = ymin + (ymax - ymin) * frac
        xs: list[np.ndarray] = []
        for ring in geom.rings:
            y0, y1 = ring[:-1, 1], ring[1:, 1]
            x0, x1 = ring[:-1, 0], ring[1:, 0]
            straddle = (y0 > y) != (y1 > y)
            if not straddle.any():
                continue
            with np.errstate(divide="ignore", invalid="ignore"):
                xint = x0 + (y - y0) * (x1 - x0) / (y1 - y0)
            xs.append(xint[straddle])
        if not xs:
            continue
        cr = np.sort(np.concatenate(xs))
        if cr.size < 2 or cr.size % 2:
            continue  # grazed a vertex: crossing parity broken, retry
        widths = cr[1::2] - cr[0::2]
        i = int(np.argmax(widths))
        px = float((cr[2 * i] + cr[2 * i + 1]) / 2.0)
        if points_in_rings(np.array([px]), np.array([y]), geom.rings)[0]:
            return px, float(y)
    return centroid(geom)


# ---------------------------------------------------------------------------
# geodesic length
# ---------------------------------------------------------------------------

def haversine_m(lon1, lat1, lon2, lat2) -> np.ndarray:
    lon1, lat1, lon2, lat2 = (np.radians(np.asarray(a, dtype=np.float64)) for a in (lon1, lat1, lon2, lat2))
    dlat = lat2 - lat1
    dlon = lon2 - lon1
    h = np.sin(dlat / 2.0) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin(dlon / 2.0) ** 2
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.clip(h, 0.0, 1.0)))


def line_length_m(geom: wkb_mod.Geom) -> float:
    total = 0.0
    for part in geom.rings:
        total += float(
            haversine_m(part[:-1, 0], part[:-1, 1], part[1:, 0], part[1:, 1]).sum()
        )
    return total


def points_on_boundary(px: np.ndarray, py: np.ndarray, rings: list[np.ndarray],
                       eps: float = 1e-9) -> np.ndarray:
    """bool (n,): point within ``eps`` of any ring segment (ST_Boundary
    contact). eps is in coordinate units; 1e-9° ≈ 0.1 mm on the ground."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    out = np.zeros(px.shape[0], dtype=bool)
    for ring in rings:
        x0, y0 = ring[:-1, 0], ring[:-1, 1]
        dx, dy = ring[1:, 0] - x0, ring[1:, 1] - y0
        wx = px[:, None] - x0
        wy = py[:, None] - y0
        l2 = dx * dx + dy * dy
        t = np.clip((wx * dx + wy * dy) / np.where(l2 == 0, 1.0, l2), 0.0, 1.0)
        ex = wx - t * dx
        ey = wy - t * dy
        out |= ((ex * ex + ey * ey) <= eps * eps).any(axis=1)
    return out


def _proper_crossing_mask(
    a0: np.ndarray, a1: np.ndarray, b0: np.ndarray, b1: np.ndarray,
    chunk: int = 4096,
) -> np.ndarray:
    """bool (len(a0),): per A-segment, does it properly CROSS any B segment —
    intersection strictly interior to both. Endpoint touches and collinear
    overlaps are NOT crossings (boundary contact is allowed by ST_Within).
    Chunked over A to bound the pairwise matrix at chunk×len(b0)."""
    eps = 1e-12
    db = b1 - b0
    out = np.zeros(a0.shape[0], dtype=bool)
    for s in range(0, a0.shape[0], chunk):
        ca0 = a0[s:s + chunk]
        ca1 = a1[s:s + chunk]
        da = ca1 - ca0
        denom = da[:, None, 0] * db[None, :, 1] - da[:, None, 1] * db[None, :, 0]
        diff = b0[None, :, :] - ca0[:, None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            t = (diff[:, :, 0] * db[None, :, 1] - diff[:, :, 1] * db[None, :, 0]) / denom
            u = (diff[:, :, 0] * da[:, None, 1] - diff[:, :, 1] * da[:, None, 0]) / denom
        out[s:s + chunk] = (
            (np.abs(denom) > eps)
            & (t > eps) & (t < 1 - eps)
            & (u > eps) & (u < 1 - eps)
        ).any(axis=1)
    return out


def polygon_within(child: wkb_mod.Geom, container: wkb_mod.Geom) -> bool:
    """ST_Within(child_polygon, container_polygon)
    (/root/reference/flex-config/sql/place_polygon_nested.sql:122): every
    child boundary vertex inside OR on the container boundary (PostGIS allows
    boundary contact — a city on a state line is within the state), and no
    child edge properly crosses a container edge (catches an edge dipping
    through a concave notch while both endpoints stay inside). Even-odd over
    all rings makes holes and concave notches reject. When any child vertex
    sits ON the boundary, each child edge's midpoint is additionally tested:
    an edge whose two endpoints both touch the boundary (e.g. the corners of
    a concave notch) can run outside without any PROPER crossing, so the
    vertex + crossing tests alone would falsely accept it. A child that
    encloses a whole container hole is rejected by an interior point of that
    hole. Degenerate tangencies (an edge crossing exactly through a
    container vertex) are undefined at float precision — documented
    divergence (SURVEY §7.3)."""
    return bool(polygons_within_container([child], container)[0])


def polygons_within_container(
    children: list[wkb_mod.Geom], container: wkb_mod.Geom
) -> np.ndarray:
    """Vectorized ST_Within of MANY child polygons against ONE container —
    the batch form of :func:`polygon_within` (identical semantics; that
    function delegates here). All children's vertices / edge-crossing masks /
    midpoints run through single numpy calls segmented per child with
    ``reduceat``, so a container with hundreds of candidate children costs a
    handful of array ops instead of a Python loop of pair tests."""
    n = len(children)
    if n == 0:
        return np.zeros(0, dtype=bool)
    ok = np.ones(n, dtype=bool)

    vert_counts = np.array(
        [sum(r.shape[0] for r in c.rings) for c in children], dtype=np.int64
    )
    voff = np.concatenate([[0], np.cumsum(vert_counts)])[:-1]
    verts = np.concatenate(
        [np.concatenate(c.rings, axis=0) for c in children], axis=0
    )
    inside = points_in_rings(verts[:, 0], verts[:, 1], container.rings)
    boundary_touch = np.zeros(n, dtype=bool)
    if not inside.all():
        miss = ~inside
        on_b = np.zeros(verts.shape[0], dtype=bool)
        on_b[miss] = points_on_boundary(
            verts[miss, 0], verts[miss, 1], container.rings
        )
        ok &= np.logical_and.reduceat(inside | on_b, voff)
        boundary_touch = np.logical_or.reduceat(on_b & miss, voff) & ok

    seg_counts = np.array(
        [sum(r.shape[0] - 1 for r in c.rings) for c in children], dtype=np.int64
    )
    soff = np.concatenate([[0], np.cumsum(seg_counts)])[:-1]
    c0 = np.concatenate(
        [np.concatenate([r[:-1] for r in c.rings], axis=0) for c in children], axis=0
    )
    c1 = np.concatenate(
        [np.concatenate([r[1:] for r in c.rings], axis=0) for c in children], axis=0
    )
    g0 = np.concatenate([r[:-1] for r in container.rings], axis=0)
    g1 = np.concatenate([r[1:] for r in container.rings], axis=0)
    ok &= ~np.logical_or.reduceat(_proper_crossing_mask(c0, c1, g0, g1), soff)

    if boundary_touch.any():
        seg_mask = np.repeat(boundary_touch, seg_counts)
        mx = (c0[seg_mask, 0] + c1[seg_mask, 0]) / 2.0
        my = (c0[seg_mask, 1] + c1[seg_mask, 1]) / 2.0
        m_in = points_in_rings(mx, my, container.rings)
        m_ok = m_in.copy()
        if not m_in.all():
            m_ok[~m_in] = points_on_boundary(mx[~m_in], my[~m_in], container.rings)
        t_off = np.concatenate([[0], np.cumsum(seg_counts[boundary_touch])])[:-1]
        ok[boundary_touch] &= np.logical_and.reduceat(m_ok, t_off)

    # a child that passes the vertex and crossing tests can still enclose a
    # whole container hole: reject it when an interior point of a hole lies
    # inside it. Only containers with holes pay for this.
    holes = _hole_points(container)
    if holes.size:
        for i in np.flatnonzero(ok):
            ok[i] = not points_in_rings(holes[:, 0], holes[:, 1], children[i].rings).any()
    return ok


def _hole_points(geom: wkb_mod.Geom) -> np.ndarray:
    """(h, 2): one interior point of each hole of a (multi)polygon — the
    point_on_surface of the hole ring together with any rings nested inside
    it (islands), so the point lies outside the polygon itself."""
    holes, start = [], 0
    for n in geom.part_ring_counts or [len(geom.rings)]:
        holes.extend(geom.rings[start + 1:start + n])
        start += n
    firsts = np.array([r[0] for r in geom.rings])
    pts = []
    for h in holes:
        inside = points_in_rings(firsts[:, 0], firsts[:, 1], [h])
        nested = [r for r, k in zip(geom.rings, inside) if k and r is not h]
        pts.append(point_on_surface(wkb_mod.Geom(wkb_mod.POLYGON, [h, *nested])))
    return np.array(pts, dtype=np.float64).reshape(-1, 2)


# ---------------------------------------------------------------------------
# linemerge (ST_LineMerge, /root/reference/db/deploy/routing_functions.sql:63)
# ---------------------------------------------------------------------------

def linemerge(parts: list[np.ndarray]) -> list[np.ndarray]:
    """Merge touching linestring parts into maximal linestrings.

    ST_LineMerge semantics: two part-ends sharing a node are sewn together
    only when exactly two ends meet there (junctions of ≥3 stay split);
    parts are reversed as needed. Deterministic: chains start at the lowest
    part index. Endpoint equality is exact float64 equality (the reference's
    GEOS noder also requires exact node identity)."""
    parts = [p for p in parts if p.shape[0] >= 2]
    n = len(parts)
    if n <= 1:
        return parts

    def key(pt) -> tuple[float, float]:
        return (float(pt[0]), float(pt[1]))

    node: dict[tuple[float, float], list[tuple[int, int]]] = {}
    for i, p in enumerate(parts):
        node.setdefault(key(p[0]), []).append((i, 0))
        node.setdefault(key(p[-1]), []).append((i, 1))

    def link(i: int, e: int) -> tuple[int, int] | None:
        """The (part, end) sewn to part i's end e via a degree-2 node."""
        k = key(parts[i][0] if e == 0 else parts[i][-1])
        ends = node[k]
        if len(ends) != 2:
            return None
        (a, ae), (b, be) = ends
        j, f = (b, be) if (a, ae) == (i, e) else (a, ae)
        if j == i:
            return None  # both ends of one part: a self-closing ring
        return (j, f)

    used = [False] * n
    merged: list[np.ndarray] = []
    for i in range(n):
        if used[i]:
            continue
        used[i] = True
        chain: list[tuple[int, bool]] = [(i, False)]  # (part, reversed)
        # extend past the tail
        cur, rev = i, False
        while True:
            nxt = link(cur, 0 if rev else 1)
            if nxt is None or used[nxt[0]]:
                break
            j, f = nxt
            used[j] = True
            chain.append((j, f == 1))  # joint must be j's FIRST oriented coord
            cur, rev = j, f == 1
        # extend before the head
        cur, rev = i, False
        head: list[tuple[int, bool]] = []
        while True:
            nxt = link(cur, 1 if rev else 0)
            if nxt is None or used[nxt[0]]:
                break
            j, f = nxt
            used[j] = True
            head.append((j, f == 0))  # joint must be j's LAST oriented coord
            cur, rev = j, f == 0
        chain = list(reversed(head)) + chain
        coords = []
        for idx, r in chain:
            p = parts[idx][::-1] if r else parts[idx]
            coords.append(p if not coords else p[1:])
        merged.append(np.concatenate(coords, axis=0))
    return merged


# ---------------------------------------------------------------------------
# segment vs box / segment vs segment
# ---------------------------------------------------------------------------

def segment_box_hits(
    p0: np.ndarray, p1: np.ndarray,
    xmin: np.ndarray, ymin: np.ndarray, xmax: np.ndarray, ymax: np.ndarray,
) -> np.ndarray:
    """bool (m, k): does segment i intersect/touch box j.

    p0/p1: (m, 2); boxes: (k,). Bbox-overlap test + separating-line test
    (all four box corners strictly on one side of the segment's infinite
    line ⇒ miss).
    """
    m = p0.shape[0]
    k = xmin.shape[0]
    sxmin = np.minimum(p0[:, 0], p1[:, 0])[:, None]
    sxmax = np.maximum(p0[:, 0], p1[:, 0])[:, None]
    symin = np.minimum(p0[:, 1], p1[:, 1])[:, None]
    symax = np.maximum(p0[:, 1], p1[:, 1])[:, None]
    bbox_ok = (sxmin <= xmax[None, :]) & (sxmax >= xmin[None, :]) & (symin <= ymax[None, :]) & (symax >= ymin[None, :])
    if not bbox_ok.any():
        return np.zeros((m, k), dtype=bool)
    d = p1 - p0  # (m,2)
    # signed side of each box corner w.r.t. each segment line: (m,k,4)
    cx = np.stack([xmin, xmax, xmin, xmax], axis=1)  # (k,4)
    cy = np.stack([ymin, ymin, ymax, ymax], axis=1)
    side = d[:, 0:1, None] * (cy[None, :, :] - p0[:, 1:2, None]) - d[:, 1:2, None] * (
        cx[None, :, :] - p0[:, 0:1, None]
    )
    all_pos = (side > 0).all(axis=2)
    all_neg = (side < 0).all(axis=2)
    return bbox_ok & ~(all_pos | all_neg)


def segment_pairs_flat(
    a0: np.ndarray, a1: np.ndarray, b0: np.ndarray, b1: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Elementwise twin of :func:`segment_pair_intersections`: the i-th A
    segment is tested against the i-th B segment only — callers enumerate
    the (i, j) combinations themselves (e.g. the blade cut stage batching
    ALL line pairs of an Arrow batch into one flat call instead of one
    (m, n) kernel invocation per pair). Same eps/collinear semantics.

    Returns (points (p, 2), flat index (p,) into the input rows)."""
    da = a1 - a0
    db = b1 - b0
    denom = da[:, 0] * db[:, 1] - da[:, 1] * db[:, 0]
    diff = b0 - a0
    with np.errstate(divide="ignore", invalid="ignore"):
        t = (diff[:, 0] * db[:, 1] - diff[:, 1] * db[:, 0]) / denom
        u = (diff[:, 0] * da[:, 1] - diff[:, 1] * da[:, 0]) / denom
    eps = 1e-12
    hit = (np.abs(denom) > eps) & (t >= -eps) & (t <= 1 + eps) & (u >= -eps) & (u <= 1 + eps)
    idx = np.nonzero(hit)[0]
    pts = a0[idx] + t[idx, None] * da[idx]
    return pts, idx


def segment_pair_intersections(
    a0: np.ndarray, a1: np.ndarray, b0: np.ndarray, b1: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Proper intersection points between segment sets A (m,2) and B (n,2).

    Returns (points (p,2), pair index (p,2) of [i, j]). Collinear overlaps are
    skipped — mirroring the reference's ST_Relate '1********' guard that skips
    collinear-overlap splits (/root/reference/db/deploy/routing_functions.sql:196).
    Endpoint touches count as intersections (a road T-junction is a split).
    """
    da = a1 - a0  # (m,2)
    db = b1 - b0  # (n,2)
    denom = da[:, None, 0] * db[None, :, 1] - da[:, None, 1] * db[None, :, 0]  # (m,n)
    diff = b0[None, :, :] - a0[:, None, :]  # (m,n,2)
    with np.errstate(divide="ignore", invalid="ignore"):
        t = (diff[:, :, 0] * db[None, :, 1] - diff[:, :, 1] * db[None, :, 0]) / denom
        u = (diff[:, :, 0] * da[:, None, 1] - diff[:, :, 1] * da[:, None, 0]) / denom
    eps = 1e-12
    hit = (np.abs(denom) > eps) & (t >= -eps) & (t <= 1 + eps) & (u >= -eps) & (u <= 1 + eps)
    ii, jj = np.nonzero(hit)
    pts = a0[ii] + t[ii, jj][:, None] * da[ii]
    return pts, np.stack([ii, jj], axis=1)


# ---------------------------------------------------------------------------
# polygon / line → covering cells
# ---------------------------------------------------------------------------

KIND_INTERIOR = 0  # cell fully inside: containment needs no exact test
KIND_BOUNDARY = 1  # cell crossed by the boundary: exact refinement required

_MAX_COVER_CELLS = 65536


def covering_cells(geom: wkb_mod.Geom, res: int) -> tuple[np.ndarray, np.ndarray]:
    """(cell_ids int64 (k,), kinds int8 (k,)) covering the geometry at ``res``.

    For (multi)polygons: a cell with no boundary edge through it is uniformly
    in or out (continuity), so one center PIP test classifies it; cells hit
    by an edge are boundary. For (multi)linestrings/points every touched cell
    is boundary. Raises if the bbox spans more than 65536 cells at ``res`` —
    callers drop to a coarser resolution for continent-scale geometries
    (adaptive covering, SURVEY.md §4 skew row).
    """
    xmin, ymin, xmax, ymax = geom.bbox
    x0, y0 = cell_mod.xy_of_points(np.array([xmin]), np.array([ymax]), res)  # note: y grows southward
    x1, y1 = cell_mod.xy_of_points(np.array([xmax]), np.array([ymin]), res)
    gx = np.arange(x0[0], x1[0] + 1, dtype=np.int64)
    gy = np.arange(y0[0], y1[0] + 1, dtype=np.int64)
    if gx.size * gy.size > _MAX_COVER_CELLS:
        raise ValueError(
            f"covering at res={res} would produce {gx.size * gy.size} cells; use a coarser res"
        )
    xs, ys = np.meshgrid(gx, gy, indexing="ij")
    cand = cell_mod.pack(xs.ravel(), ys.ravel(), res)
    cxmin, cymin, cxmax, cymax = cell_mod.cell_bounds(cand)

    segs0 = np.concatenate([r[:-1] for r in geom.rings], axis=0)
    segs1 = np.concatenate([r[1:] for r in geom.rings], axis=0)
    hits = segment_box_hits(segs0, segs1, cxmin, cymin, cxmax, cymax).any(axis=0)

    if geom.kind in (wkb_mod.POINT, wkb_mod.LINESTRING, wkb_mod.MULTILINESTRING):
        if geom.kind == wkb_mod.POINT:
            c = cell_mod.cells_of_points(geom.rings[0][:, 0], geom.rings[0][:, 1], res)
            return c, np.full(c.shape, KIND_BOUNDARY, dtype=np.int8)
        keep = hits
        return cand[keep], np.full(int(keep.sum()), KIND_BOUNDARY, dtype=np.int8)

    # polygon: classify non-hit cells by center containment
    ccx = (cxmin + cxmax) / 2.0
    ccy = (cymin + cymax) / 2.0
    inside = points_in_geom(ccx, ccy, geom)
    interior = inside & ~hits
    keep = hits | interior
    kinds = np.where(hits[keep], KIND_BOUNDARY, KIND_INTERIOR).astype(np.int8)
    return cand[keep], kinds
