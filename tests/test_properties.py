"""Property-based tests (hypothesis) over the pure-numpy geometry/index core.

The reference's geometric behavior comes from PostGIS/GEOS, which is
property-tested upstream; this engine's hand-rolled kernels
(geometry/kernels.py, geometry/wkb.py, index/cells.py) carry that burden
themselves. Example-based tests pin the known-tricky shapes (holes, concave
notches, boundary chords); these properties sweep the input space against
independent oracles — a convex half-plane test for PIP, closed-form
containment for rectangles, pure-python bit math for the pigeonhole banding
that text/dedup.py and images/neardup.py rely on for losslessness.

No Spark in this file: every property runs on numpy arrays, so hypothesis
can afford its default hundred examples per property.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from pgosm_flex_spark.geometry import kernels, wkb
from pgosm_flex_spark.index import cells

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _convex_hull(pts: np.ndarray) -> np.ndarray:
    """Andrew monotone chain; returns hull CCW, first point repeated last."""
    pts = pts[np.lexsort((pts[:, 1], pts[:, 0]))]

    def cross(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    lower: list[np.ndarray] = []
    for p in pts:
        while len(lower) >= 2 and cross(lower[-2], lower[-1], p) <= 0:
            lower.pop()
        lower.append(p)
    upper: list[np.ndarray] = []
    for p in pts[::-1]:
        while len(upper) >= 2 and cross(upper[-2], upper[-1], p) <= 0:
            upper.pop()
        upper.append(p)
    hull = np.array(lower[:-1] + upper[:-1], dtype=np.float64)
    return np.vstack([hull, hull[:1]])


def _convex_side(ring: np.ndarray, px: np.ndarray, py: np.ndarray) -> np.ndarray:
    """Signed distance proxy: min over edges of the CCW cross product —
    > 0 strictly inside, < 0 strictly outside (the convex half-plane oracle,
    independent of the even-odd ray cast under test)."""
    x0, y0 = ring[:-1, 0], ring[:-1, 1]
    x1, y1 = ring[1:, 0], ring[1:, 1]
    cr = (x1 - x0) * (py[:, None] - y0) - (y1 - y0) * (px[:, None] - x0)
    return cr.min(axis=1)


coord = st.floats(min_value=-170.0, max_value=170.0, allow_nan=False,
                  allow_infinity=False)


# ---------------------------------------------------------------------------
# PIP vs convex half-plane oracle
# ---------------------------------------------------------------------------


@settings(max_examples=100, deadline=None)
@given(
    pts=st.lists(st.tuples(coord, coord), min_size=5, max_size=14),
    probes=st.lists(st.tuples(coord, coord), min_size=1, max_size=40),
)
def test_pip_matches_convex_halfplane_oracle(pts, probes):
    arr = np.array(pts, dtype=np.float64)
    # need a non-degenerate hull (3+ distinct non-collinear points)
    hull = _convex_hull(np.unique(arr, axis=0))
    if hull.shape[0] < 4:  # triangle = 3 + repeat
        return
    px = np.array([p[0] for p in probes])
    py = np.array([p[1] for p in probes])
    side = _convex_side(hull, px, py)
    got = kernels.points_in_rings(px, py, [hull])
    # the ray cast is half-open on the boundary: only assert where the
    # oracle is decisive (strictly off the boundary by a float-safe margin)
    scale = max(np.abs(hull).max(), 1.0)
    decisive = np.abs(side) > 1e-9 * scale * scale
    assert np.array_equal(got[decisive], side[decisive] > 0)


@settings(max_examples=100, deadline=None)
@given(
    ox=st.floats(-100, 100), oy=st.floats(-100, 100),
    w=st.floats(0.5, 60), h=st.floats(0.5, 60),
    fx=st.floats(0.2, 0.7), fy=st.floats(0.2, 0.7),
    probes=st.lists(st.tuples(st.floats(-0.3, 1.3), st.floats(-0.3, 1.3)),
                    min_size=1, max_size=40),
)
def test_pip_hole_matches_rect_arithmetic(ox, oy, w, h, fx, fy, probes):
    """Outer rect + centered hole rect: even-odd result must equal the
    closed-form `in outer and not in hole`."""
    outer = np.array(
        [[ox, oy], [ox + w, oy], [ox + w, oy + h], [ox, oy + h], [ox, oy]]
    )
    hx0, hy0 = ox + w * (0.5 - fx / 2), oy + h * (0.5 - fy / 2)
    hx1, hy1 = ox + w * (0.5 + fx / 2), oy + h * (0.5 + fy / 2)
    hole = np.array([[hx0, hy0], [hx1, hy0], [hx1, hy1], [hx0, hy1], [hx0, hy0]])
    # probes in outer-rect-relative coordinates, clear of both boundaries
    px = np.array([ox + u * w for u, _ in probes])
    py = np.array([oy + v * h for _, v in probes])
    eps = 1e-7 * max(abs(ox) + w, abs(oy) + h, 1.0)
    on_edge = (
        (np.abs(px - ox) < eps) | (np.abs(px - (ox + w)) < eps)
        | (np.abs(py - oy) < eps) | (np.abs(py - (oy + h)) < eps)
        | (np.abs(px - hx0) < eps) | (np.abs(px - hx1) < eps)
        | (np.abs(py - hy0) < eps) | (np.abs(py - hy1) < eps)
    )
    in_outer = (px > ox) & (px < ox + w) & (py > oy) & (py < oy + h)
    in_hole = (px > hx0) & (px < hx1) & (py > hy0) & (py < hy1)
    want = in_outer & ~in_hole
    got = kernels.points_in_rings(px, py, [outer, hole])
    ok = ~on_edge
    assert np.array_equal(got[ok], want[ok])


@settings(max_examples=60, deadline=None)
@given(pts=st.lists(st.tuples(coord, coord), min_size=6, max_size=14),
       shrink=st.floats(0.05, 0.85))
def test_shrunk_convex_polygon_is_within(pts, shrink):
    """A copy scaled toward the centroid stays ST_Within its original —
    drives polygon_within (the nested-hierarchy exact test) across shapes."""
    hull = _convex_hull(np.unique(np.array(pts, dtype=np.float64), axis=0))
    if hull.shape[0] < 4:
        return
    c = hull[:-1].mean(axis=0)
    inner_ring = c + (hull - c) * shrink
    outer = wkb.decode(wkb.encode_polygon([hull]))
    inner = wkb.decode(wkb.encode_polygon([inner_ring]))
    assert kernels.polygon_within(inner, outer)


# ---------------------------------------------------------------------------
# WKB round-trip / centroid invariance
# ---------------------------------------------------------------------------


@settings(max_examples=100, deadline=None)
@given(pts=st.lists(st.tuples(coord, coord), min_size=3, max_size=12))
def test_wkb_polygon_roundtrip_property(pts):
    ring = np.array(pts + pts[:1], dtype=np.float64)
    geom = wkb.decode(wkb.encode_polygon([ring]))
    assert geom.kind == wkb.POLYGON
    assert np.allclose(geom.rings[0], ring)


@settings(max_examples=60, deadline=None)
@given(pts=st.lists(st.tuples(coord, coord), min_size=5, max_size=12),
       dx=st.floats(-50, 50), dy=st.floats(-50, 50))
def test_centroid_translation_invariance(pts, dx, dy):
    hull = _convex_hull(np.unique(np.array(pts, dtype=np.float64), axis=0))
    if hull.shape[0] < 4:
        return
    # skip slivers whose width is below float resolution relative to the
    # translation: adding dx=1.0 to coords like 1e-38 rounds the sliver
    # away entirely, so g1 is a genuinely DIFFERENT (collapsed) polygon —
    # no centroid implementation can be invariant across that
    x, y = hull[:-1, 0], hull[:-1, 1]
    area = 0.5 * abs(float((x * hull[1:, 1] - hull[1:, 0] * y).sum()))
    scale0 = max(float(np.abs(hull).max()), abs(dx), abs(dy), 1.0)
    if area < 1e-9 * scale0 * scale0:
        return
    g0 = wkb.decode(wkb.encode_polygon([hull]))
    g1 = wkb.decode(wkb.encode_polygon([hull + [dx, dy]]))
    c0 = kernels.centroid(g0)
    c1 = kernels.centroid(g1)
    scale = max(np.abs(hull).max(), abs(dx), abs(dy), 1.0)
    assert abs(c1[0] - (c0[0] + dx)) < 1e-7 * scale
    assert abs(c1[1] - (c0[1] + dy)) < 1e-7 * scale


# ---------------------------------------------------------------------------
# cell index round-trips
# ---------------------------------------------------------------------------

lon_s = st.floats(min_value=-179.9, max_value=179.9, allow_nan=False)
lat_s = st.floats(min_value=-84.0, max_value=84.0, allow_nan=False)


@settings(max_examples=100, deadline=None)
@given(lon=lon_s, lat=lat_s, res=st.integers(1, 20),
       up=st.integers(0, 6))
def test_cell_roundtrip_bounds_and_parent(lon, lat, res, up):
    cell = cells.cells_of_points(np.array([lon]), np.array([lat]), res)
    r, x, y = cells.unpack(cell)
    assert r[0] == res
    assert cells.pack(x, y, res)[0] == cell[0]
    lon0, lat0, lon1, lat1 = cells.cell_bounds(cell)
    # the point lies in its cell's bounds (half-open in x/y grid space;
    # allow boundary equality — float inversion of mercator is ~1e-12 off)
    assert lon0[0] - 1e-9 <= lon <= lon1[0] + 1e-9
    assert lat0[0] - 1e-9 <= lat <= lat1[0] + 1e-9
    # parent consistency: coarser cell of the same point == parent()
    pr = max(0, res - up)
    assert cells.parent(cell, pr)[0] == cells.cells_of_points(
        np.array([lon]), np.array([lat]), pr
    )[0]


# ---------------------------------------------------------------------------
# pigeonhole banding losslessness (the dedup-ladder candidate guarantee)
# ---------------------------------------------------------------------------


def _slices(h: int, bands: int) -> list[int]:
    """The band slices as operators/buckets.py computes them: arithmetic
    shiftright then mask (sign bits stripped), over int64 semantics."""
    width = 64 // bands
    mask = (1 << width) - 1
    hv = np.int64(np.uint64(h & 0xFFFFFFFFFFFFFFFF))
    return [int((hv >> np.int64(q * width)) & np.int64(mask)) for q in range(bands)]


@settings(max_examples=200, deadline=None)
@given(
    h=st.integers(min_value=0, max_value=2**64 - 1),
    flips=st.lists(st.integers(0, 63), min_size=0, max_size=3, unique=True),
    bands=st.sampled_from([4, 8, 16]),
)
def test_pigeonhole_banding_is_lossless(h, flips, bands):
    """Any pair within Hamming distance < bands shares at least one band
    slice — the guarantee that makes the banded equi-join candidate set a
    superset of the true near-dup pairs (buckets.hamming_band_pairs)."""
    h2 = h
    for b in flips:
        h2 ^= 1 << b
    hamming = bin(h ^ h2).count("1")
    if hamming >= bands:
        return
    s1, s2 = _slices(h, bands), _slices(h2, bands)
    assert any(a == b for a, b in zip(s1, s2))
    # and the slice xor popcounts reassemble the full distance
    assert sum(bin(a ^ b).count("1") for a, b in zip(s1, s2)) == hamming


# ---------------------------------------------------------------------------
# haversine metric sanity
# ---------------------------------------------------------------------------


@settings(max_examples=100, deadline=None)
@given(lon1=lon_s, lat1=lat_s, lon2=lon_s, lat2=lat_s)
def test_haversine_symmetric_nonnegative(lon1, lat1, lon2, lat2):
    d12 = float(kernels.haversine_m(lon1, lat1, lon2, lat2))
    d21 = float(kernels.haversine_m(lon2, lat2, lon1, lat1))
    assert d12 >= 0.0
    assert abs(d12 - d21) <= 1e-6 * max(d12, 1.0)
    assert float(kernels.haversine_m(lon1, lat1, lon1, lat1)) < 1e-6
    # bounded by half the earth's circumference (~20015 km) + slack
    assert d12 < 2.1e7


# ---------------------------------------------------------------------------
# linemerge (ST_LineMerge analog) — reassembly and conservation
# ---------------------------------------------------------------------------


@settings(max_examples=80, deadline=None)
@given(
    n=st.integers(4, 24),
    seed=st.integers(0, 2**31 - 1),
    ncuts=st.integers(0, 6),
)
def test_linemerge_reassembles_shuffled_chain(n, seed, ncuts):
    """A simple path split at random interior nodes, with parts shuffled and
    randomly reversed, merges back to exactly ONE linestring equal to the
    original or its reverse (every interior node is degree 2), and the
    total segment count is conserved."""
    rng = np.random.default_rng(seed)
    # integer coords on a walk => distinct vertices with exact float equality
    steps = rng.integers(1, 4, size=(n - 1, 2))
    coords = np.vstack([[0, 0], np.cumsum(steps, axis=0)]).astype(np.float64)
    cuts = sorted(set(rng.integers(1, n - 1, size=ncuts).tolist()))
    bounds = [0] + cuts + [n - 1]
    parts = [
        coords[a : b + 1].copy() for a, b in zip(bounds[:-1], bounds[1:]) if b > a
    ]
    order = rng.permutation(len(parts))
    shuffled = [
        parts[i][::-1].copy() if rng.random() < 0.5 else parts[i] for i in order
    ]
    merged = kernels.linemerge(shuffled)
    assert sum(p.shape[0] - 1 for p in merged) == n - 1
    assert len(merged) == 1
    out = merged[0]
    assert np.array_equal(out, coords) or np.array_equal(out, coords[::-1])


@settings(max_examples=60, deadline=None)
@given(seed=st.integers(0, 2**31 - 1), deg=st.integers(3, 5))
def test_linemerge_keeps_junction_split(seed, deg):
    """Parts meeting >= 3 ends at one node must NOT be sewn through it —
    the reference's GEOS noder keeps junctions split."""
    rng = np.random.default_rng(seed)
    hub = np.array([0.0, 0.0])
    dirs = rng.permutation(
        np.array([[1, 0], [0, 1], [-1, 0], [0, -1], [1, 1]], dtype=np.float64)
    )[:deg]
    parts = [np.vstack([hub, hub + d, hub + 2 * d]) for d in dirs]
    merged = kernels.linemerge(parts)
    assert len(merged) == deg
    assert sum(p.shape[0] - 1 for p in merged) == 2 * deg


# ---------------------------------------------------------------------------
# segment intersections — constructed-crossing oracle
# ---------------------------------------------------------------------------


@settings(max_examples=100, deadline=None)
@given(
    px=st.floats(-100, 100), py=st.floats(-100, 100),
    ang1=st.floats(0.05, 3.0), dang=st.floats(0.2, 2.7),
    r1=st.floats(0.5, 20), r2=st.floats(0.5, 20),
    r3=st.floats(0.5, 20), r4=st.floats(0.5, 20),
)
def test_segment_pair_intersections_constructed_crossing(
    px, py, ang1, dang, r1, r2, r3, r4
):
    """Two segments built THROUGH a known point P at distinct angles must
    intersect at P (within float tolerance)."""
    p = np.array([px, py])
    d1 = np.array([np.cos(ang1), np.sin(ang1)])
    d2 = np.array([np.cos(ang1 + dang), np.sin(ang1 + dang)])
    a0, a1 = (p - r1 * d1)[None, :], (p + r2 * d1)[None, :]
    b0, b1 = (p - r3 * d2)[None, :], (p + r4 * d2)[None, :]
    pts, idx = kernels.segment_pair_intersections(a0, a1, b0, b1)
    assert len(pts) == 1 and tuple(idx[0]) == (0, 0)
    scale = max(abs(px), abs(py), r1, r2, r3, r4, 1.0)
    assert np.allclose(pts[0], p, atol=1e-7 * scale)


@settings(max_examples=60, deadline=None)
@given(
    px=st.floats(-50, 50), py=st.floats(-50, 50),
    ang=st.floats(0.0, 3.1), r=st.floats(1.0, 10), off=st.floats(0.1, 5),
)
def test_segment_pair_intersections_skips_collinear(px, py, ang, r, off):
    """Collinear overlapping segments are skipped (the ST_Relate
    '1********' guard the reference applies before splitting)."""
    p = np.array([px, py])
    d = np.array([np.cos(ang), np.sin(ang)])
    a0, a1 = p[None, :], (p + r * d)[None, :]
    b0, b1 = (p + off * d)[None, :], (p + (r + off) * d)[None, :]
    pts, idx = kernels.segment_pair_intersections(a0, a1, b0, b1)
    assert len(pts) == 0


# ---------------------------------------------------------------------------
# point_on_surface — the interior-point contract (the hole test of
# polygons_within_container)
# ---------------------------------------------------------------------------


@settings(max_examples=100, deadline=None)
@given(seed=st.integers(0, 2**31 - 1), k=st.integers(5, 16))
def test_point_on_surface_inside_star_shaped(seed, k):
    """point_on_surface must land strictly INSIDE arbitrary (frequently
    concave) simple polygons — the property the container-hole test of
    polygons_within_container relies on, and exactly where the area
    centroid fails (a horseshoe's centroid sits in its notch)."""
    rng = np.random.default_rng(seed)
    ang = np.sort(rng.uniform(0, 2 * np.pi, k))
    if np.min(np.diff(ang)) < 1e-3:
        return  # near-duplicate angles make degenerate slivers
    rad = rng.uniform(0.5, 10.0, k)
    ring = np.stack([rad * np.cos(ang), rad * np.sin(ang)], axis=1)
    ring = np.vstack([ring, ring[:1]])
    g = wkb.decode(wkb.encode_polygon([ring]))
    x, y = kernels.point_on_surface(g)
    assert kernels.points_in_rings(np.array([x]), np.array([y]), g.rings)[0]


def test_point_on_surface_horseshoe_and_donut():
    hs = np.array(
        [[0, 0], [10, 0], [10, 10], [7, 10], [7, 3], [3, 3], [3, 10],
         [0, 10], [0, 0]], dtype=np.float64
    )
    g = wkb.decode(wkb.encode_polygon([hs]))
    c = kernels.centroid(g)
    assert not kernels.points_in_rings(np.array([c[0]]), np.array([c[1]]), g.rings)[0]
    x, y = kernels.point_on_surface(g)
    assert kernels.points_in_rings(np.array([x]), np.array([y]), g.rings)[0]
    outer = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], dtype=np.float64)
    hole = np.array([[2, 2], [8, 2], [8, 8], [2, 8], [2, 2]], dtype=np.float64)
    g2 = wkb.decode(wkb.encode_polygon([outer, hole]))
    x2, y2 = kernels.point_on_surface(g2)
    assert kernels.points_in_rings(np.array([x2]), np.array([y2]), g2.rings)[0]
