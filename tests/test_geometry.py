from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pgosm_flex_spark.geometry import kernels, wkb
from pgosm_flex_spark.index import cells


def square(x0, y0, x1, y1):
    return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], dtype=np.float64)


def test_wkb_point_roundtrip():
    g = wkb.decode(wkb.encode_point(-77.01, 38.9))
    assert g.kind == wkb.POINT
    assert g.rings[0].tolist() == [[-77.01, 38.9]]


def test_wkb_polygon_roundtrip():
    outer = square(0, 0, 10, 10)
    hole = square(4, 4, 6, 6)[::-1].copy()  # opposite winding
    g = wkb.decode(wkb.encode_polygon([outer, hole]))
    assert g.kind == wkb.POLYGON
    assert len(g.rings) == 2
    np.testing.assert_allclose(g.rings[0], outer)
    assert g.bbox == (0.0, 0.0, 10.0, 10.0)


def test_wkb_multipolygon_roundtrip():
    a = [square(0, 0, 1, 1)]
    b = [square(5, 5, 7, 7), square(5.5, 5.5, 6, 6)[::-1].copy()]
    g = wkb.decode(wkb.encode_multipolygon([a, b]))
    assert g.kind == wkb.MULTIPOLYGON
    assert g.part_ring_counts == [1, 2]
    assert len(g.rings) == 3


def test_wkb_multilinestring_roundtrip():
    parts = [np.array([[0, 0], [1, 1]], dtype=float), np.array([[2, 2], [3, 3], [4, 2]], dtype=float)]
    g = wkb.decode(wkb.encode_multilinestring(parts))
    assert g.kind == wkb.MULTILINESTRING
    np.testing.assert_allclose(g.rings[1], parts[1])


def test_pip_square_with_hole():
    g = wkb.decode(wkb.encode_polygon([square(0, 0, 10, 10), square(4, 4, 6, 6)[::-1].copy()]))
    px = np.array([5.0, 1.0, 11.0, 4.5, -1.0])
    py = np.array([5.0, 1.0, 5.0, 7.0, 5.0])
    got = kernels.points_in_geom(px, py, g)
    # center is inside the hole -> excluded; (1,1) inside; (11,5) out; (4.5,7) in; (-1,5) out
    assert got.tolist() == [False, True, False, True, False]


def test_pip_concave():
    # L-shape
    ring = np.array(
        [[0, 0], [4, 0], [4, 2], [2, 2], [2, 4], [0, 4], [0, 0]], dtype=np.float64
    )
    g = wkb.Geom(wkb.POLYGON, [ring])
    px = np.array([3.0, 3.0, 1.0])
    py = np.array([1.0, 3.0, 3.0])
    assert kernels.points_in_geom(px, py, g).tolist() == [True, False, True]


@settings(max_examples=200, deadline=None)
@given(
    st.floats(min_value=-10, max_value=10),
    st.floats(min_value=-10, max_value=10),
)
def test_pip_matches_winding_free_rect(x, y):
    g = wkb.Geom(wkb.POLYGON, [square(-3, -2, 5, 4)])
    got = kernels.points_in_rings(np.array([x]), np.array([y]), g.rings)[0]
    expected = (-3 < x < 5) and (-2 < y < 4)
    if abs(x + 3) > 1e-9 and abs(x - 5) > 1e-9 and abs(y + 2) > 1e-9 and abs(y - 4) > 1e-9:
        assert got == expected


def test_centroid_square():
    g = wkb.decode(wkb.encode_polygon([square(0, 0, 2, 4)]))
    cx, cy = kernels.centroid(g)
    assert (cx, cy) == pytest.approx((1.0, 2.0))


def test_centroid_with_hole_shifts():
    g = wkb.decode(
        wkb.encode_polygon([square(0, 0, 10, 10), square(6, 6, 9, 9)[::-1].copy()])
    )
    cx, cy = kernels.centroid(g)
    assert cx < 5.0 and cy < 5.0


def test_haversine_known():
    # 1 degree of latitude ~ 111.19 km
    d = kernels.haversine_m(0.0, 0.0, 0.0, 1.0)
    assert d == pytest.approx(111_195, rel=1e-3)


def test_cell_roundtrip_and_parent():
    lon = np.array([-77.03, 0.0, 179.99, -179.99])
    lat = np.array([38.9, 0.0, 84.0, -84.0])
    c = cells.cells_of_points(lon, lat, 12)
    res, x, y = cells.unpack(c)
    assert (res == 12).all()
    lon_min, lat_min, lon_max, lat_max = cells.cell_bounds(c)
    assert ((lon >= lon_min) & (lon <= lon_max)).all()
    assert ((lat >= lat_min - 1e-9) & (lat <= lat_max + 1e-9)).all()
    p = cells.parent(c, 8)
    pres, px, py = cells.unpack(p)
    assert (pres == 8).all()
    assert (px == (x >> 4)).all()


def test_covering_square_interior_and_boundary():
    # square covering several cells at res 12 near DC
    g = wkb.decode(wkb.encode_polygon([square(-77.10, 38.80, -76.95, 38.95)]))
    cids, kinds = kernels.covering_cells(g, 12)
    assert len(cids) > 4
    assert (kinds == kernels.KIND_BOUNDARY).any()
    assert (kinds == kernels.KIND_INTERIOR).any()
    # every interior cell's center must be inside; boundary cells' bounds touch bbox
    lon_min, lat_min, lon_max, lat_max = cells.cell_bounds(cids)
    interior = kinds == kernels.KIND_INTERIOR
    cx = (lon_min + lon_max) / 2
    cy = (lat_min + lat_max) / 2
    assert kernels.points_in_geom(cx[interior], cy[interior], g).all()


def test_covering_matches_brute_force_membership():
    g = wkb.decode(wkb.encode_polygon([square(-77.08, 38.82, -76.98, 38.93)]))
    cids, kinds = kernels.covering_cells(g, 11)
    cover = dict(zip(cids.tolist(), kinds.tolist()))
    rng = np.random.default_rng(7)
    lon = rng.uniform(-77.2, -76.9, 2000)
    lat = rng.uniform(38.7, 39.0, 2000)
    inside = kernels.points_in_geom(lon, lat, g)
    pc = cells.cells_of_points(lon, lat, 11)
    for i in range(2000):
        k = cover.get(int(pc[i]))
        if inside[i]:
            assert k is not None  # inside point must fall in a covered cell
            if k == kernels.KIND_INTERIOR:
                pass  # decided without exact test — correct by construction
        elif k is not None:
            assert k == kernels.KIND_BOUNDARY  # outside points only in boundary cells


def test_covering_linestring():
    line = wkb.decode(
        wkb.encode_linestring(np.array([[-77.10, 38.80], [-76.95, 38.95]], dtype=float))
    )
    cids, kinds = kernels.covering_cells(line, 12)
    assert len(cids) > 3
    assert (kinds == kernels.KIND_BOUNDARY).all()


def test_segment_pair_intersections_cross():
    a0 = np.array([[0.0, 0.0]])
    a1 = np.array([[2.0, 2.0]])
    b0 = np.array([[0.0, 2.0]])
    b1 = np.array([[2.0, 0.0]])
    pts, idx = kernels.segment_pair_intersections(a0, a1, b0, b1)
    assert pts.shape == (1, 2)
    np.testing.assert_allclose(pts[0], [1.0, 1.0])


def test_segment_pair_parallel_skipped():
    a0 = np.array([[0.0, 0.0]])
    a1 = np.array([[2.0, 0.0]])
    b0 = np.array([[1.0, 0.0]])
    b1 = np.array([[3.0, 0.0]])
    pts, _ = kernels.segment_pair_intersections(a0, a1, b0, b1)
    assert pts.shape[0] == 0


def test_segment_pairs_flat_matches_matrix_kernel():
    # the flat elementwise kernel (blade cut batching) must agree with the
    # (m, n) matrix kernel on every combination of a random segment soup —
    # same hits, same points, same eps semantics
    rng = np.random.default_rng(7)
    a = rng.uniform(-1, 1, size=(9, 2, 2))
    b = rng.uniform(-1, 1, size=(7, 2, 2))
    pts_m, ij = kernels.segment_pair_intersections(
        a[:, 0], a[:, 1], b[:, 0], b[:, 1]
    )
    # enumerate all 9x7 combos for the flat kernel, row-major like the cut
    ii, jj = np.meshgrid(np.arange(9), np.arange(7), indexing="ij")
    ii, jj = ii.ravel(), jj.ravel()
    pts_f, hit = kernels.segment_pairs_flat(
        a[ii, 0], a[ii, 1], b[jj, 0], b[jj, 1]
    )
    got = {(int(ii[h]), int(jj[h])) for h in hit}
    exp = {(int(i), int(j)) for i, j in ij}
    assert got == exp
    order_m = np.lexsort((pts_m[:, 1], pts_m[:, 0]))
    order_f = np.lexsort((pts_f[:, 1], pts_f[:, 0]))
    np.testing.assert_allclose(pts_f[order_f], pts_m[order_m], atol=0)


def test_polygon_within_concave_and_holes():
    import numpy as np
    from pgosm_flex_spark.geometry import kernels, wkb

    def rect(x0, y0, x1, y1):
        return wkb.decode(wkb.encode_polygon(
            [np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])]
        ))

    # L-shape: unit square minus NE quadrant
    L = wkb.decode(wkb.encode_polygon([np.array(
        [[0, 0], [1, 0], [1, 0.5], [0.5, 0.5], [0.5, 1], [0, 1], [0, 0]], dtype=float
    )]))
    assert kernels.polygon_within(rect(0.1, 0.1, 0.3, 0.3), L)       # SW arm
    assert kernels.polygon_within(rect(0.1, 0.6, 0.3, 0.9), L)       # NW arm
    assert not kernels.polygon_within(rect(0.6, 0.6, 0.9, 0.9), L)   # removed NE
    # straddler: centroid inside, NE corner pokes into the notch
    assert not kernels.polygon_within(rect(0.35, 0.35, 0.6, 0.6), L)
    # all vertices inside but an edge crossing the notch boundary:
    # thin horizontal bar through the notch at y=0.45..0.48 stays inside;
    # one at y ∈ [0.45, 0.55] crosses
    assert kernels.polygon_within(rect(0.1, 0.42, 0.9, 0.48), L)
    assert not kernels.polygon_within(rect(0.1, 0.45, 0.9, 0.55), L)
    # hole: child inside the hole is NOT within
    donut = wkb.decode(wkb.encode_polygon([
        np.array([[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]], dtype=float),
        np.array([[0.4, 0.4], [0.6, 0.4], [0.6, 0.6], [0.4, 0.6], [0.4, 0.4]], dtype=float),
    ]))
    assert not kernels.polygon_within(rect(0.45, 0.45, 0.55, 0.55), donut)
    assert kernels.polygon_within(rect(0.1, 0.1, 0.3, 0.3), donut)
    # children enclosing the whole hole: every vertex inside, no crossing,
    # yet the hole is not part of the container
    assert not kernels.polygon_within(rect(0.3, 0.3, 0.7, 0.7), donut)
    assert not kernels.polygon_within(rect(0.3, 0.3, 0.95, 0.7), donut)
    # an island part inside the hole belongs to the container: a child on it
    # is within, one enclosing the hole (and so the water around the
    # island) is not
    def square(a, b):
        return np.array([[a, a], [b, a], [b, b], [a, b], [a, a]], dtype=float)

    lake = wkb.decode(wkb.encode_multipolygon(
        [[square(0, 10), square(2, 8)[::-1]], [square(3, 7)]]
    ))
    assert kernels.polygon_within(rect(4, 4, 6, 6), lake)
    assert not kernels.polygon_within(rect(1, 1, 9, 9), lake)
    assert kernels.polygon_within(rect(0.5, 0.5, 1.5, 1.5), lake)


def test_polygon_within_boundary_chord_through_notch():
    import numpy as np
    from pgosm_flex_spark.geometry import kernels, wkb

    def tri(a, b, c):
        return wkb.decode(wkb.encode_polygon(
            [np.array([a, b, c, a], dtype=float)]
        ))

    # L-shape: unit square minus NE quadrant [0.5,1]x[0.5,1]
    L = wkb.decode(wkb.encode_polygon([np.array(
        [[0, 0], [1, 0], [1, 0.5], [0.5, 0.5], [0.5, 1], [0, 1], [0, 0]], dtype=float
    )]))
    # every vertex ON the boundary, but the (0.5,1)->(1,0.5) chord runs
    # through the removed notch: no proper crossing (only endpoint touches),
    # so only the edge-midpoint test can reject it
    assert not kernels.polygon_within(tri([0.5, 1], [1, 0.5], [0.5, 0.5]), L)
    # positive control: an edge lying ALONG the boundary (midpoint on it)
    # plus interior edges is still within
    assert kernels.polygon_within(tri([0.5, 0.5], [0.5, 1], [0, 0.5]), L)
