"""Boolean-op tests with area assertions (topology-insensitive, the same
comparison style the reference's dissolve tests use —
geofileops tests/single_layer_operations/test_geoops_dissolve.py:411-425).
"""

import hashlib

import numpy as np
import pytest

from geofileops_spark.geometry import clip as C
from geofileops_spark.geometry import kernels as K
from geofileops_spark.geometry import wkb


def g(wkt):
    return wkb.from_wkt(wkt)


A = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"


def test_intersection_overlap():
    b = g("POLYGON ((5 5, 15 5, 15 15, 5 15, 5 5))")
    r = C.intersection(g(A), b)
    assert K.area(r) == pytest.approx(25.0, rel=1e-6)


def test_intersection_contained():
    b = g("POLYGON ((2 2, 4 2, 4 4, 2 4, 2 2))")
    r = C.intersection(g(A), b)
    assert K.area(r) == pytest.approx(4.0, rel=1e-6)


def test_intersection_disjoint():
    b = g("POLYGON ((20 20, 30 20, 30 30, 20 30, 20 20))")
    r = C.intersection(g(A), b)
    assert r.is_empty()


def test_difference_notch():
    b = g("POLYGON ((5 5, 15 5, 15 15, 5 15, 5 5))")
    r = C.difference(g(A), b)
    assert K.area(r) == pytest.approx(75.0, rel=1e-6)


def test_difference_hole():
    b = g("POLYGON ((2 2, 4 2, 4 4, 2 4, 2 2))")
    r = C.difference(g(A), b)
    assert K.area(r) == pytest.approx(96.0, rel=1e-6)
    # and re-intersecting the hole region gives nothing
    r2 = C.intersection(r, g("POLYGON ((2.5 2.5, 3.5 2.5, 3.5 3.5, 2.5 3.5, 2.5 2.5))"))
    assert K.area(r2) == pytest.approx(0.0, abs=1e-9)


def test_difference_split_into_two():
    blade = g("POLYGON ((4 -1, 6 -1, 6 11, 4 11, 4 -1))")
    r = C.difference(g(A), blade)
    assert K.area(r) == pytest.approx(80.0, rel=1e-6)
    assert len(r.polygons()) == 2


def test_union_overlap():
    b = g("POLYGON ((5 5, 15 5, 15 15, 5 15, 5 5))")
    r = C.union_geoms([g(A), b])
    assert K.area(r) == pytest.approx(175.0, rel=1e-6)
    assert len(r.polygons()) == 1


def test_union_disjoint():
    b = g("POLYGON ((20 20, 30 20, 30 30, 20 30, 20 20))")
    r = C.union_geoms([g(A), b])
    assert K.area(r) == pytest.approx(200.0, rel=1e-6)
    assert len(r.polygons()) == 2


def test_union_shared_edge_degenerate():
    # adjacent squares sharing an edge: vertex/collinear degeneracy path
    b = g("POLYGON ((10 0, 20 0, 20 10, 10 10, 10 0))")
    r = C.union_geoms([g(A), b])
    assert K.area(r) == pytest.approx(200.0, rel=1e-4)


def test_union_many_circles_chain():
    # chain of overlapping squares -> single component, correct area
    polys = [g(f"POLYGON (({i*5} 0, {i*5+10} 0, {i*5+10} 10, {i*5} 10, {i*5} 0))") for i in range(5)]
    r = C.union_geoms(polys)
    assert K.area(r) == pytest.approx(10 * (5 * 5 + 5), rel=1e-4)  # 30x10
    assert len(r.polygons()) == 1


def test_intersection_degenerate_shared_vertex():
    b = g("POLYGON ((10 10, 20 10, 20 20, 10 20, 10 10))")  # touches at corner
    r = C.intersection(g(A), b)
    assert K.area(r) == pytest.approx(0.0, abs=1e-4)


def test_line_clip():
    line = g("LINESTRING (-5 5, 15 5)")
    inside = C.intersection(line, g(A))
    assert K.length(inside) == pytest.approx(10.0, rel=1e-9)
    outside = C.difference(line, g(A))
    assert K.length(outside) == pytest.approx(10.0, rel=1e-9)


def test_point_clip():
    pts = g("MULTIPOINT (5 5, 20 20)")
    inside = C.intersection(pts, g(A))
    assert len(inside.points()) == 1
    outside = C.difference(pts, g(A))
    assert len(outside.points()) == 1


def test_intersection_with_holed_subject():
    holed = g(
        "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))"
    )
    b = g("POLYGON ((3 3, 7 3, 7 7, 3 7, 3 3))")
    r = C.intersection(holed, b)
    assert K.area(r) == pytest.approx(16.0 - 4.0, rel=1e-6)


def test_difference_from_holed_subject():
    holed = g(
        "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))"
    )
    b = g("POLYGON ((-1 -1, 5 -1, 5 5, -1 5, -1 -1))")
    r = C.difference(holed, b)
    # full 96 minus overlap: b covers x<5,y<5 → area 25 within outer, minus
    # hole part in that quadrant (1x1) → removes 24 → 72
    assert K.area(r) == pytest.approx(96.0 - 24.0, rel=1e-4)


def test_union_forms_hole():
    # C-shape + closing bar -> union with a hole in the middle
    c_shape = g("POLYGON ((0 0, 10 0, 10 3, 3 3, 3 7, 10 7, 10 10, 0 10, 0 0))")
    bar = g("POLYGON ((8 2, 11 2, 11 8, 8 8, 8 2))")
    r = C.union_geoms([c_shape, bar])
    # hole should exist: point (5.5, 5) is enclosed but not covered
    from geofileops_spark.geometry.kernels import points_in_multipolygon

    assert points_in_multipolygon(np.array([[5.5, 5.0]]), r)[0] == 0
    assert points_in_multipolygon(np.array([[1.0, 5.0]]), r)[0] == 2


# ---------------------------------------------------------- edge welding
def test_weld_triangles_sharing_diagonal():
    # two halves of the unit-12 square: union must be ONE part, area 144
    t1 = g("POLYGON ((0 0, 12 0, 12 12, 0 0))")
    t2 = g("POLYGON ((0 0, 12 12, 0 12, 0 0))")
    u = C.union_geoms([t1, t2])
    assert K.area(u) == pytest.approx(144.0, rel=1e-9)
    assert len(u.parts()) == 1


def test_weld_partial_shared_edge():
    # square + triangle attached to the middle third of its right edge
    sq = g(A)
    tri = g("POLYGON ((10 3, 16 5, 10 7, 10 3))")
    u = C.union_geoms([sq, tri])
    assert K.area(u) == pytest.approx(100.0 + 12.0, rel=1e-9)
    assert len(u.parts()) == 1


def test_corner_touching_squares_stay_two_parts():
    s2 = g("POLYGON ((10 10, 20 10, 20 20, 10 20, 10 10))")
    u = C.union_geoms([g(A), s2])
    assert K.area(u) == pytest.approx(200.0, rel=1e-9)
    assert len(u.parts()) == 2


def test_weld_ring_of_triangles_forms_hole():
    # four trapezoid "frame" pieces welding into a square ring with hole
    pieces = [
        g("POLYGON ((0 0, 12 0, 9 3, 3 3, 0 0))"),
        g("POLYGON ((12 0, 12 12, 9 9, 9 3, 12 0))"),
        g("POLYGON ((12 12, 0 12, 3 9, 9 9, 12 12))"),
        g("POLYGON ((0 12, 0 0, 3 3, 3 9, 0 12))"),
    ]
    u = C.union_geoms(pieces)
    assert K.area(u) == pytest.approx(144.0 - 36.0, rel=1e-9)
    assert len(u.parts()) == 1


def test_weld_all_grid_tiling():
    # 4x4 grid of unit boxes tiles a 4x4 square: global weld must give ONE
    # polygon with exact area and no interior seams
    polys = []
    for i in range(4):
        for j in range(4):
            ring = np.array(
                [[i, j], [i + 1, j], [i + 1, j + 1], [i, j + 1], [i, j]],
                dtype=np.float64,
            )
            polys.append([ring])
    out = C.weld_all(polys)
    assert out is not None and len(out) == 1
    assert abs(C.ring_signed_area(out[0][0])) == pytest.approx(16.0, abs=1e-12)
    assert len(out[0]) == 1  # no holes


def test_weld_all_tiling_with_hole():
    # ring of 8 boxes around a missing centre: weld -> one polygon with one hole
    polys = []
    for i in range(3):
        for j in range(3):
            if i == 1 and j == 1:
                continue
            ring = np.array(
                [[i, j], [i + 1, j], [i + 1, j + 1], [i, j + 1], [i, j]],
                dtype=np.float64,
            )
            polys.append([ring])
    out = C.weld_all(polys)
    assert out is not None and len(out) == 1
    assert len(out[0]) == 2  # exterior + hole
    area = abs(C.ring_signed_area(out[0][0])) - abs(C.ring_signed_area(out[0][1]))
    assert area == pytest.approx(8.0, abs=1e-12)


def test_weld_all_rejects_overlap():
    # two half-overlapping boxes sharing no edges: not a tiling
    a = [np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], dtype=np.float64)]
    b = [np.array([[5, 0], [15, 0], [15, 10], [5, 10], [5, 0]], dtype=np.float64)]
    assert C.weld_all([a, b]) is None


def test_weld_all_partial_collinear_seam():
    # Two rects sharing only a PARTIAL axis-parallel seam ([1,2]x{1}) with
    # different vertex subdivisions: no exact duplicate edge exists, so the
    # duplicate-edge residual scan alone misses the seam and the first weld
    # pass under-merges (the round-4 "phantom tile seam" failure mode). The
    # partial-overlap residual check must flag it so the noding retry
    # produces the TRUE union: one polygon, exact area 4.
    a = [np.array([[0, 0], [2, 0], [2, 1], [0, 1], [0, 0]], dtype=np.float64)]
    b = [np.array([[1, 1], [3, 1], [3, 2], [1, 2], [1, 1]], dtype=np.float64)]
    out = C.weld_all([a, b])
    if out is None:
        return  # refusing (caller falls back to exact union) is also sound
    total = sum(
        abs(C.ring_signed_area(p[0]))
        - sum(abs(C.ring_signed_area(h)) for h in p[1:])
        for p in out
    )
    assert total == pytest.approx(4.0, abs=1e-9)
    assert len(out) == 1  # welded means MERGED, not two touching parts


def test_mp_difference_tiled_matches_sequential():
    # big box minus 30 disjoint small boxes: tiled path (>=16 blades) must
    # equal the sequential result's area exactly
    subject = [
        np.array([[0, 0], [60, 0], [60, 60], [0, 60], [0, 0]], dtype=np.float64)
    ]
    blades = []
    for k in range(30):
        x = (k % 6) * 10 + 2.0
        y = (k // 6) * 10 + 2.0
        blades.append(
            [
                np.array(
                    [[x, y], [x + 3, y], [x + 3, y + 3], [x, y + 3], [x, y]],
                    dtype=np.float64,
                )
            ]
        )
    out = C.mp_difference([subject], blades)

    def _area(mp):
        return sum(abs(C.ring_signed_area(p[0])) for p in mp) - sum(
            abs(C.ring_signed_area(h)) for p in mp for h in p[1:]
        )

    # sequential ground truth (below the tiled threshold per call)
    seq = [subject]
    cur = [subject]
    for b in blades:
        nxt = []
        for pa in cur:
            nxt.extend(C.poly_difference(pa, b))
        cur = nxt
    assert _area(out) == pytest.approx(60 * 60 - 30 * 9, rel=1e-9)
    assert _area(cur) == pytest.approx(_area(out), rel=1e-9)


def test_identical_ring_ops_exact():
    """Identical rings short-circuit exactly — never the perturb ladder
    (duplicated features drift ~1e-7/vertex there; hypothesis found
    union of two (0,0,1,133) boxes off by 0.013)."""
    import numpy as np

    from geofileops_spark.geometry import clip as C
    from geofileops_spark.geometry import geom as G
    from geofileops_spark.geometry.kernels import area

    r = np.array(
        [[0, 0], [1, 0], [1, 133], [0, 133], [0, 0]], dtype=np.float64
    )
    g = G.Geometry(G.POLYGON, [r])
    assert area(C.union_geoms([g, g])) == 133.0
    assert area(C.intersection(g, g)) == 133.0
    assert C.difference(g, g).is_empty()
    # non-rect identical rings take the same exit
    p = np.array(
        [[0, 0], [4, 0], [5, 3], [2, 6], [0, 3], [0, 0]], dtype=np.float64
    )
    gp = G.Geometry(G.POLYGON, [p])
    assert area(C.intersection(gp, gp)) == area(gp)
    assert C.difference(gp, gp).is_empty()


# ------------------------------------------------ scalar clipper golden bytes


def _star_ring(rng, cx, cy, k, r):
    """Closed star-shaped ring: vertex j at angle 2*pi*j/k, radius in
    [0.55, 0.95] * r around (cx, cy) (the perfbench parcel shape)."""
    th = 2 * np.pi * np.arange(k) / k
    rad = r * (0.55 + 0.4 * rng.random(k))
    ring = np.column_stack([cx + rad * np.cos(th), cy + rad * np.sin(th)])
    return np.vstack([ring, ring[:1]])


def _scalar_golden_cases():
    """Seeded fixture for the scalar clipper: star pairs at random
    offsets (2, 4 and 6+ boundary crossings), star x star pairs with
    spikes (many crossings), holed and multi inputs, a vertex-touch pair
    and a shared-edge pair (both go down the perturb ladder), and two
    dissolve groups: a jittered 12 x 12 grid of star parcels each (the
    shape of a perfbench parcel dissolve group)."""
    from geofileops_spark.geometry import geom as G

    rng = np.random.default_rng(20261018)

    def P(*rings):
        return G.Geometry(G.POLYGON, list(rings))

    pairs = []
    for _ in range(150):
        a = P(_star_ring(rng, 0, 0, int(rng.integers(8, 29)), 30.0))
        ang, d = rng.uniform(0, 2 * np.pi), rng.uniform(0, 50)
        b = P(_star_ring(rng, d * np.cos(ang), d * np.sin(ang), int(rng.integers(8, 29)), 30.0))
        pairs.append((a, b))
    for _ in range(30):
        # spiky stars crossing each other many times
        k = int(rng.integers(10, 24))
        th = 2 * np.pi * np.arange(2 * k) / (2 * k)
        rad = np.where(np.arange(2 * k) % 2 == 0, 20.0, 6.0) * (0.9 + 0.2 * rng.random(2 * k))
        ring = np.column_stack([rad * np.cos(th), rad * np.sin(th)])
        a = P(np.vstack([ring, ring[:1]]))
        rot = rng.uniform(0, np.pi / k)
        c, s = np.cos(rot), np.sin(rot)
        rb = ring @ np.array([[c, s], [-s, c]]) + rng.uniform(-3, 3, 2)
        pairs.append((a, P(np.vstack([rb, rb[:1]]))))
    outer = np.array([[0, 0], [60, 0], [60, 60], [0, 60], [0, 0]], float)
    hole = np.array([[20, 20], [40, 20], [40, 40], [20, 40], [20, 20]], float)
    donut = P(outer, hole)
    for i in range(10):
        blade = P(_star_ring(rng, 20 + 2 * i, 5 + i, 14, 30.0))
        multi = G.Geometry(
            G.MULTIPOLYGON,
            [[_star_ring(rng, 0, 0, 24, 30.0)], [_star_ring(rng, 45, 10, 16, 30.0)]],
        )
        pairs += [(donut, blade), (blade, donut), (multi, blade), (blade, multi)]
    sq = P(np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], float))
    # B's vertex (5, 0) lies on A's bottom edge and B crosses A's right edge
    pairs.append((sq, P(np.array([[5, 0], [15, -5], [15, 5], [5, 0]], float))))
    # a shared edge plus a proper crossing
    pairs.append((sq, P(np.array([[10, 0], [14, 0], [14, 10], [8, 10], [10, 0]], float))))

    groups = []
    for _ in range(2):
        side, spacing = 12, 100.0
        half = spacing / 2
        geoms = []
        for gx in range(side):
            for gy in range(side):
                cx = gx * spacing + half + (rng.random() - 0.5) * 0.3 * spacing
                cy = gy * spacing + half + (rng.random() - 0.5) * 0.3 * spacing
                geoms.append(P(_star_ring(rng, cx, cy, int(rng.integers(10, 41)), half)))
        groups.append(geoms)
    return pairs, groups


def test_scalar_clipper_golden_bytes():
    """clip.intersection, clip.difference and clip.union_geoms are
    pinned byte for byte: any change in the scalar clipper's crossing
    test, walk, perturb ladder or ring assembly that moves a single bit
    of a result changes these digests."""
    pairs, groups = _scalar_golden_cases()
    digests = {}
    for name, results in (
        ("intersection", [C.intersection(a, b) for a, b in pairs]),
        ("difference", [C.difference(a, b) for a, b in pairs]),
        ("union", [C.union_geoms(gs) for gs in groups]),
    ):
        h = hashlib.sha256()
        for r in results:
            b = wkb.dumps(r)
            h.update(len(b).to_bytes(8, "little") + b)
        digests[name] = h.hexdigest()
    assert digests == SCALAR_GOLDEN_SHA256


SCALAR_GOLDEN_SHA256 = {
    "intersection": "3cefa62ee63a66af8b8feb2ee627059bcdaa5534b5ec6ce8d3f75ceddae7989d",
    "difference": "aaca4e3a5c80d8fbffc04b143344aeda1cc8bbf9847e42a264e30ec5820418e6",
    "union": "4279b860728fe50a84769ac95c37fe2b14ad598d0a5d1ad2ccb2d6e0326862db",
}
