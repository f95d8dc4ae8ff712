"""Polygon boolean operations (intersection / difference / union) from
scratch — Greiner–Hormann clipping on simple rings, composed to support
holes and multipolygons, plus line-vs-polygon clipping.

These are the engine's equivalents of the reference's GEOS calls
``ST_Intersection / ST_Difference / ST_Union`` used by the overlay ops
(geofileops ``_geoops_sql.py:1805-2102`` intersection,
``:1058-1355`` difference, ``:942-1055`` clip) and the dissolve union
(``_geoops_gpd.py:2190-2370`` shapely.union_all).

One ring pair is clipped in three phases (:func:`_gh_clip`): every
(subject edge, clip edge) pair goes through one broadcast crossing test
(:func:`_segment_crossings`, the same function the batched kernel in
:mod:`batchclip` runs on many pairs at once); each ring's entry flags
follow by parity from whether its first vertex lies inside the other
ring; and the walk (:func:`_traverse_pair`) hops crossing to crossing
over the sorted crossing lists, copying the vertex slices between them.

Degenerate configurations (intersection exactly at a vertex, collinear
edge overlap) are handled by deterministically perturbing the subject
ring by ~1e-9 of the bbox extent and retrying — results are compared with
area tolerances downstream, the same topology-insensitive comparison the
reference's own dissolve tests use (``test_geoops_dissolve.py:411-425``).
"""

from __future__ import annotations

import numpy as np

from .geom import (
    GEOMETRYCOLLECTION,
    LINESTRING,
    MULTILINESTRING,
    MULTIPOINT,
    MULTIPOLYGON,
    POINT,
    POLYGON,
    Geometry,
)
from .kernels import (
    EPS,
    bbox_intersects,
    points_in_multipolygon,
    points_in_ring,
    ring_signed_area,
)

_ALPHA_TOL = 1e-12
_MIN_AREA = 1e-12


class _Degenerate(Exception):
    pass


def _pts_close(p, q) -> bool:
    """Scalar twin of np.allclose(p, q) for 2-vectors (allclose is ~0.2ms
    per call from Python overhead; every ring prep calls this)."""
    bx = float(q[0])
    by = float(q[1])
    return (
        abs(float(p[0]) - bx) <= 1e-8 + 1e-5 * abs(bx)
        and abs(float(p[1]) - by) <= 1e-8 + 1e-5 * abs(by)
    )


def _open_ring(ring: np.ndarray) -> np.ndarray:
    """Drop the closing vertex and consecutive duplicates."""
    r = np.asarray(ring, dtype=np.float64)
    if len(r) > 1 and _pts_close(r[0], r[-1]):
        r = r[:-1]
    if len(r) > 1:
        keep = np.ones(len(r), dtype=bool)
        keep[1:] = (np.abs(np.diff(r, axis=0)).sum(axis=1)) > EPS
        r = r[keep]
    return r


def _point_in_ring_strict(pt, ring) -> bool:
    """Single-point twin of kernels.points_in_ring (flat (m,) arrays, no
    (1, m) broadcast temporaries — called twice per clip, it was ~30% of
    the kernel)."""
    x, y = float(pt[0]), float(pt[1])
    x1 = ring[:-1, 0]
    y1 = ring[:-1, 1]
    x2 = ring[1:, 0]
    y2 = ring[1:, 1]
    dx = x2 - x1
    dy = y2 - y1
    ex = x - x1
    ey = y - y1
    cross = ex * dy - ey * dx
    seg_len2 = dx * dx + dy * dy
    on_line = cross * cross <= (EPS * 1e6) ** 2 * np.maximum(seg_len2, EPS)
    if on_line.any():
        dot = ex * dx + ey * dy
        if (on_line & (dot >= -EPS) & (dot <= seg_len2 + EPS)).any():
            raise _Degenerate("point on boundary")
    cond = (y1 > y) != (y2 > y)
    if not cond.any():
        return False
    dyc = dy[cond]
    with np.errstate(divide="ignore", invalid="ignore"):
        xints = x1[cond] + (y - y1[cond]) * dx[cond] / np.where(
            dyc == 0, np.inf, dyc
        )
    return bool(np.count_nonzero(x < xints) % 2 == 1)


def _segment_crossings(p, d1, s1, q, d2, s2, q_end):
    """The clippers' one segment-crossing test, elementwise over
    broadcast-compatible arrays: subject edges ``p + t * d1`` against clip
    edges ``q + u * d2`` (``q_end`` is the clip edge's end vertex, so
    ``q + d2`` up to rounding), with ``s1``/``s2`` each edge's L1 length
    clamped to ``EPS``. ``p``, ``d1``, ``q``, ``d2`` and ``q_end`` carry x/y
    on a trailing axis of 2. ``clip._gh_clip`` passes one (chunk, m) block
    of a ring pair, ``batchclip._ring_ops`` flat combos of many pairs.

    Returns ``(bad, hit, t, u)``. ``bad`` marks the degeneracies that
    send a pair down the perturb ladder: a collinear overlap longer than
    ``_ALPHA_TOL`` of the subject edge, or a touch within 1e-10 of either
    edge's end. ``hit`` marks proper interior crossings, at ``t``/``u``
    along the subject/clip edge (meaningful where ``hit``)."""
    d1x, d1y = d1[..., 0], d1[..., 1]
    d2x, d2y = d2[..., 0], d2[..., 1]
    denom = d1x * d2y - d1y * d2x
    ex = q[..., 0] - p[..., 0]
    ey = q[..., 1] - p[..., 1]
    scale = s1 * s2
    par = np.abs(denom) <= 1e-14 * scale
    cross = ex * d1y - ey * d1x
    col = par & (np.abs(cross) <= 1e-11 * scale)
    bad = np.zeros(col.shape, dtype=bool)
    if col.any():
        # parallel and on one line: degenerate when the clip edge's
        # projection overlaps the subject edge's interior
        def at(v):
            return np.broadcast_to(v, col.shape)[col]

        cx, cy = at(d1x), at(d1y)
        L2 = np.maximum(cx * cx + cy * cy, EPS * EPS)
        t0 = (at(ex) * cx + at(ey) * cy) / L2
        t1 = ((at(q_end[..., 0]) - at(p[..., 0])) * cx
              + (at(q_end[..., 1]) - at(p[..., 1])) * cy) / L2
        bad[col] = (np.maximum(t0, t1) > _ALPHA_TOL) & (np.minimum(t0, t1) < 1 - _ALPHA_TOL)
    safe = np.where(par, 1.0, denom)
    t = (ex * d2y - ey * d2x) / safe
    u = cross / safe
    tol = 1e-10
    near_t = (np.abs(t) < tol) | (np.abs(t - 1.0) < tol)
    near_u = (np.abs(u) < tol) | (np.abs(u - 1.0) < tol)
    in_range = (t >= -tol) & (t <= 1 + tol) & (u >= -tol) & (u <= 1 + tol)
    bad |= ~par & (near_t | near_u) & in_range
    hit = ~par & (t > 0) & (t < 1) & (u > 0) & (u < 1) & ~near_t & ~near_u
    return bad, hit, t, u


def _gh_clip(subj: np.ndarray, clip: np.ndarray, s_entry: bool, c_entry: bool):
    """Core Greiner–Hormann. subj/clip are OPEN rings (CCW or CW ok).

    (s_entry, c_entry): (True, True)=intersection, (False, False)=union,
    (False, True)=difference subj−clip.
    Returns list of closed rings, or None when there were no boundary
    intersections (caller applies containment fallback). Raises
    :class:`_Degenerate` on any degeneracy (the caller perturbs and
    retries).
    """
    # --- phase 1: every (subject edge, clip edge) pair in one
    # broadcast test. The subject-edge axis is CHUNKED so the (chunk, m)
    # scratch arrays stay bounded (~1M elements, like
    # any_segment_intersection in kernels.py) — two 10k-vertex rings
    # would otherwise allocate multiple GB inside the Arrow UDF.
    sa = np.asarray(subj, dtype=np.float64)
    ca = np.asarray(clip, dtype=np.float64)
    # manual wrap-slicing: np.roll's generic machinery was ~7% of the
    # overlay kernel time at these small ring sizes
    d1 = np.empty_like(sa)
    d1[:-1] = sa[1:] - sa[:-1]
    d1[-1] = sa[0] - sa[-1]
    ca_next = np.empty_like(ca)
    ca_next[:-1] = ca[1:]
    ca_next[-1] = ca[0]
    d2 = ca_next - ca  # (m,2)
    m = len(ca)
    s1 = np.maximum(np.abs(d1).sum(axis=1), EPS)[:, None]
    s2 = np.maximum(np.abs(d2).sum(axis=1), EPS)[None, :]
    chunk = max(1, 1_000_000 // max(m, 1))
    found = []
    for s0 in range(0, len(sa), chunk):
        rows = slice(s0, s0 + chunk)
        bad, hit, t, u = _segment_crossings(
            sa[rows, None], d1[rows, None], s1[rows],
            ca[None], d2[None], s2, ca_next[None],
        )
        if bad.any():
            raise _Degenerate("collinear overlap or vertex touch")
        if hit.any():
            hi_i, hi_j = np.nonzero(hit)
            found.append((hi_i + s0, hi_j, t[hi_i, hi_j], u[hi_i, hi_j]))
    if not found:
        return None
    si, ci, t, u = (np.concatenate(f) for f in zip(*found))
    if len(si) % 2 == 1:
        raise _Degenerate("odd intersection count")
    xs = sa[si, 0] + t * d1[si, 0]
    ys = sa[si, 1] + t * d1[si, 1]

    # --- phases 2-3: entry flags from each ring's first vertex, walk
    a0_in_b = _point_in_ring_strict(sa[0], np.vstack([ca, ca[:1]]))
    b0_in_a = _point_in_ring_strict(ca[0], np.vstack([sa, sa[:1]]))
    rings = _traverse_pair(sa, ca, si, ci, t, u, xs, ys, a0_in_b, b0_in_a, s_entry, c_entry)
    return [r for r in rings if abs(ring_signed_area(r)) > _MIN_AREA]


def _traverse_pair(
    a, b, sil, cil, t, u, xs, ys, a0_in_b, b0_in_a,
    s_entry=True, c_entry=True,
):
    """Phases 2+3 of Greiner–Hormann for one ring pair from its proper
    crossings: crossing i lies on subject edge ``sil[i]`` at ``t[i]`` and
    on clip edge ``cil[i]`` at ``u[i]``, at ``(xs[i], ys[i])``;
    ``a0_in_b``/``b0_in_a`` say whether each ring's first vertex lies
    inside the other ring. ``(s_entry, c_entry)`` are :func:`_gh_clip`'s
    op flags. Returns the closed rings; the caller drops those of area
    <= ``_MIN_AREA``. The crossing count k is even, so the subject and
    clip steps pair up crossings and every walk closes at its start
    without revisiting a crossing (``batchclip._traverse_batch``, the
    batched twin, spells this out)."""
    k = len(sil)
    n = len(a)
    m = len(b)
    # crossing counts are tiny (k=2..8 for real parcel pairs): plain
    # Python sorts/lists beat np.lexsort + fancy-index setup ~3x here.
    # Ties (one edge crossed twice at the same parameter) keep the
    # crossing order, as sorted() is stable.
    sil = sil.tolist()
    cil = cil.tolist()
    tl = t.tolist()
    ul = u.tolist()
    rng = range(k)
    order_s = sorted(rng, key=lambda i: (sil[i], tl[i]))
    order_c = sorted(rng, key=lambda i: (cil[i], ul[i]))
    pos_s = [0] * k
    pos_c = [0] * k
    for p, i in enumerate(order_s):
        pos_s[i] = p
    for p, i in enumerate(order_c):
        pos_c[i] = p

    # entry flags: along a ring they alternate, starting from
    # inside(first vertex) XOR the op flag, so the flag at sorted
    # position j is (inside ^ s_entry) ^ (j odd)
    entry_s = [(a0_in_b ^ s_entry) ^ (pos_s[i] % 2 == 1) for i in rng]
    entry_c = [(b0_in_a ^ c_entry) ^ (pos_c[i] % 2 == 1) for i in rng]

    sil_sorted = [sil[i] for i in order_s]
    cil_sorted = [cil[i] for i in order_c]

    processed = [False] * k
    results = []
    coords = np.stack([xs, ys], axis=1)

    # each ring starts from the first unprocessed crossing in SUBJECT
    # ring order (the starting vertex moves the shoelace rounding ~1e-9)
    for start_j in range(k):
        start_cid = order_s[start_j]
        if processed[start_cid]:
            continue
        piece: list[np.ndarray] = []
        cid = start_cid
        on_subject = True
        while True:
            processed[cid] = True
            piece.append(coords[cid : cid + 1])
            if on_subject:
                entry = entry_s[cid]
                jpos = pos_s[cid]
                if entry:
                    nj = (jpos + 1) % k
                    v0 = sil_sorted[jpos] + 1
                    v1 = sil_sorted[nj]  # inclusive
                    if nj > jpos:
                        if v1 >= v0:
                            piece.append(a[v0 : v1 + 1])
                    else:
                        piece.append(a[v0:n])
                        piece.append(a[0 : v1 + 1])
                else:
                    nj = (jpos - 1) % k
                    v1 = sil_sorted[jpos]  # inclusive, walking down
                    v0 = sil_sorted[nj] + 1
                    if nj < jpos:
                        if v1 >= v0:
                            piece.append(a[v0 : v1 + 1][::-1])
                    else:
                        piece.append(a[0 : v1 + 1][::-1])
                        piece.append(a[v0:n][::-1])
                ncid = order_s[nj]
            else:
                entry = entry_c[cid]
                jpos = pos_c[cid]
                if entry:
                    nj = (jpos + 1) % k
                    v0 = cil_sorted[jpos] + 1
                    v1 = cil_sorted[nj]
                    if nj > jpos:
                        if v1 >= v0:
                            piece.append(b[v0 : v1 + 1])
                    else:
                        piece.append(b[v0:m])
                        piece.append(b[0 : v1 + 1])
                else:
                    nj = (jpos - 1) % k
                    v1 = cil_sorted[jpos]
                    v0 = cil_sorted[nj] + 1
                    if nj < jpos:
                        if v1 >= v0:
                            piece.append(b[v0 : v1 + 1][::-1])
                    else:
                        piece.append(b[0 : v1 + 1][::-1])
                        piece.append(b[v0:m][::-1])
                ncid = order_c[nj]
            # arrive at the next crossing on this ring, then jump rings
            # (same crossing id, other ring)
            cid = ncid
            on_subject = not on_subject
            if cid == start_cid:
                break
        results.append(np.concatenate(piece + [coords[start_cid : start_cid + 1]]))
    return results


def _perturb(ring: np.ndarray, attempt: int, scale: float) -> np.ndarray:
    i = np.arange(len(ring), dtype=np.float64)
    mag = scale * (10.0**attempt)
    dx = mag * np.sin(i * 12.9898 + attempt * 1.2345)
    dy = mag * np.cos(i * 78.2330 + attempt * 2.3456)
    return ring + np.stack([dx, dy], axis=1)


def _ring_bbox(r):
    return (r[:, 0].min(), r[:, 1].min(), r[:, 0].max(), r[:, 1].max())


def _as_rect(open_ring: np.ndarray):
    """(x0, y0, x1, y1) when the open ring is an axis-aligned rectangle."""
    if len(open_ring) != 4:
        return None
    xs = np.unique(open_ring[:, 0])
    ys = np.unique(open_ring[:, 1])
    if len(xs) != 2 or len(ys) != 2:
        return None
    # all 4 corners present exactly once
    want = {(x, y) for x in xs for y in ys}
    got = {(p[0], p[1]) for p in open_ring}
    if got != want:
        return None
    return (xs[0], ys[0], xs[1], ys[1])


def _rect_ring(x0, y0, x1, y1) -> np.ndarray:
    return np.array(
        [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], dtype=np.float64
    )


def _rect_op(ra, rb, op: str) -> list[np.ndarray]:
    """Exact rectangle intersection / difference (closed result rings)."""
    ax0, ay0, ax1, ay1 = ra
    bx0, by0, bx1, by1 = rb
    ix0, iy0 = max(ax0, bx0), max(ay0, by0)
    ix1, iy1 = min(ax1, bx1), min(ay1, by1)
    if ix0 >= ix1 or iy0 >= iy1:  # no interior overlap
        return [] if op == "intersection" else [_rect_ring(*ra)]
    if op == "intersection":
        return [_rect_ring(ix0, iy0, ix1, iy1)]
    # difference a - b: up to 4 strips of a around the overlap
    out = []
    if ay0 < iy0:
        out.append(_rect_ring(ax0, ay0, ax1, iy0))
    if iy1 < ay1:
        out.append(_rect_ring(ax0, iy1, ax1, ay1))
    if ax0 < ix0:
        out.append(_rect_ring(ax0, iy0, ix0, iy1))
    if ix1 < ax1:
        out.append(_rect_ring(ix1, iy0, ax1, iy1))
    return out


def _ring_op(ringA: np.ndarray, ringB: np.ndarray, op: str) -> list[np.ndarray]:
    """Boolean op on two simple closed rings -> list of closed result rings
    (hole rings, when produced by union, come out with opposite winding and
    are sorted out by :func:`_reassemble`)."""
    a = _open_ring(ringA)
    b = _open_ring(ringB)
    if len(a) < 3:
        return [] if op != "union" else ([np.vstack([b, b[:1]])] if len(b) >= 3 else [])
    if len(b) < 3:
        if op == "intersection":
            return []
        return [np.vstack([a, a[:1]])]
    flags = {
        "intersection": (True, True),
        "union": (False, False),
        "difference": (False, True),
    }[op]
    # identical rings (duplicated features, self-pairs in unions): the
    # answer is exact and the GH clipper would only reach it through
    # the perturb ladder (every edge is a collinear-overlap degeneracy),
    # introducing ~1e-7-per-vertex area drift
    if len(a) == len(b) and np.array_equal(a, b):
        if op == "difference":
            return []
        return [np.vstack([a, a[:1]])]
    bb_a, bb_b = _ring_bbox(a), _ring_bbox(b)
    ext = max(bb_a[2] - bb_a[0], bb_a[3] - bb_a[1], bb_b[2] - bb_b[0], bb_b[3] - bb_b[1], 1e-9)
    if not bbox_intersects(bb_a, bb_b):
        return _no_intersection_fallback(a, b, op, (bb_a, bb_b))
    # exact fast path: both rings axis-aligned rectangles. The GH clipper
    # would hit its degeneracy retry on shared/collinear edges (ubiquitous
    # for bbox-shaped data) and perturb; rect algebra is exact instead.
    ra, rb = _as_rect(a), _as_rect(b)
    if ra is not None and rb is not None and op in ("intersection", "difference"):
        return _rect_op(ra, rb, op)
    # no-crossings fast path for asymmetric sizes (tiny parcel vs huge
    # subdivided blade part, the difference/clip hot shape): a boundary
    # crossing needs an edge of one ring inside the OTHER ring's bbox —
    # when none exists the pair is pure containment/disjoint, decided by
    # one representative-point test instead of the O(na*nb) clipper.
    if len(a) >= 64 or len(b) >= 64:
        if not _edges_touch_bbox(b, bb_a) or not _edges_touch_bbox(a, bb_b):
            return _no_intersection_fallback(a, b, op, (bb_a, bb_b))
    # bboxes overlapping only in a degenerate line/point: interiors cannot
    # intersect (open 2-D sets can't fit in a measure-zero strip), so skip
    # the clipper — its perturbation retry would manufacture slivers here.
    if (
        min(bb_a[2], bb_b[2]) - max(bb_a[0], bb_b[0]) <= 0.0
        or min(bb_a[3], bb_b[3]) - max(bb_a[1], bb_b[1]) <= 0.0
    ):
        if op == "intersection":
            return []
        if op == "difference":
            return [np.vstack([a, a[:1]])]
        return [np.vstack([a, a[:1]]), np.vstack([b, b[:1]])]

    for attempt in range(6):
        try:
            subj = a if attempt == 0 else _perturb(a, attempt - 1, 1e-9 * ext)
            res = _gh_clip(subj, b, *flags)
            if res is None:
                return _no_intersection_fallback(subj, b, op, None)
            return res
        except _Degenerate:
            continue
    # final fallback: perturb both
    try:
        subj = _perturb(a, 5, 1e-9 * ext)
        clipb = _perturb(b, 6, 1e-9 * ext)
        res = _gh_clip(subj, clipb, *flags)
        if res is None:
            return _no_intersection_fallback(subj, clipb, op, None)
        return res
    except _Degenerate:
        # give up: conservative answers
        return _no_intersection_fallback(a, b, op, force=True)


def _edges_touch_bbox(r: np.ndarray, bb) -> bool:
    """True when any edge of the open ring ``r`` (wrap-around closing edge
    included) has a bbox overlapping ``bb``."""
    x1, y1 = r[:-1, 0], r[:-1, 1]
    x2, y2 = r[1:, 0], r[1:, 1]
    if bool(
        (
            (np.maximum(x1, x2) >= bb[0])
            & (np.minimum(x1, x2) <= bb[2])
            & (np.maximum(y1, y2) >= bb[1])
            & (np.minimum(y1, y2) <= bb[3])
        ).any()
    ):
        return True
    # wrap-around closing edge, scalar (np.roll here was measurable)
    ax, ay = float(r[-1, 0]), float(r[-1, 1])
    bx, by = float(r[0, 0]), float(r[0, 1])
    return (
        max(ax, bx) >= bb[0]
        and min(ax, bx) <= bb[2]
        and max(ay, by) >= bb[1]
        and min(ay, by) <= bb[3]
    )


def _no_intersection_fallback(a, b, op, bbs=None, force=False):
    """Handle containment / disjoint cases (no boundary crossings).

    Containment is decided on a *representative interior point* so shared
    vertices / shared edges (which carry no interior overlap) don't count.
    ``bbs``: optional pre-computed ``(_ring_bbox(a), _ring_bbox(b))`` from
    the caller — :func:`_ring_op` always has them, and the recompute was
    measurable on the half of all overlay ring ops that end here."""
    from .predicates import interior_point

    closed_a = np.vstack([a, a[:1]])
    closed_b = np.vstack([b, b[:1]])
    tol = 1e-9
    ba, bb = bbs if bbs is not None else (_ring_bbox(a), _ring_bbox(b))
    bbox_a_in_b = (
        ba[0] >= bb[0] - tol and ba[1] >= bb[1] - tol
        and ba[2] <= bb[2] + tol and ba[3] <= bb[3] + tol
    )
    bbox_b_in_a = (
        bb[0] >= ba[0] - tol and bb[1] >= ba[1] - tol
        and bb[2] <= ba[2] + tol and bb[3] <= ba[3] + tol
    )
    # interior points are computed LAZILY: the hot asymmetric case (tiny
    # subject vs huge blade part) only ever needs the small ring's point,
    # and interior_point on a dense 2000-coord ring costs ~0.4 ms
    a_in_b = False
    if bbox_a_in_b:
        ip_a = interior_point([closed_a])
        a_in_b = (
            ip_a is not None
            and points_in_ring(ip_a.reshape(1, 2), closed_b)[0] == 2
        )
    b_in_a = False
    if bbox_b_in_a:
        ip_b = interior_point([closed_b])
        b_in_a = (
            ip_b is not None
            and points_in_ring(ip_b.reshape(1, 2), closed_a)[0] == 2
        )
    if op == "intersection":
        if a_in_b:
            return [closed_a]
        if b_in_a:
            return [closed_b]
        return []
    if op == "difference":
        if a_in_b:
            return []
        if b_in_a:
            # hole: emit B with opposite winding so reassembly treats it as hole
            hole = closed_b[::-1].copy()
            if ring_signed_area(hole) * ring_signed_area(closed_a) > 0:
                hole = hole[::-1].copy()
            return [closed_a, hole]
        return [closed_a]
    # union
    if a_in_b:
        return [closed_b]
    if b_in_a:
        return [closed_a]
    return [closed_a, closed_b]


# ------------------------------------------------------------- reassembly
def _reassemble(rings: list[np.ndarray]) -> list[list[np.ndarray]]:
    """Group closed rings into polygons: containment-depth-even rings are
    exteriors, odd are holes of their immediate parent."""
    # signed area computed ONCE per ring (was 3x: filter + sort + _ccw)
    kept: list[np.ndarray] = []
    areas: list[float] = []
    for r in rings:
        a = ring_signed_area(r)
        if abs(a) > _MIN_AREA:
            kept.append(r)
            areas.append(a)
    rings = kept
    if not rings:
        return []
    if len(rings) == 1:
        r = rings[0]
        return [[r if areas[0] > 0 else r[::-1].copy()]]
    order = sorted(range(len(rings)), key=lambda i: -abs(areas[i]))
    depth = [0] * len(rings)
    parent = [-1] * len(rings)
    for pos, i in enumerate(order):
        # deepest (smallest) containing ring wins; order is size-desc so
        # later hits are smaller rings
        pt = rings[i][0]
        for j in order[:pos]:
            code = points_in_ring(np.asarray([pt]), rings[j])[0]
            if code == 1:
                # probe vertex ON ring j's boundary (a hole touching its
                # exterior's edge — the degenerate-containment fallback
                # emits these when the blade shares the subject's edge):
                # undecidable from one vertex, and misreading it flips
                # the hole into a standalone exterior whose area is
                # ADDED. Decide from the full vertex set, then from an
                # interior point when every vertex is on j's boundary.
                codes = points_in_ring(rings[i][:-1], rings[j])
                if (codes == 2).any():
                    code = 2
                elif (codes == 0).any():
                    code = 0
                else:
                    from .predicates import interior_point

                    ip = interior_point([rings[i]])
                    code = (
                        points_in_ring(ip.reshape(1, 2), rings[j])[0]
                        if ip is not None
                        else 0
                    )
            if code == 2:
                parent[i] = j
                depth[i] = depth[j] + 1
    polys: dict[int, list[np.ndarray]] = {
        i: [rings[i] if areas[i] > 0 else rings[i][::-1].copy()]
        for i in range(len(rings))
        if depth[i] % 2 == 0
    }
    for i in range(len(rings)):
        if depth[i] % 2 == 1 and parent[i] in polys:
            polys[parent[i]].append(
                rings[i] if areas[i] < 0 else rings[i][::-1].copy()
            )
    return list(polys.values())


def _ccw(ring):
    return ring if ring_signed_area(ring) > 0 else ring[::-1].copy()


def _cw(ring):
    return ring if ring_signed_area(ring) < 0 else ring[::-1].copy()


# ---------------------------------------------------- polygon-level algebra
# A "poly" is list[ring] (ext + holes); an "mp" is list[poly].


def _poly_bbox(poly):
    ext = poly[0]
    return (ext[:, 0].min(), ext[:, 1].min(), ext[:, 0].max(), ext[:, 1].max())


def _subtract_ring(pieces: list[list[np.ndarray]], hole: np.ndarray) -> list[list[np.ndarray]]:
    """Subtract one CCW ring from each piece, iteratively (NEVER recurses
    back into poly_difference — a piece already carrying this ring as a
    hole would otherwise regenerate itself forever). Existing holes of a
    piece are re-attached to whichever result polygon contains them."""
    from .kernels import points_in_ring

    out: list[list[np.ndarray]] = []
    hb = _ring_bbox(hole)
    for piece in pieces:
        if not bbox_intersects(_poly_bbox(piece), hb):
            out.append(piece)
            continue
        polys = _reassemble(_ring_op(piece[0], hole, "difference"))
        old_holes = piece[1:]
        for rp in polys:
            keep = list(rp)
            for ph in old_holes:
                # attach the old hole to the result polygon containing it
                probe = ph[0:1]
                if points_in_ring(probe, rp[0])[0] >= 1:
                    keep.append(ph)
            out.append(keep)
    return out


def poly_intersection(pa: list[np.ndarray], pb: list[np.ndarray]) -> list[list[np.ndarray]]:
    if not bbox_intersects(_poly_bbox(pa), _poly_bbox(pb)):
        return []
    core = _ring_op(pa[0], pb[0], "intersection")
    pieces = _reassemble(core)
    for h in list(pa[1:]) + list(pb[1:]):
        if not pieces:
            return []
        pieces = _subtract_ring(pieces, _ccw(h))
    return pieces


def poly_difference(pa: list[np.ndarray], pb: list[np.ndarray]) -> list[list[np.ndarray]]:
    if not bbox_intersects(_poly_bbox(pa), _poly_bbox(pb)):
        return [pa]
    shell = _ring_op(pa[0], pb[0], "difference")
    if len(pb) == 1 and len(shell) == 1 and np.array_equal(shell[0], pa[0]):
        # the blade leaves the shell as it is: pa's own holes are already
        # in place, and subtracting them again would only rotate their
        # order. A holed blade takes the full path: _ring_op's give-up
        # answer also keeps the shell, and the blade's holes may then
        # still meet pa.
        return [pa]
    part1 = _reassemble(shell)
    part2: list[list[np.ndarray]] = []
    for h in pb[1:]:
        part2.extend(poly_intersection([pa[0]], [_ccw(h)]))
    pieces = part1 + part2
    for h in pa[1:]:
        if not pieces:
            return []
        pieces = _subtract_ring(pieces, _ccw(h))
    return pieces


def poly_union(pa: list[np.ndarray], pb: list[np.ndarray]) -> list[list[np.ndarray]]:
    if not bbox_intersects(_poly_bbox(pa), _poly_bbox(pb)):
        return [pa, pb]
    u = _reassemble(_ring_op(pa[0], pb[0], "union"))
    hole_survivors: list[list[np.ndarray]] = []
    if len(pa) > 1:
        hole_survivors.extend(
            mp_difference([[_ccw(h)] for h in pa[1:]], [pb])
        )
    if len(pb) > 1:
        hole_survivors.extend(
            mp_difference([[_ccw(h)] for h in pb[1:]], [pa])
        )
    if hole_survivors:
        u = mp_difference(u, hole_survivors)
    return u


def mp_intersection(ma, mb):
    out = []
    for pa in ma:
        for pb in mb:
            out.extend(poly_intersection(pa, pb))
    return out


_TILED_DIFF_MIN_BLADES = 16
# target blade count per tile in _mp_difference_tiled: the grid is sized
# so each tile's lane of the difference stepper subtracts ~this many
# blades. Smaller → more tiles (more subject/tile clips, more blades
# straddling seams, larger weld); larger → more pieces accumulated per
# lane, each cut by each later blade. Swept on the 120 heaviest
# complex-difference parts at 500k: 4.0 ≈ 81 s vs 6.0 ≈ 99 s vs
# 12.0 ≈ 135 s vs 48.0 ≈ 523 s single-thread (density 1-3 flat within
# noise of 4.0 but caps nt sooner on many-blade subjects).
_TILE_BLADES = 4.0


def _mp_difference_tiled(ma, mb):
    """Difference against MANY disjoint blade components via a spatial
    grid over the subject: each tile subtracts only its bbox-intersecting
    blades, results re-weld along the (axis-parallel, snap-matched) tile
    seams. The sequential path is O(components x accumulated pieces) —
    measured 7 s for a 5-vertex box minus 85 parcels; the grid bounds the
    per-tile blade count so total work stays ~O(subject + blades). Each
    tile is one lane of the difference stepper (``batchclip._subtract``),
    so the (piece, blade) clips of all tiles share its sweeps.
    Returns None when the weld cannot certify the reassembly (caller
    falls back to the sequential path)."""
    import math

    from .batchclip import _Blade, _subtract

    bbs = [_poly_bbox(p) for p in ma]
    x0 = min(b[0] for b in bbs)
    y0 = min(b[1] for b in bbs)
    x1 = max(b[2] for b in bbs)
    y1 = max(b[3] for b in bbs)
    if x1 <= x0 or y1 <= y0:
        return None
    blades = [_Blade(p) for p in mb]
    blade_bb = np.asarray([b.bb for b in blades], dtype=np.float64)
    nt = int(math.ceil(math.sqrt(len(mb) / _TILE_BLADES)))
    nt = max(2, min(nt, 24))
    xs = np.linspace(x0, x1, nt + 1)
    ys = np.linspace(y0, y1, nt + 1)
    lanes = []
    for i in range(nt):
        for j in range(nt):
            tb = (xs[i], ys[j], xs[i + 1], ys[j + 1])
            box = _rect_ring(*tb)
            sub: list[list[np.ndarray]] = []
            for p, pb in zip(ma, bbs):
                if (
                    pb[0] > tb[2] or pb[2] < tb[0]
                    or pb[1] > tb[3] or pb[3] < tb[1]
                ):
                    continue
                sub.extend(poly_intersection(p, [box]))
            if not sub:
                continue
            sel = ~(
                (blade_bb[:, 0] > tb[2]) | (blade_bb[:, 2] < tb[0])
                | (blade_bb[:, 1] > tb[3]) | (blade_bb[:, 3] < tb[1])
            )
            lanes.append((sub, [blades[k] for k in np.nonzero(sel)[0].tolist()]))
    pieces = [p for polys in _subtract(lanes) for p in polys]
    if not pieces:
        return []
    return weld_all(pieces)


def mp_difference(ma, mb):
    if len(mb) >= _TILED_DIFF_MIN_BLADES and ma:
        tiled = _mp_difference_tiled(ma, mb)
        if tiled is not None:
            return tiled
    cur = list(ma)
    for pb in mb:
        nxt = []
        for pa in cur:
            nxt.extend(poly_difference(pa, pb))
        cur = nxt
        if not cur:
            break
    return cur


def union_all_polys(polys: list[list[np.ndarray]]) -> list[list[np.ndarray]]:
    """Union of many polygons: bbox connected components, fold within each."""
    polys = [p for p in polys if p and abs(ring_signed_area(p[0])) > _MIN_AREA]
    if len(polys) <= 1:
        return polys
    n = len(polys)
    boxes = [_poly_bbox(p) for p in polys]
    # union-find on bbox overlap
    parent = list(range(n))

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    order = sorted(range(n), key=lambda i: boxes[i][0])
    for ii in range(n):
        i = order[ii]
        for jj in range(ii + 1, n):
            j = order[jj]
            if boxes[j][0] > boxes[i][2]:
                break
            if bbox_intersects(boxes[i], boxes[j]):
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[rj] = ri
    groups: dict[int, list[int]] = {}
    for i in range(n):
        groups.setdefault(find(i), []).append(i)
    out: list[list[np.ndarray]] = []
    for idxs in groups.values():
        comp = [polys[i] for i in idxs]
        if len(comp) >= 2:
            # tiling fast path: subdivide-part re-unions are flocks of
            # interior-disjoint edge-adjacent pieces — one global weld is
            # ~O(E) where incremental merging re-nodes the growing result
            # against every next part (quadratic; measured minutes-to-
            # never on 30k-coord subdivided rings). Also beats _weld_pair
            # for 2-element components: hash-cancel + targeted noding vs
            # the all-vertices split scan.
            welded = weld_all(comp)
            if welded is not None:
                out.extend(welded)
                continue
        out.extend(_merge_pass(comp, max_rounds=32))
    return out


def _weld_pair(pa: list[np.ndarray], pb: list[np.ndarray]):
    """EXACT union of two polygons whose interiors are disjoint but whose
    boundaries share (whole or partial) edges — the case the GH clipper
    cannot handle without perturbation (no proper crossings). Adjacent
    parcels / triangulated fixtures are exactly this shape.

    Method: node every boundary segment at the other ring's vertices
    (splitting only AT existing vertices — no computed coordinates, so
    float equality is exact), cancel segment pairs traversed in opposite
    directions (interior boundaries), then walk the remaining directed
    segments back into closed rings (most-counterclockwise-turn rule at
    multi-degree vertices) and reassemble exterior/hole nesting.

    Returns a list of polygons, or None when the configuration is not a
    clean edge-adjacency (caller falls back to the clipper)."""
    # cheap necessary-condition precheck (one numpy broadcast per
    # direction): edge cancellation requires some vertex of one polygon
    # to lie EXACTLY on the other's boundary. Without this the weld
    # attempt pays its noding cost on every overlapping merge candidate
    # (e.g. the buffer fallback's piece unions) just to fail.
    def _any_vertex_on(verts: np.ndarray, ring: np.ndarray) -> bool:
        s = ring[:-1]
        e = ring[1:]
        d = e - s
        cx = (verts[:, None, 0] - s[None, :, 0]) * d[None, :, 1] - (
            verts[:, None, 1] - s[None, :, 1]
        ) * d[None, :, 0]
        on_line = cx == 0.0
        if not on_line.any():
            return False
        t = (verts[:, None, 0] - s[None, :, 0]) * d[None, :, 0] + (
            verts[:, None, 1] - s[None, :, 1]
        ) * d[None, :, 1]
        L2 = (d * d).sum(axis=1)[None, :]
        return bool((on_line & (t >= 0.0) & (t <= L2)).any())

    va = pa[0][:-1]
    vb = pb[0][:-1]
    if not _any_vertex_on(va, pb[0]) and not _any_vertex_on(vb, pa[0]):
        return None

    rings: list[np.ndarray] = [_ccw(pa[0]), _ccw(pb[0])]
    holes = [_cw(h) for h in pa[1:]] + [_cw(h) for h in pb[1:]]
    rings.extend(holes)  # holes CW: interior of the region still on the left

    # global vertex set for noding
    verts: set[tuple[float, float]] = set()
    for r in rings:
        for p in _open_ring(r):
            verts.add((float(p[0]), float(p[1])))
    vlist = np.asarray(sorted(verts), dtype=np.float64) if verts else None

    def _split_segment(a, b):
        """Yield sub-segments of a->b split at global vertices strictly
        inside it (exact collinearity + betweenness on the raw floats)."""
        ax, ay, bx, by = a[0], a[1], b[0], b[1]
        dx, dy = bx - ax, by - ay
        mids = []
        lo_x, hi_x = min(ax, bx), max(ax, bx)
        lo_y, hi_y = min(ay, by), max(ay, by)
        cand = vlist[
            (vlist[:, 0] >= lo_x) & (vlist[:, 0] <= hi_x)
            & (vlist[:, 1] >= lo_y) & (vlist[:, 1] <= hi_y)
        ]
        for vx, vy in cand:
            if (vx == ax and vy == ay) or (vx == bx and vy == by):
                continue
            if dx * (vy - ay) - dy * (vx - ax) != 0.0:
                continue
            t = (vx - ax) * dx + (vy - ay) * dy
            if 0.0 < t < dx * dx + dy * dy:
                mids.append((t, vx, vy))
        mids.sort()
        prev = (ax, ay)
        for _, vx, vy in mids:
            yield prev, (vx, vy)
            prev = (vx, vy)
        yield prev, (bx, by)

    # count undirected segments; opposite-direction pairs cancel
    seen: dict[tuple, list[tuple]] = {}
    for r in rings:
        o = _open_ring(r)
        for i in range(len(o)):
            a = (float(o[i][0]), float(o[i][1]))
            b = (float(o[(i + 1) % len(o)][0]), float(o[(i + 1) % len(o)][1]))
            if a == b:
                continue
            for sa, sb in _split_segment(a, b):
                key = (sa, sb) if sa < sb else (sb, sa)
                seen.setdefault(key, []).append((sa, sb))
    boundary: list[tuple] = []
    shared = 0
    for key, dirs in seen.items():
        if len(dirs) == 1:
            boundary.append(dirs[0])
        elif len(dirs) == 2 and dirs[0] == (dirs[1][1], dirs[1][0]):
            shared += 1  # interior edge: cancels
        else:
            return None  # same-direction duplicate / >2: not a clean weld
    if shared == 0 or not boundary:
        return None

    # walk remaining directed segments into closed rings
    outgoing: dict[tuple, list[tuple]] = {}
    for sa, sb in boundary:
        outgoing.setdefault(sa, []).append(sb)
    used: set[tuple] = set()
    new_rings: list[np.ndarray] = []
    import math

    for sa, sb in boundary:
        if (sa, sb) in used:
            continue
        ring_pts = [sa, sb]
        used.add((sa, sb))
        cur, prv = sb, sa
        ok = True
        for _ in range(len(boundary) + 1):
            if cur == ring_pts[0]:
                break
            outs = [w for w in outgoing.get(cur, []) if (cur, w) not in used]
            if not outs:
                ok = False
                break
            if len(outs) == 1:
                nxt = outs[0]
            else:
                # most-counterclockwise turn keeps the region on the left
                din = math.atan2(cur[1] - prv[1], cur[0] - prv[0])

                def turn(w):
                    ang = math.atan2(w[1] - cur[1], w[0] - cur[0]) - din + math.pi
                    # exact reversal (U-turn) maps to 0 = least preferred
                    while ang < 0:
                        ang += 2 * math.pi
                    while ang >= 2 * math.pi:
                        ang -= 2 * math.pi
                    return ang

                nxt = max(outs, key=turn)
            used.add((cur, nxt))
            ring_pts.append(nxt)
            prv, cur = cur, nxt
        if not ok or cur != ring_pts[0]:
            return None
        new_rings.append(np.asarray(ring_pts, dtype=np.float64))
    if len(used) != len(boundary):
        return None
    out = _reassemble(new_rings)
    # conservation check: welding interiors-disjoint polygons must keep
    # the total area exactly (up to float round-off)
    def _area(polys):
        tot = 0.0
        for p in polys:
            tot += abs(ring_signed_area(p[0]))
            for h in p[1:]:
                tot -= abs(ring_signed_area(h))
        return tot

    want = _area([pa]) + _area([pb])
    got = _area(out)
    if abs(got - want) > 1e-9 * max(want, 1.0):
        return None
    return out


def _merge_pass(polys: list[list[np.ndarray]], max_rounds: int = 8):
    changed = True
    rounds = 0
    while changed and rounds < max_rounds:
        changed = False
        rounds += 1
        res: list[list[np.ndarray]] = []
        for p in polys:
            merged = False
            for k in range(len(res)):
                if bbox_intersects(_poly_bbox(res[k]), _poly_bbox(p)):
                    # exact weld FIRST: for edge-adjacent (interiors
                    # disjoint) pairs the GH clipper can only merge via
                    # perturbation (inexact area); the weld is exact and
                    # returns None fast when boundaries share no edge
                    u = _weld_pair(res[k], p)
                    if u is None or len(u) != 1:
                        u = poly_union(res[k], p)
                    if len(u) == 1:
                        res[k] = u[0]
                        merged = True
                        changed = True
                        break
            if not merged:
                res.append(p)
        polys = res
    return polys


def _walk_boundary(boundary) -> list[np.ndarray] | None:
    """Walk directed boundary segments ((E,4) ndarray of (ax,ay,bx,by)
    rows) into closed rings with the most-counterclockwise-turn rule
    (region stays on the left).

    Vectorized face tracing: endpoints map to integer node ids, each
    dart pairs with its successor — the unique outgoing dart at
    degree-1 head nodes (the vast majority), the max-CCW-turn dart at
    junctions (few: only T-junction seam nodes). The successor map of a
    clean planar boundary is a permutation whose cycles ARE the rings;
    when it is not a bijection the sequential dict walk decides (same
    contract: None when any walk dead-ends or segments remain unused)."""
    arr = np.asarray(boundary, dtype=np.float64).reshape(-1, 4)
    n = len(arr)
    if n == 0:
        return []
    # + 0.0 normalizes -0.0 to +0.0: np.unique(axis=0) compares BYTES,
    # and a node spelled -0.0 by one segment and 0.0 by another must
    # still be one node (float == treats them equal; bytes do not)
    pts = np.vstack([arr[:, :2], arr[:, 2:]]) + 0.0
    # lexsort-based dedup: np.unique(axis=0) goes through void views
    # (byte comparisons) — 3-4x slower and -0.0 != 0.0 there
    po = np.lexsort((pts[:, 1], pts[:, 0]))
    sp = pts[po]
    first = np.ones(len(sp), dtype=bool)
    first[1:] = (sp[1:] != sp[:-1]).any(axis=1)
    gid = np.cumsum(first) - 1
    inv = np.empty(len(pts), dtype=np.int64)
    inv[po] = gid
    nnode_total = int(gid[-1]) + 1 if len(gid) else 0
    src, dst = inv[:n], inv[n:]
    dx = arr[:, 2] - arr[:, 0]
    dy = arr[:, 3] - arr[:, 1]
    theta = np.arctan2(dy, dx)  # dart angle at its tail node
    theta_rev = np.arctan2(-dy, -dx)  # reverse-dart angle at the head
    nnode = nnode_total
    out_deg = np.bincount(src, minlength=nnode)
    if (out_deg[dst] == 0).any():
        return None  # dead end: a head node with no outgoing dart
    order = np.lexsort((theta, src))
    starts = np.searchsorted(src[order], np.arange(nnode + 1))
    nxt = np.empty(n, dtype=np.int64)
    simple = out_deg[dst] == 1
    nxt[simple] = order[starts[dst[simple]]]
    for i in np.where(~simple)[0]:
        v = dst[i]
        block = order[starts[v] : starts[v + 1]]
        # same rule as the sequential walk: turn = (angle(out) - din + pi)
        # mod 2pi maximal; din + pi == theta_rev mod 2pi
        turn = np.mod(theta[block] - theta_rev[i], 2.0 * np.pi)
        nxt[i] = block[int(np.argmax(turn))]
    if np.bincount(nxt, minlength=n).max(initial=0) > 1:
        # two darts claim the same successor: not a clean face tracing —
        # the order-dependent sequential walk (with its used-filter) may
        # still find a decomposition
        return _walk_boundary_seq(arr)
    tails = arr[:, :2]
    rings: list[np.ndarray] = []
    # plain-python list chase: numpy scalar indexing per step costs ~4x
    # (one million boxed np.int64 round-trips on a 1M-edge boundary)
    nxt_l = nxt.tolist()
    seen = bytearray(n)
    for s in range(n):
        if seen[s]:
            continue
        cyc = []
        app = cyc.append
        cur = s
        while not seen[cur]:
            seen[cur] = 1
            app(cur)
            cur = nxt_l[cur]
        if cur != s:  # defensive: unreachable for a true permutation
            return _walk_boundary_seq(arr)
        idx = np.asarray(cyc, dtype=np.int64)
        ring = np.empty((len(idx) + 1, 2), dtype=np.float64)
        ring[:-1] = tails[idx]
        ring[-1] = tails[idx[0]]
        rings.append(ring)
    return rings


def _walk_boundary_seq(arr: np.ndarray) -> list[np.ndarray] | None:
    """Sequential dict walk (the pre-vectorization implementation) —
    order-dependent used-filtering handles boundaries whose successor
    map is not a bijection."""
    import math

    boundary = [
        ((float(r[0]), float(r[1])), (float(r[2]), float(r[3]))) for r in arr
    ]
    outgoing: dict[tuple, list[tuple]] = {}
    for sa, sb in boundary:
        outgoing.setdefault(sa, []).append(sb)
    used: set[tuple] = set()
    rings: list[np.ndarray] = []
    for sa, sb in boundary:
        if (sa, sb) in used:
            continue
        ring_pts = [sa, sb]
        used.add((sa, sb))
        cur, prv = sb, sa
        ok = True
        for _ in range(len(boundary) + 1):
            if cur == ring_pts[0]:
                break
            outs = [w for w in outgoing.get(cur, []) if (cur, w) not in used]
            if not outs:
                ok = False
                break
            if len(outs) == 1:
                nxt = outs[0]
            else:
                din = math.atan2(cur[1] - prv[1], cur[0] - prv[0])

                def turn(w):
                    ang = math.atan2(w[1] - cur[1], w[0] - cur[0]) - din + math.pi
                    while ang < 0:
                        ang += 2 * math.pi
                    while ang >= 2 * math.pi:
                        ang -= 2 * math.pi
                    return ang

                nxt = max(outs, key=turn)
            used.add((cur, nxt))
            ring_pts.append(nxt)
            prv, cur = cur, nxt
        if not ok or cur != ring_pts[0]:
            return None
        rings.append(np.asarray(ring_pts, dtype=np.float64))
    if len(used) != len(boundary):
        return None
    return rings


def _cancel_pairs(directed) -> tuple[np.ndarray, int] | None:
    """Drop opposite-direction duplicate segments (interior seams).
    Takes and returns (E, 4) ndarrays of directed (ax,ay,bx,by) rows.
    Returns (surviving directed segments, number cancelled) or None when
    an undirected edge appears more than twice / twice same-direction
    (not a clean planar tiling).

    Vectorized: lexsort the (E, 4) undirected-key array and classify the
    equal-key runs — the per-edge Python dict pass cost ~10 s per million
    edges on the hole-heavy re-union boundaries."""
    arr = np.asarray(directed, dtype=np.float64).reshape(-1, 4)
    n = len(arr)
    if n == 0:
        return arr, 0
    a = arr[:, 0:2]
    b = arr[:, 2:4]
    a_first = (a[:, 0] < b[:, 0]) | ((a[:, 0] == b[:, 0]) & (a[:, 1] < b[:, 1]))
    key = np.where(a_first[:, None], np.hstack([a, b]), np.hstack([b, a]))
    order = np.lexsort((key[:, 3], key[:, 2], key[:, 1], key[:, 0]))
    k = key[order]
    new_run = np.ones(n, dtype=bool)
    new_run[1:] = (k[1:] != k[:-1]).any(axis=1)
    run_ids = np.cumsum(new_run) - 1
    counts = np.bincount(run_ids)
    if counts.max(initial=0) > 2:
        return None
    starts = np.where(new_run)[0]
    # runs of 2: must be opposite directions (a_first flags differ)
    af_sorted = a_first[order]
    two = counts == 2
    if two.any():
        s2 = starts[two]
        if (af_sorted[s2] == af_sorted[s2 + 1]).any():
            return None  # same-direction duplicate
    singles = starts[counts == 1]
    return arr[order[singles]], int(two.sum())


def _rings_edges(rings: list[np.ndarray]) -> np.ndarray:
    """Batched directed-edge build for MANY closed rings at once: one
    concatenate + index arithmetic instead of np.roll/hstack per ring
    (the per-ring numpy overhead costs seconds on 80k-ring weld
    boundaries). Zero-length edges dropped."""
    opens = [r[:-1] for r in rings if len(r) > 1]
    if not opens:
        return np.empty((0, 4), dtype=np.float64)
    cat = np.concatenate(opens, axis=0).astype(np.float64, copy=False)
    lens = np.fromiter((len(o) for o in opens), dtype=np.int64, count=len(opens))
    ends = np.cumsum(lens)
    starts = ends - lens
    nxt = np.arange(len(cat), dtype=np.int64) + 1
    nxt[ends - 1] = starts
    e = np.empty((len(cat), 4), dtype=np.float64)
    e[:, :2] = cat
    e[:, 2:] = cat[nxt]
    return e[(e[:, 0] != e[:, 2]) | (e[:, 1] != e[:, 3])]


def _node_axis_vec(arr: np.ndarray, todo: np.ndarray, pts: np.ndarray):
    """Vectorized T-junction noding for AXIS-PARALLEL segments: a point
    splits a horizontal segment iff its y equals the segment's y exactly
    and its x lies strictly between the endpoints (and symmetrically for
    vertical segments) — an exact-equality interval query, answered for
    every segment at once with complex-key searchsorted (numpy orders
    complex lexicographically (real, imag), so complex(y, x) ranges ARE
    the equal-y x-intervals). Returns (unchanged row mask over ``todo``,
    list of replacement row arrays for the split segments)."""
    seg = arr[todo]
    horiz = seg[:, 1] == seg[:, 3]
    # sorted composite keys over the endpoint set, both orientations
    key_yx = np.sort(pts[:, 1] + 1j * pts[:, 0])
    key_xy = np.sort(pts[:, 0] + 1j * pts[:, 1])
    n = len(seg)
    left = np.empty(n, dtype=np.int64)
    right = np.empty(n, dtype=np.int64)
    lo_h = np.minimum(seg[:, 0], seg[:, 2])
    hi_h = np.maximum(seg[:, 0], seg[:, 2])
    lo_v = np.minimum(seg[:, 1], seg[:, 3])
    hi_v = np.maximum(seg[:, 1], seg[:, 3])
    h = np.where(horiz)[0]
    v = np.where(~horiz)[0]
    if len(h):
        left[h] = np.searchsorted(key_yx, seg[h, 1] + 1j * lo_h[h], side="right")
        right[h] = np.searchsorted(key_yx, seg[h, 1] + 1j * hi_h[h], side="left")
    if len(v):
        left[v] = np.searchsorted(key_xy, seg[v, 0] + 1j * lo_v[v], side="right")
        right[v] = np.searchsorted(key_xy, seg[v, 0] + 1j * hi_v[v], side="left")
    needs = right > left
    pieces: list[np.ndarray] = []
    pts_yx = pts[np.lexsort((pts[:, 0], pts[:, 1]))]
    pts_xy = pts[np.lexsort((pts[:, 1], pts[:, 0]))]
    for k in np.where(needs)[0]:
        src = pts_yx if horiz[k] else pts_xy
        mids = src[left[k] : right[k]]
        a = (seg[k, 0], seg[k, 1])
        b = (seg[k, 2], seg[k, 3])
        # order along the segment direction
        axis = 0 if horiz[k] else 1
        vals = mids[:, axis]
        order = np.argsort(vals, kind="stable")
        if (a[axis] > b[axis]):
            order = order[::-1]
        chain = np.empty((len(mids) + 2, 2), dtype=np.float64)
        chain[0] = a
        chain[1:-1] = mids[order]
        chain[-1] = b
        rows = np.empty((len(chain) - 1, 4), dtype=np.float64)
        rows[:, :2] = chain[:-1]
        rows[:, 2:] = chain[1:]
        rows = rows[(rows[:, 0] != rows[:, 2]) | (rows[:, 1] != rows[:, 3])]
        pieces.append(rows)
    return needs, pieces


def _node_boundary(boundary, axis_only: bool = False) -> np.ndarray:
    """Split boundary segments at OTHER boundary endpoints lying exactly
    on them (exact collinearity + strict betweenness on raw floats) —
    the T-junction repair pass. Takes and returns (E, 4) ndarrays of
    directed rows. Grid-hashed so cost stays ~O(E); only the ``todo``
    segments are visited in Python — untouched rows pass through as one
    array slice.

    ``axis_only`` restricts splitting to axis-parallel segments: in a
    subdivide tiling, everything two neighbours share lies ON the
    (vertical/horizontal) cut lines, so only those segments can need a
    T-junction split — the hole-arc bulk (99% of a re-union boundary)
    skips the scan entirely. Non-axis tilings then simply fall back to
    the general clipper (slower, still correct)."""
    import math

    arr = np.asarray(boundary, dtype=np.float64).reshape(-1, 4)
    n = len(arr)
    if n == 0:
        return arr
    is_axis = (arr[:, 0] == arr[:, 2]) | (arr[:, 1] == arr[:, 3])
    todo = np.where(is_axis)[0] if axis_only else np.arange(n)
    if len(todo) == 0:
        return arr
    # vectorized grid build over the unique endpoints (lexsort dedup —
    # np.unique(axis=0) byte-compares via void views, 3-4x slower)
    allp = arr.reshape(2 * n, 2)
    apo = np.lexsort((allp[:, 1], allp[:, 0]))
    sap = allp[apo]
    afirst = np.ones(len(sap), dtype=bool)
    afirst[1:] = (sap[1:] != sap[:-1]).any(axis=1)
    pts = sap[afirst]
    if axis_only:
        # axis-parallel segments admit an exact-equality interval query:
        # fully vectorized, no grid, no per-segment Python for the
        # (overwhelming) majority that needs no split
        needs, pieces = _node_axis_vec(arr, todo, pts)
        if not pieces:
            return arr
        keep_mask = np.ones(n, dtype=bool)
        keep_mask[todo[needs]] = False
        return np.vstack([arr[keep_mask], *pieces])
    lens = np.hypot(arr[:2048, 2] - arr[:2048, 0], arr[:2048, 3] - arr[:2048, 1])
    cell = max(float(np.median(lens)), 1e-9)
    gx = np.floor(pts[:, 0] / cell).astype(np.int64)
    gy = np.floor(pts[:, 1] / cell).astype(np.int64)
    order = np.lexsort((gy, gx))
    gxs, gys = gx[order], gy[order]
    new_cell = np.ones(len(order), dtype=bool)
    new_cell[1:] = (gxs[1:] != gxs[:-1]) | (gys[1:] != gys[:-1])
    starts = np.where(new_cell)[0]
    ends = np.append(starts[1:], len(order))
    grid: dict[tuple, np.ndarray] = {}
    for s, e in zip(starts, ends):
        grid[(int(gxs[s]), int(gys[s]))] = pts[order[s:e]]
    keep_mask = np.ones(n, dtype=bool)
    keep_mask[todo] = False
    pieces: list[np.ndarray] = [arr[keep_mask]]
    for i in todo:
        a = (float(arr[i, 0]), float(arr[i, 1]))
        b = (float(arr[i, 2]), float(arr[i, 3]))
        dx, dy = b[0] - a[0], b[1] - a[1]
        L2 = dx * dx + dy * dy
        gx0 = int(math.floor(min(a[0], b[0]) / cell))
        gx1 = int(math.floor(max(a[0], b[0]) / cell))
        gy0 = int(math.floor(min(a[1], b[1]) / cell))
        gy1 = int(math.floor(max(a[1], b[1]) / cell))
        mids = []
        if (gx1 - gx0 + 1) * (gy1 - gy0 + 1) <= 4096:
            for cgx in range(gx0, gx1 + 1):
                for cgy in range(gy0, gy1 + 1):
                    vs = grid.get((cgx, cgy))
                    if vs is None:
                        continue
                    cross = dx * (vs[:, 1] - a[1]) - dy * (vs[:, 0] - a[0])
                    t = (vs[:, 0] - a[0]) * dx + (vs[:, 1] - a[1]) * dy
                    hit = (cross == 0.0) & (t > 0.0) & (t < L2)
                    for vi in np.where(hit)[0]:
                        v = (float(vs[vi, 0]), float(vs[vi, 1]))
                        if v != a and v != b:
                            mids.append((float(t[vi]), v))
        else:
            # segment spans too many grid cells (mixed-scale boundary):
            # direct bbox-prefiltered scan of the full endpoint array —
            # slower but never silently skips the split (which would make
            # the weld certification fail downstream with no signal why)
            m = (
                (pts[:, 0] >= min(a[0], b[0]))
                & (pts[:, 0] <= max(a[0], b[0]))
                & (pts[:, 1] >= min(a[1], b[1]))
                & (pts[:, 1] <= max(a[1], b[1]))
            )
            vs = pts[m]
            if len(vs):
                cross = dx * (vs[:, 1] - a[1]) - dy * (vs[:, 0] - a[0])
                t = (vs[:, 0] - a[0]) * dx + (vs[:, 1] - a[1]) * dy
                hit = (cross == 0.0) & (t > 0.0) & (t < L2)
                for vi in np.where(hit)[0]:
                    v = (float(vs[vi, 0]), float(vs[vi, 1]))
                    if v != a and v != b:
                        mids.append((float(t[vi]), v))
        if not mids:
            pieces.append(arr[i : i + 1])
            continue
        mids.sort()
        chain = [a] + [v for _, v in mids] + [b]
        rows = np.empty((len(chain) - 1, 4), dtype=np.float64)
        for j in range(len(chain) - 1):
            rows[j, 0], rows[j, 1] = chain[j]
            rows[j, 2], rows[j, 3] = chain[j + 1]
        pieces.append(rows)
    return np.vstack(pieces)


def _polys_by_orientation(rings: list[np.ndarray]) -> list[list[np.ndarray]] | None:
    """Assemble walked rings into polygons using orientation (the walk
    keeps the region on the left, so CCW = exterior, CW = hole) and
    assign each hole to its smallest containing exterior. Chunked
    vectorized containment — never the O(R^2) generic _reassemble."""
    from .kernels import points_in_ring

    exts: list[tuple[float, np.ndarray]] = []
    holes: list[np.ndarray] = []
    for r in rings:
        a = ring_signed_area(r)
        if abs(a) <= _MIN_AREA:
            continue
        if a > 0:
            exts.append((a, r))
        else:
            holes.append(r)
    if not exts:
        return None
    polys: list[list[np.ndarray]] = [[r] for _, r in exts]
    if not holes:
        return polys
    if len(exts) == 1:
        return [[exts[0][1], *holes]]
    hp = np.asarray([h[0] for h in holes], dtype=np.float64)
    assigned = np.full(len(holes), -1, dtype=np.int64)
    order = sorted(range(len(exts)), key=lambda i: exts[i][0])  # smallest first
    for ei in order:
        ring = exts[ei][1]
        bb = (ring[:, 0].min(), ring[:, 1].min(), ring[:, 0].max(), ring[:, 1].max())
        todo = np.where(assigned < 0)[0]
        if len(todo) == 0:
            break
        cand = todo[
            (hp[todo, 0] >= bb[0]) & (hp[todo, 0] <= bb[2])
            & (hp[todo, 1] >= bb[1]) & (hp[todo, 1] <= bb[3])
        ]
        # chunk the (points x ring-edges) matrix to ~100 MB
        step = max(1, int(1.5e7 // max(len(ring), 1)))
        for lo in range(0, len(cand), step):
            idx = cand[lo : lo + step]
            res = points_in_ring(hp[idx], ring)
            hit = idx[res == 2]
            assigned[hit] = ei
    for hi, ei in enumerate(assigned):
        if ei < 0:
            return None  # hole with no containing exterior: weld was wrong
        polys[int(ei)].append(holes[hi])
    return polys


def _axis_partial_overlap(e: np.ndarray, own: np.ndarray) -> bool:
    """True when two DIFFERENT owners have axis-parallel segments sharing
    a collinear interval of positive length (endpoint touches don't
    count). `e` is an (n,4) snapped segment array [x1,y1,x2,y2], `own`
    the per-segment owner id."""
    for axis in (0, 1):  # 0: vertical (equal x), 1: horizontal (equal y)
        c, v = (0, 1) if axis == 0 else (1, 0)
        m = e[:, c] == e[:, c + 2]
        if not m.any():
            continue
        const = e[m, c]
        lo = np.minimum(e[m, v], e[m, v + 2])
        hi = np.maximum(e[m, v], e[m, v + 2])
        ow = own[m]
        order = np.lexsort((lo, const))
        const = const[order]
        lo = lo[order]
        hi = hi[order]
        ow = ow[order]
        run_start = np.ones(len(const), dtype=bool)
        run_start[1:] = const[1:] != const[:-1]
        idx = np.where(run_start)[0]
        bounds = np.append(idx, len(const))
        for s, t in zip(bounds[:-1], bounds[1:]):
            # sweep by interval start: track the furthest-reaching open
            # interval overall AND the furthest of any OTHER owner, so a
            # cross-owner overlap is caught even when the same owner
            # dominates the sweep line
            m1_end = -np.inf
            m1_own = -1
            m2_end = -np.inf
            m2_own = -1
            for j in range(s, t):
                L = lo[j]
                H = hi[j]
                O = int(ow[j])
                if (m1_own not in (-1, O) and L < m1_end) or (
                    m2_own not in (-1, O) and L < m2_end
                ):
                    return True
                if H > m1_end:
                    if m1_own != O and m1_end > m2_end:
                        m2_end, m2_own = m1_end, m1_own
                    m1_end, m1_own = H, O
                elif O != m1_own and H > m2_end:
                    m2_end, m2_own = H, O
    return False


def weld_all(polys: list[list[np.ndarray]]) -> list[list[np.ndarray]] | None:
    """EXACT union of MANY interior-disjoint polygons in one global pass
    (the N-ary generalization of :func:`_weld_pair`): hash-cancel
    opposite-direction shared edges across ALL inputs at once, walk the
    surviving directed segments into rings, rebuild nesting by walk
    orientation. One T-junction noding pass (split at existing vertices
    only — no computed coordinates) retries when seam vertices disagree.

    This is THE union shape for re-assembling ``subdivide`` parts after a
    per-part overlay: incremental pairwise merging re-nodes the growing
    result against every next part (quadratic in total edges — measured
    minutes-to-never on 30k-coord rings), while the global weld is one
    ~O(E) pass. Returns None (caller falls back to the general clipper
    path) whenever the inputs are not a clean tiling; an exact area
    conservation check guards against silently wrong welds.
    """
    if len(polys) < 2:
        return list(polys)
    want = 0.0
    ring_list: list[np.ndarray] = []
    for p in polys:
        want += abs(ring_signed_area(p[0]))
        ring_list.append(_ccw(p[0]))
        for h in p[1:]:
            want -= abs(ring_signed_area(h))
            ring_list.append(_cw(h))
    directed = _rings_edges(ring_list)

    def _area(ps):
        tot = 0.0
        for p in ps:
            tot += abs(ring_signed_area(p[0]))
            for h in p[1:]:
                tot -= abs(ring_signed_area(h))
        return tot

    cancelled = _cancel_pairs(directed)
    if cancelled is None:
        return None
    boundary, shared = cancelled
    # GLOBAL power-of-two snap quantum from the coordinate magnitude, NOT
    # the local span: independent welds over neighbouring regions (e.g.
    # hierarchical block re-unions) must snap to the SAME grid or their
    # shared seams never cancel downstream. ~1.4e-14 x magnitude — two
    # orders above float64 ulp noise (GH crossings recomputed from
    # different windows disagree by ~1e-16 x magnitude), far below any
    # feature scale.
    import math

    max_abs = max(float(np.max(np.abs(boundary), initial=0.0)), 1e-300)
    eps = 2.0 ** (math.frexp(max_abs)[1] - 46)

    def _residual_shared(out) -> bool:
        """True when two output polys still share a (snapped) boundary
        edge — an under-merged seam the exact pass could not cancel.
        Vectorized: snapped undirected edge keys lexsorted, a key run
        spanning two owner polys is a residual seam."""
        rings_l: list[np.ndarray] = []
        ring_owner: list[int] = []
        for pi, p in enumerate(out):
            for r in p:
                rings_l.append(r)
                ring_owner.append(pi)
        if not rings_l:
            return False
        # batch: snap every ring once, build all edges in one pass, and
        # carry the owner id per edge via the same length bookkeeping
        opens = [np.round(r[:-1] / eps) * eps for r in rings_l if len(r) > 1]
        owners = [o for r, o in zip(rings_l, ring_owner) if len(r) > 1]
        if not opens:
            return False
        cat = np.concatenate(opens, axis=0)
        lens = np.fromiter((len(o) for o in opens), dtype=np.int64, count=len(opens))
        ends_i = np.cumsum(lens)
        starts_i = ends_i - lens
        nxt_i = np.arange(len(cat), dtype=np.int64) + 1
        nxt_i[ends_i - 1] = starts_i
        e = np.empty((len(cat), 4), dtype=np.float64)
        e[:, :2] = cat
        e[:, 2:] = cat[nxt_i]
        own = np.repeat(np.asarray(owners, dtype=np.int64), lens)
        nz = (e[:, 0] != e[:, 2]) | (e[:, 1] != e[:, 3])
        e = e[nz]
        own = own[nz]
        a, b = e[:, :2], e[:, 2:]
        a_first = (a[:, 0] < b[:, 0]) | ((a[:, 0] == b[:, 0]) & (a[:, 1] < b[:, 1]))
        key = np.where(a_first[:, None], e, np.hstack([b, a]))
        order = np.lexsort((key[:, 3], key[:, 2], key[:, 1], key[:, 0]))
        k = key[order]
        so = own[order]
        new_run = np.ones(len(k), dtype=bool)
        new_run[1:] = (k[1:] != k[:-1]).any(axis=1)
        starts = np.where(new_run)[0]
        if bool(
            (
                np.minimum.reduceat(so, starts)
                != np.maximum.reduceat(so, starts)
            ).any()
        ):
            return True
        # PARTIAL collinear seams: two owners sharing an axis-parallel
        # interval with DIFFERENT vertex subdivisions produce no exact
        # duplicate edge, so the scan above misses them — the weld then
        # accepts an under-merged output whose phantom seam later breaks
        # hole placement and downstream re-welds. Subdivide cuts and
        # tile grids are axis-parallel, so the axis scan catches the
        # seams that matter; flagging sends the weld into its noding
        # retry, which cancels them.
        return _axis_partial_overlap(e, own)

    def _mids(poly):
        segs = []
        for r in poly:
            segs.append((r[:-1] + r[1:]) * 0.5)
        return np.concatenate(segs) if segs else np.empty((0, 2))

    def _strict_inside_any(pts, poly) -> bool:
        from .kernels import points_in_ring

        if len(pts) == 0:
            return False
        hole_bb = [
            (h[:, 0].min(), h[:, 1].min(), h[:, 0].max(), h[:, 1].max())
            for h in poly[1:]
        ]
        step = max(1, int(2e7 // max(len(poly[0]), 1)))
        for lo in range(0, len(pts), step):
            chunk = pts[lo : lo + step]
            res = points_in_ring(chunk, poly[0])
            inside = res == 2
            if not inside.any():
                continue
            sub = chunk[inside]
            for h, hb in zip(poly[1:], hole_bb):
                if len(sub) == 0:
                    break
                near = (
                    (sub[:, 0] >= hb[0]) & (sub[:, 0] <= hb[2])
                    & (sub[:, 1] >= hb[1]) & (sub[:, 1] <= hb[3])
                )
                if not near.any():
                    continue
                drop = np.zeros(len(sub), dtype=bool)
                drop[np.where(near)[0][points_in_ring(sub[near], h) != 0]] = True
                sub = sub[~drop]
            if len(sub):
                return True
        return False

    def _overlapping_pair(out) -> bool:
        """True when two output pieces have interiors that overlap — the
        case the area check CANNOT see (overlap is double-counted on both
        sides of the comparison; five chained 10x10 squares 'conserve'
        500 while the true union is 300). Because the walked segments are
        noded, a piece's edge is fully inside / outside / on another
        piece — so interiors overlap iff some boundary-edge MIDPOINT of
        one piece is strictly inside the other. Midpoints are window-
        filtered to the bbox overlap, so genuine tilings (tiny overlaps)
        cost ~nothing; a size-capped GH fallback covers the rare huge-
        pair case."""
        n = len(out)
        if n < 2:
            return False
        boxes = np.asarray([_poly_bbox(p) for p in out], dtype=np.float64)
        mids_cache: dict[int, np.ndarray] = {}
        # per-TARGET batching: gather the midpoints of every other piece
        # falling in the target's bbox and run ONE chunked inside test —
        # a giant piece with hundreds of islands costs one vectorized
        # sweep instead of hundreds of tiny points_in_ring calls
        for b in range(n):
            tb = boxes[b]
            cand = np.where(
                (boxes[:, 0] <= tb[2]) & (boxes[:, 2] >= tb[0])
                & (boxes[:, 1] <= tb[3]) & (boxes[:, 3] >= tb[1])
            )[0]
            gathered = []
            for a in cand:
                if a == b:
                    continue
                m = mids_cache.get(a)
                if m is None:
                    m = _mids(out[a])
                    mids_cache[a] = m
                m = m[
                    (m[:, 0] >= tb[0]) & (m[:, 0] <= tb[2])
                    & (m[:, 1] >= tb[1]) & (m[:, 1] <= tb[3])
                ]
                if len(m):
                    gathered.append(m)
            if gathered and _strict_inside_any(np.concatenate(gathered), out[b]):
                return True
        return False

    def _try(b, tol) -> list[list[np.ndarray]] | None:
        rings = _walk_boundary(b)
        if rings is None:
            return None
        out = _polys_by_orientation(rings)
        if out is None or abs(_area(out) - want) > tol * max(want, 1.0):
            return None
        return out

    def _accept(out):
        """Final gate, run ONCE on the candidate actually returned (the
        overlap scan costs real time on hole-heavy outputs)."""
        return None if out is None or _overlapping_pair(out) else out

    if shared > 0:
        out = _try(boundary, 1e-9)
        if out is not None and not _residual_shared(out):
            return _accept(out)
    # T-junction repair: split segments at existing vertices, re-cancel.
    # Subdivide cuts place DIFFERENT vertices on the two sides of a seam
    # (each side was clipped against its own window), so exact twins only
    # appear after noding — a zero exact-shared count must NOT bail early
    # for tilings. But noding a flock of merely-OVERLAPPING polygons
    # (e.g. a blade union of adjacent parcels) is pure waste: gate on
    # cheap tiling evidence — subdivide seams are axis-parallel segments
    # (the cuts are vertical/horizontal lines), overlapping organic
    # shapes have essentially none.
    if shared == 0:
        n_axis = int(
            (
                (boundary[:, 0] == boundary[:, 2])
                | (boundary[:, 1] == boundary[:, 3])
            ).sum()
        )
        if n_axis < 2 * len(polys):
            return None
    cancelled = _cancel_pairs(_node_boundary(boundary, axis_only=True))
    if cancelled is not None:
        if cancelled[1] == 0 and shared == 0:
            # nothing touches even after noding: either genuinely
            # disjoint or interior-overlapping — cannot certify a
            # tiling, let the general clipper path decide
            return None
        out = _try(cancelled[0], 1e-9)
        if out is not None and not _residual_shared(out):
            return _accept(out)
    # last-ulp repair: neighbouring parts compute the SAME seam crossing
    # from different segment endpoints, so the floats disagree in the
    # final ulps and exact cancellation misses those seams. Snap the
    # boundary to a relative-epsilon grid, re-node, re-cancel, re-walk;
    # the area check (at the snap scale) still rejects wrong welds.
    sb = np.round(boundary / eps) * eps
    snapped = sb[(sb[:, 0] != sb[:, 2]) | (sb[:, 1] != sb[:, 3])]
    cancelled = _cancel_pairs(snapped)
    if cancelled is None:
        return None
    cancelled = _cancel_pairs(_node_boundary(cancelled[0], axis_only=True))
    if cancelled is None:
        return None
    out = _try(cancelled[0], 1e-6)
    if out is None or _residual_shared(out):
        # seams remain even after snapping: not a weldable tiling —
        # fall back to the general clipper so nothing stays un-merged
        return None
    return _accept(out)


# --------------------------------------------------------- line clipping
def clip_line_by_polygons(line: np.ndarray, geom: Geometry, keep_inside=True):
    """Split a linestring at polygon boundaries, keep inside (or outside)
    parts. Returns list of coordinate arrays."""
    from .kernels import segments_cross

    out_parts: list[list[np.ndarray]] = []
    cur: list[np.ndarray] = []
    starts_list = []
    ends_list = []
    for rings in geom.polygons():
        for ring in rings:
            starts_list.append(ring[:-1])
            ends_list.append(ring[1:])
    if not starts_list:
        return [line] if not keep_inside else []
    S = np.vstack(starts_list)
    E = np.vstack(ends_list)
    for i in range(len(line) - 1):
        p1, p2 = line[i], line[i + 1]
        d = p2 - p1
        # find crossing params
        ts = [0.0, 1.0]
        d2 = E - S
        diff = S - p1
        denom = d[0] * d2[:, 1] - d[1] * d2[:, 0]
        nz = np.abs(denom) > EPS
        with np.errstate(divide="ignore", invalid="ignore"):
            t = np.where(nz, (diff[:, 0] * d2[:, 1] - diff[:, 1] * d2[:, 0]) / np.where(nz, denom, 1), np.nan)
            u = np.where(nz, (diff[:, 0] * d[1] - diff[:, 1] * d[0]) / np.where(nz, denom, 1), np.nan)
        ok = nz & (t > 1e-12) & (t < 1 - 1e-12) & (u >= -1e-12) & (u <= 1 + 1e-12)
        ts.extend(t[ok].tolist())
        ts = sorted(set(ts))
        for j in range(len(ts) - 1):
            a, b = ts[j], ts[j + 1]
            mid = p1 + (a + b) / 2.0 * d
            inside = points_in_multipolygon(mid.reshape(1, 2), geom)[0] > 0
            seg_s = p1 + a * d
            seg_e = p1 + b * d
            if inside == keep_inside:
                if cur and _pts_close(cur[-1], seg_s):
                    cur.append(seg_e)
                else:
                    if len(cur) >= 2:
                        out_parts.append(cur)
                    cur = [seg_s, seg_e]
            else:
                if len(cur) >= 2:
                    out_parts.append(cur)
                cur = []
    if len(cur) >= 2:
        out_parts.append(cur)
    return [np.asarray(p) for p in out_parts]


# ----------------------------------------------------- Geometry-level API
def _geom_to_mp(geom: Geometry) -> list[list[np.ndarray]]:
    return [[_ccw(r) if i == 0 else _cw(r) for i, r in enumerate(p)] for p in geom.polygons()]


def _mp_to_geom(mp: list[list[np.ndarray]]) -> Geometry:
    mp = [p for p in mp if p]
    if not mp:
        return Geometry.empty(MULTIPOLYGON)
    if len(mp) == 1:
        return Geometry(POLYGON, mp[0])
    return Geometry(MULTIPOLYGON, mp)


def intersection(ga: Geometry, gb: Geometry) -> Geometry:
    """ST_Intersection, supporting point/line/polygon × polygon."""
    da, db = ga.dim(), gb.dim()
    if da > db:
        return intersection(gb, ga)
    # now da <= db
    if db == 2:
        if da == 2:
            return _mp_to_geom(mp_intersection(_geom_to_mp(ga), _geom_to_mp(gb)))
        if da == 1:
            parts = []
            for ls in ga.lines():
                parts.extend(clip_line_by_polygons(ls, gb, keep_inside=True))
            if not parts:
                return Geometry.empty(MULTILINESTRING)
            return Geometry(MULTILINESTRING, parts) if len(parts) > 1 else Geometry(LINESTRING, parts[0])
        pts = ga.points()
        keep = points_in_multipolygon(pts, gb) > 0
        kept = pts[keep]
        if len(kept) == 0:
            return Geometry.empty(MULTIPOINT)
        return Geometry(MULTIPOINT, kept)
    # line/point vs line/point intersections: not needed by the operator
    # surface (overlays are polygon-typed in the reference); return empty.
    return Geometry.empty(GEOMETRYCOLLECTION)


def difference(ga: Geometry, gb: Geometry) -> Geometry:
    """ST_Difference(A, B) for A of any dim, B polygonal.

    Bbox-disjoint inputs return ``ga`` ITSELF (same object): callers use
    the identity to detect "nothing was subtracted" and pass the input
    through verbatim (the reference's IFNULL(..., g1) semantics)."""
    if gb.dim() != 2 or gb.is_empty():
        return ga
    from .kernels import bounds as _bounds

    ba, bb = _bounds(ga), _bounds(gb)
    if ba[2] < bb[0] or bb[2] < ba[0] or ba[3] < bb[1] or bb[3] < ba[1]:
        return ga
    da = ga.dim()
    if da == 2:
        return _mp_to_geom(mp_difference(_geom_to_mp(ga), _geom_to_mp(gb)))
    if da == 1:
        parts = []
        for ls in ga.lines():
            parts.extend(clip_line_by_polygons(ls, gb, keep_inside=False))
        if not parts:
            return Geometry.empty(MULTILINESTRING)
        return Geometry(MULTILINESTRING, parts) if len(parts) > 1 else Geometry(LINESTRING, parts[0])
    pts = ga.points()
    keep = points_in_multipolygon(pts, gb) == 0
    kept = pts[keep]
    if len(kept) == 0:
        return Geometry.empty(MULTIPOINT)
    return Geometry(MULTIPOINT, kept)


def union_geoms(geoms: list[Geometry]) -> Geometry:
    """ST_Union aggregate over polygonal geometries; points/lines are
    collected (the reference's dissolve only unions same-dim inputs,
    ``_geoops_sql.py:4765-4771``)."""
    polys = []
    others = []
    for g in geoms:
        if g is None or g.is_empty():
            continue
        mp = _geom_to_mp(g)
        if mp:
            polys.extend(mp)
        else:
            others.append(g)
    if polys:
        return _mp_to_geom(union_all_polys(polys))
    if others:
        return Geometry.collect(others)
    return Geometry.empty(GEOMETRYCOLLECTION)
