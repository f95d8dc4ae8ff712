"""Batched polygon intersection: Greiner–Hormann across MANY ring pairs
in one set of numpy operations.

The per-pair clipper in :mod:`clip` is algorithmically fine but its cost
on parcel-sized polygons (10..40 vertices) is dominated by numpy
call overhead on tiny arrays (~25 kernel launches per pair, measured
0.64 ms/pair vs GEOS ~0.15 ms). This module amortizes that overhead over
the whole Arrow batch:

- ring prep: every distinct single-ring geometry's open ring and bbox
  come from one numpy pass over the concatenated vertices
  (:func:`_open_rings`, the ``clip._open_ring`` + ``clip._ring_bbox``
  twin);
- phase 1 (segment-pair intersection tests) runs ONCE over the
  flattened cartesian combos of every pair in the batch, through the
  scalar clipper's own crossing test (``clip._segment_crossings``);
- phase 2 (entry/exit flags) uses the parity identity: along a ring the
  entry flag strictly alternates, so flag(j-th crossing) =
  flag(first) XOR (j odd);
- phase 3 (traversal): every crossing pair, whatever its (even)
  crossing count, is walked by ONE index gather over
  ``concat(A, B, crossings)`` (:func:`_traverse_batch`): the rings are
  the cycles of two permutations of each pair's crossings, labelled and
  ranked by pointer jumping, and their vertex runs are gathered in one
  go — the rings ``clip._traverse_pair`` builds one pair at a time;
- every degeneracy the per-pair code handles by perturb-and-retry
  (collinear overlap, vertex touch, odd crossing count, point on
  boundary) routes that single pair back to
  ``clip.intersection`` — the batch path never guesses.

Each result ring's signed area is computed once, in one shoelace pass
over all the traversed rings of a sweep (:func:`_signed_areas`), and
serves the ``_MIN_AREA`` filter, the orientation and the ring assembly
(:func:`_assemble`), which skips ``clip._reassemble``'s containment
probe when it provably answers "outside" for every ring.
:func:`intersection_parts` stops at the assembled polygons, so the
overlay piece kernel writes WKB straight from them while
:func:`batch_intersection` wraps the same polygons as Geometries.

Differences run through one stepper, :func:`_subtract`: its lanes (the
rows of a batch, :func:`batch_difference_seq`, or the tiles of one
subject, ``clip._mp_difference_tiled``) subtract their blades round by
round, each round's ring pairs in shared
:func:`batch_ring_differences` sweeps.

Reference behavior being matched: GEOS ``ST_Intersection`` as used by
geofileops two-layer ops (``_geoops_sql.py:1805-2102``).
"""

from __future__ import annotations

import numpy as np

from . import clip as C
from . import geom as G
from .kernels import EPS

_MIN_AREA = C._MIN_AREA

# max (subject edge x clip edge) combos of one pair, before the window
# prune, that the batched intersection sweep takes; a bigger pair takes
# the per-pair path, which chunks its subject-edge axis itself
_MAX_COMBOS = 60_000

# max flattened combos, after the window prune, of one numpy sweep, for
# the intersection kernel and the difference stepper alike. Keep sweeps
# CACHE-sized, not merely RAM-sized: on the target VM a 2.5M-element
# sweep runs 6-20x slower than the same work in 50k-element chunks
# (fresh multi-MB temporaries page-fault; L2-resident chunks don't).
# Inside long-lived Spark Python workers bigger sweeps' multi-MB
# temporaries also bloat the allocator arenas and measurably slow every
# LATER stage run by the same workers (observed: the d21 branch of
# symmetric_difference going 13 s -> 60 s in the same session after a
# 60k-sweep d12). 12k keeps temporaries ~100 KB while still amortizing
# tens of pairs per sweep.
_SWEEP_CAP = 12_000

# how far outside a ring's bbox kernels._pir_single can still answer
# "on the boundary" (code 1) for a ring whose edges are all >= 1e-6
# long: 1e-6 across the edge's line plus 1e-6 past its ends
_PROBE_TOL = 2e-6


def _single_ring(g: G.Geometry):
    """The single exterior ring when g is a 1-polygon, 0-hole polygonal
    geometry; None otherwise (routes to the per-pair path)."""
    if g.typ == G.POLYGON:
        if len(g.data) == 1:
            return g.data[0]
        return None
    if g.typ == G.MULTIPOLYGON and len(g.data) == 1 and len(g.data[0]) == 1:
        return g.data[0][0]
    return None


def _gather_ranges(starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Indices of the ranges [starts[i], starts[i] + counts[i]), concatenated."""
    before = np.cumsum(counts) - counts
    return np.arange(int(counts.sum())) + np.repeat(starts - before, counts)


def _open_rings(rings: list):
    """``clip._open_ring`` + ``clip._ring_bbox`` of many closed rings in
    one numpy pass: the closing vertex is dropped when it is close to the
    first (``clip._pts_close``), then consecutive duplicates (L1 step
    <= EPS). Returns (O, off, cnt, bb): ring g's open ring is
    ``O[off[g]:off[g] + cnt[g]]`` and ``bb[g]`` its bbox, meaningful
    only where ``cnt[g] >= 3`` (the batch path's precondition)."""
    lens = np.fromiter(map(len, rings), dtype=np.int64, count=len(rings))
    V = np.concatenate([np.empty((0, 2))] + rings)
    start = np.cumsum(lens) - lens
    two = np.nonzero(lens > 1)[0]
    first = V[start[two]]
    last = V[start[two] + lens[two] - 1]
    close = np.zeros(len(rings), dtype=np.int64)
    close[two] = (
        np.abs(first - last) <= 1e-8 + 1e-5 * np.abs(last)
    ).all(axis=1)
    pos = np.arange(len(V)) - np.repeat(start, lens)
    keep = pos < np.repeat(lens - close, lens)
    later = np.nonzero(pos > 0)[0]
    keep[later] &= np.abs(np.diff(V, axis=0)).sum(axis=1)[later - 1] > EPS
    O = V[keep]
    cnt = np.zeros(len(rings), dtype=np.int64)
    live = np.nonzero(lens > 0)[0]
    if len(live):
        cnt[live] = np.add.reduceat(keep.astype(np.int64), start[live])
    off = np.cumsum(cnt) - cnt
    bb = np.zeros((len(rings), 4))
    nz = np.nonzero(cnt > 0)[0]
    if len(nz):
        for k, (col, red) in enumerate(
            ((0, np.minimum), (1, np.minimum), (0, np.maximum), (1, np.maximum))
        ):
            bb[nz, k] = red.reduceat(O[:, col], off[nz])
    return O, off, cnt, bb


def batch_intersection(gs1: list, gs2: list) -> list:
    """Elementwise ST_Intersection over two geometry lists. Pairs of
    simple single-ring polygons go through the batched clipper; anything
    else (holes, multis, lines, points, rects, degeneracies) uses
    ``clip.intersection`` unchanged."""
    return [
        got if isinstance(got, G.Geometry) else C._mp_to_geom(got[0])
        for got in intersection_parts(gs1, gs2)
    ]


def intersection_parts(gs1: list, gs2: list) -> list:
    """Ring-level core of :func:`batch_intersection`. Per pair, either
    the per-pair path's Geometry (a NULL input, a non-single-ring or
    rect x rect pair, a degenerate pair) or ``(polys, positive)``: the
    polygons (lists of closed rings, exterior CCW) the batched clipper
    assembled — what ``clip._reassemble`` returns for those rings — and
    whether every one of them is a single ring kept unreversed, so its
    area is the traversal's ``> _MIN_AREA`` one (when False, a caller
    that needs each polygon's area recomputes it)."""
    n = len(gs1)
    out: list = [None] * n
    if n == 0:
        return out
    # one table row per DISTINCT single-ring geometry object: after a
    # join the same (cached-decode) Geometry appears in ~k consecutive
    # pairs
    both = list(gs1) + list(gs2)
    keys = np.fromiter(map(id, both), dtype=np.int64, count=2 * n)
    _, first, inv = np.unique(keys, return_index=True, return_inverse=True)
    distinct = [both[f] for f in first.tolist()]
    rings = [None if g is None else _single_ring(g) for g in distinct]
    row = np.cumsum([r is not None for r in rings]) - 1
    row[[r is None for r in rings]] = -1
    isnull = np.array([g is None for g in distinct], dtype=bool)
    isnull = isnull[inv[:n]] | isnull[inv[n:]]
    ia, ib = row[inv[:n]], row[inv[n:]]
    cand = np.nonzero((ia >= 0) & (ib >= 0) & ~isnull)[0]
    O, off, cnt, bb = _open_rings([r for r in rings if r is not None])
    rect = np.zeros(len(cnt), dtype=bool)
    for g in np.nonzero(cnt == 4)[0].tolist():
        rect[g] = C._as_rect(O[off[g] : off[g] + 4]) is not None
    ga, gb = ia[cand], ib[cand]
    na, nb = cnt[ga], cnt[gb]
    win = np.concatenate(
        [np.maximum(bb[ga, :2], bb[gb, :2]), np.minimum(bb[ga, 2:], bb[gb, 2:])],
        axis=1,
    )
    # bboxes sharing at most a measure-zero strip: interiors disjoint
    empty = (
        (na < 3) | (nb < 3)
        | (win[:, 2] - win[:, 0] <= 0.0) | (win[:, 3] - win[:, 1] <= 0.0)
    )
    # rect x rect: exact algebra in the per-pair path. One huge pair
    # would blow the sweep's memory bound on its own (_MAX_COMBOS only
    # bounds ACROSS pairs): the per-pair path chunks its subject-edge
    # axis internally, so route it there
    batch = ~empty & ~(rect[ga] & rect[gb]) & (na * nb <= _MAX_COMBOS)
    for i in np.nonzero(isnull)[0].tolist():
        out[i] = G.Geometry.empty(G.GEOMETRYCOLLECTION)
    for i in cand[empty].tolist():
        out[i] = ([], True)
    fallback = np.ones(n, dtype=bool)
    fallback[isnull] = False
    fallback[cand[empty | batch]] = False
    for i in np.nonzero(fallback)[0].tolist():
        out[i] = C.intersection(gs1[i], gs2[i])

    idxs = cand[batch]
    ga, gb = ga[batch], gb[batch]
    na, nb = cnt[ga], cnt[gb]
    A = O[_gather_ranges(off[ga], na)]
    B = O[_gather_ranges(off[gb], nb)]
    keptA, ka, keptB, kb = _window_prune(A, na, B, nb, win[batch])
    a_at, b_at = np.cumsum(np.r_[0, na]), np.cumsum(np.r_[0, nb])
    ka_at, kb_at = np.cumsum(np.r_[0, ka]), np.cumsum(np.r_[0, kb])
    for lo, hi in _sweep_groups((ka * kb).tolist(), _SWEEP_CAP):
        kept = (
            keptA[ka_at[lo]:ka_at[hi]] - a_at[lo], ka[lo:hi],
            keptB[kb_at[lo]:kb_at[hi]] - b_at[lo], kb[lo:hi],
        )
        res, areas = _ring_ops(
            A[a_at[lo]:a_at[hi]], na[lo:hi], B[b_at[lo]:b_at[hi]], nb[lo:hi],
            kept, "intersection",
        )
        done = [k for k, r in enumerate(res) if r is not None]
        polys = _assemble([res[k] for k in done], [areas[k] for k in done])
        for k, got in zip(done, polys):
            out[idxs[lo + k]] = got
        for k, r in enumerate(res):
            if r is None:
                i = idxs[lo + k]
                out[i] = C.intersection(gs1[i], gs2[i])
    return out


def _sweep_groups(weights: list, cap: int) -> list:
    """``[lo, hi)`` runs of consecutive pairs, one numpy sweep each,
    whose combo ``weights`` add up to at most ``cap`` (a pair heavier
    than ``cap`` on its own gets a run of its own)."""
    groups: list[tuple[int, int]] = []
    start = combos = 0
    for k, c in enumerate(weights):
        if combos and combos + c > cap:
            groups.append((start, k))
            start, combos = k, 0
        combos += c
    if start < len(weights):
        groups.append((start, len(weights)))
    return groups


def _assemble(results: list, areas: list) -> list:
    """``(clip._reassemble(rings), positive)`` for each pair's closed
    result rings (already past the ``_MIN_AREA`` filter), from their
    signed ``areas`` (see :func:`intersection_parts` for ``positive``).
    The containment probe only runs for a pair whose rings may nest
    (:func:`_maybe_nested`); otherwise every ring is its own polygon, in
    ring order — the probe's answer when it finds no containment."""
    multi = [k for k, rings in enumerate(results) if len(rings) > 1]
    nested = set()
    if multi:
        flags = _maybe_nested([results[k] for k in multi])
        nested = {k for k, f in zip(multi, flags.tolist()) if f}
    out = []
    for k, (rings, ar) in enumerate(zip(results, areas)):
        if k in nested:
            out.append((C._reassemble(rings), False))
        else:
            out.append((
                [[r if a > 0 else r[::-1].copy()] for r, a in zip(rings, ar)],
                all(a > 0 for a in ar),
            ))
    return out


def _maybe_nested(ring_sets: list) -> np.ndarray:
    """Per set of closed rings: False only when ``clip._reassemble``'s
    probe of each ring's first vertex against every other ring of the
    set must answer 0 (outside) — no first vertex lies within another
    ring's bbox grown by :data:`_PROBE_TOL` (plus the coordinate
    subtraction's rounding), and every edge is at least sqrt(EPS) long:
    on a shorter edge ``_pir_single``'s on-boundary band grows past that
    tolerance. One numpy pass over all the sets' rings."""
    counts = np.fromiter(map(len, ring_sets), dtype=np.int64, count=len(ring_sets))
    rings = [r for rs in ring_sets for r in rs]
    owner = np.repeat(np.arange(len(ring_sets)), counts)
    lens = np.fromiter(map(len, rings), dtype=np.int64, count=len(rings))
    V = np.concatenate(rings)
    start = np.cumsum(lens) - lens
    lo = np.stack([np.minimum.reduceat(V[:, c], start) for c in (0, 1)], axis=1)
    hi = np.stack([np.maximum.reduceat(V[:, c], start) for c in (0, 1)], axis=1)
    first = V[start]
    d = np.diff(V, axis=0)
    seg2 = np.append((d * d).sum(axis=1), np.inf)
    seg2[start[1:] - 1] = np.inf  # the step from one ring into the next
    nested = np.zeros(len(ring_sets), dtype=bool)
    nested[owner[np.minimum.reduceat(seg2, start) < EPS]] = True
    tol = _PROBE_TOL + 1e-15 * float(np.abs(V).max())
    # every (ring i, other ring j of the same set)
    set_start = np.cumsum(counts) - counts
    I = np.repeat(np.arange(len(rings)), counts[owner])
    J = _gather_ranges(set_start[owner], counts[owner])
    ok = I != J
    I, J = I[ok], J[ok]
    near = (
        (first[I] >= lo[J] - tol) & (first[I] <= hi[J] + tol)
    ).all(axis=1)
    nested[owner[I[near]]] = True
    return nested


# sentinel result from batch_ring_differences: the pair had no boundary
# contact and no containment — the subject ring is the answer, unchanged.
# The difference stepper keeps the piece it has (polygon, bbox and open
# ring) instead of reassembling an identical copy; measured ~48% of all
# (piece, blade) pairs in the complex-difference kernel end here.
UNCHANGED = object()


class Holed:
    """batch_ring_differences result marker: the clip ring lies strictly
    inside the subject (no boundary contact) — the answer is the subject
    with ``hole`` punched in. The difference stepper DEFERS the hole
    (:class:`_Piece`'s ``holes``) instead of attaching it: attaching
    would make the piece multi-ring and exile it to the per-pair path
    for every later blade (measured: 96% of the tiled kernel's per-pair
    fallbacks were such holed pieces). ``hole`` is the closed clip ring
    already wound opposite to the subject
    (clip._no_intersection_fallback's construction)."""

    __slots__ = ("hole",)

    def __init__(self, hole):
        self.hole = hole


def batch_ring_differences(pairs, windows=None):
    """Difference (subject − clip) of many open-ring pairs, see
    :func:`_ring_ops`: the difference stepper (:func:`_subtract`) runs
    each round's (piece, blade) pairs through here. Per pair, the closed
    result rings, :data:`UNCHANGED` for a disjoint pair (instead of a
    rebuilt copy of the subject), a :class:`Holed` marker for a clip
    strictly inside the subject, or None for a degenerate pair (it takes
    the per-pair path)."""
    return _batch_ring_ops(pairs, windows, op="difference")[0]


def _batch_ring_ops(pairs, windows=None, op="intersection"):
    """:func:`_ring_ops` over a list of (open subject ring, open clip
    ring) pairs, pruned to ``windows`` (see :func:`_window_prune`) when
    given."""
    n = np.fromiter((len(p[0]) for p in pairs), dtype=np.int64, count=len(pairs))
    m = np.fromiter((len(p[1]) for p in pairs), dtype=np.int64, count=len(pairs))
    A = np.concatenate([p[0] for p in pairs])
    B = np.concatenate([p[1] for p in pairs])
    kept = None if windows is None else _window_prune(A, n, B, m, windows)
    return _ring_ops(A, n, B, m, kept, op)


def _next_edges(V, counts):
    """Per-ring "next vertex" (circular) indices and edge vectors of the
    open rings given flat in ``V``, ``counts[p]`` rows each."""
    start = np.cumsum(counts) - counts
    nxt = np.arange(1, len(V) + 1)
    nxt[start + counts - 1] = start
    return nxt, V[nxt] - V


def _window_prune(A, n, B, m, windows):
    """The edges of each pair's rings (given flat, as in
    :func:`_ring_ops`) whose own bbox meets the pair's (slightly grown)
    bbox-overlap window ``windows[p]``: every boundary contact (proper
    crossing, touch, collinear overlap) lies inside both rings' bboxes,
    so the other edges are pruned before the cartesian combos are built
    — on parcel-shaped rings this cuts combos ~5-15x. (Valid for every
    op: a contact point lies on BOTH boundaries, hence inside both
    bboxes, hence inside their overlap window; difference/union result
    portions outside the window are copied from the full rings during
    traversal, never from the pruned edge set.) Returns ``(keptA, ka,
    keptB, kb)``: the kept edges' flat indices into ``A``/``B``, pair
    by pair, and how many each pair keeps."""
    P = len(n)
    grow = 1e-7 * np.maximum(1.0, np.abs(windows).max(axis=1))
    w0 = windows[:, 0] - grow
    w1 = windows[:, 1] - grow
    w2 = windows[:, 2] + grow
    w3 = windows[:, 3] + grow

    def _kept(V, counts):
        dV = _next_edges(V, counts)[1]
        p_of = np.repeat(np.arange(P), counts)
        x0 = np.minimum(V[:, 0], V[:, 0] + dV[:, 0])
        x1 = np.maximum(V[:, 0], V[:, 0] + dV[:, 0])
        y0 = np.minimum(V[:, 1], V[:, 1] + dV[:, 1])
        y1 = np.maximum(V[:, 1], V[:, 1] + dV[:, 1])
        keep = (
            (x0 <= w2[p_of])
            & (x1 >= w0[p_of])
            & (y0 <= w3[p_of])
            & (y1 >= w1[p_of])
        )
        kept = np.nonzero(keep)[0]
        kcnt = np.zeros(P, dtype=np.int64)
        nz = np.nonzero(counts > 0)[0]
        if len(nz):
            offs = np.concatenate(([0], np.cumsum(counts)))[:-1]
            kcnt[nz] = np.add.reduceat(keep.astype(np.int64), offs[nz])
        return kept, kcnt

    return (*_kept(A, n), *_kept(B, m))


def _ring_ops(A, n, B, m, kept=None, op="intersection"):
    """Boolean op over many (open subject ring, open clip ring) pairs,
    given flat: pair p's subject ring is the ``n[p]`` rows of ``A`` after
    those of the pairs before it, its clip ring likewise in ``B``/``m``.
    Returns ``(results, areas)``: per pair, a list of closed result
    rings — or None when that pair hit a degeneracy and must take the
    per-pair fallback — and, for a ring list, the rings' signed areas.

    ``kept``, when given, is :func:`_window_prune`'s answer for these
    pairs: only the kept edges enter the cartesian combos.

    ``op``: "intersection" (GH flags True,True) or "difference"
    (False,True — subject minus clip), mirroring ``clip._ring_op``.

    The phases are ``clip._gh_clip``'s, each run once for all pairs:
    ``clip._segment_crossings`` on the flat combos (any degeneracy, or
    an odd crossing count, marks the pair for the per-pair fallback),
    the two first-vertex tests batched, and one :func:`_traverse_batch`
    walk over every pair with crossings — no pair is walked on its
    own."""
    s_entry, c_entry = {
        "intersection": (True, True),
        "difference": (False, True),
    }[op]
    P = len(n)
    aoff = np.cumsum(n) - n
    boff = np.cumsum(m) - m

    # per-ring "next vertex" (circular) edge vectors, flattened
    d1 = _next_edges(A, n)[1]
    nxt_b, d2 = _next_edges(B, m)
    B_end = B[nxt_b]
    s1len = np.maximum(np.abs(d1).sum(axis=1), EPS)
    s2len = np.maximum(np.abs(d2).sum(axis=1), EPS)

    if kept is not None:
        keptA, ka, keptB, kb = kept
    else:
        keptA = np.arange(len(A))
        keptB = np.arange(len(B))
        ka, kb = n, m

    # flattened combos over the KEPT edges only; si/ci stay flat indices
    # into the full A/B so everything downstream is unchanged
    N = ka * kb
    T = int(N.sum())
    pair_of = np.repeat(np.arange(P), N)
    cstart = np.concatenate([[0], np.cumsum(N)])
    within = np.arange(T) - cstart[pair_of]
    kb_rep = np.maximum(kb, 1)[pair_of]
    kaoff = np.concatenate(([0], np.cumsum(ka)))[:-1]
    kboff = np.concatenate(([0], np.cumsum(kb)))[:-1]
    si = keptA[kaoff[pair_of] + within // kb_rep]
    ci = keptB[kboff[pair_of] + within % kb_rep]

    A_si = A[si]
    d1_si = d1[si]
    bad, hits, t, u = C._segment_crossings(
        A_si, d1_si, s1len[si], B[ci], d2[ci], s2len[ci], B_end[ci]
    )
    # reduceat misbehaves on zero-length segments (fully pruned pairs):
    # reduce only over pairs that still have combos
    nzp = np.nonzero(N > 0)[0]
    degen = np.zeros(P, dtype=bool)
    nx_per_pair = np.zeros(P, dtype=np.int64)
    if len(nzp):
        degen[nzp] = np.add.reduceat(bad, cstart[:-1][nzp]) > 0
        nx_per_pair[nzp] = np.add.reduceat(
            hits.astype(np.int64), cstart[:-1][nzp]
        )
    degen |= (nx_per_pair % 2) == 1

    # phase 2 seed: first subject vertex in clip ring / first clip vertex
    # in subject ring (exact _point_in_ring_strict twin, batched)
    a0 = A[aoff]
    b0 = B[boff]
    in_a0, on_a0 = _batch_point_in_ring(a0, B, d2, boff, m)
    in_b0, on_b0 = _batch_point_in_ring(b0, A, d1, aoff, n)
    degen |= on_a0 | on_b0

    results: list = [None] * P
    areas: list = [None] * P
    live = ~degen
    # no boundary intersections at all: containment or disjoint.
    # Degeneracy-free => any vertex decides containment exactly.
    zero = live & (nx_per_pair == 0)
    for p in np.nonzero(zero & ~in_a0 & ~in_b0)[0].tolist():
        if op == "difference":
            results[p] = UNCHANGED
        else:
            results[p], areas[p] = [], []
    traced: list = []  # (pair, closed rings before the _MIN_AREA filter)
    for p in np.nonzero(zero & (in_a0 | in_b0))[0].tolist():
        a = A[aoff[p] : aoff[p] + n[p]]
        b = B[boff[p] : boff[p] + m[p]]
        if op == "difference":
            if in_a0[p]:
                results[p], areas[p] = [], []
            else:
                # clip strictly inside subject: the subject keeps its
                # ring, the clip becomes a hole wound opposite (same
                # construction as clip._no_intersection_fallback)
                closed_a = np.vstack([a, a[:1]])
                hole = np.vstack([b, b[:1]])[::-1].copy()
                if C.ring_signed_area(hole) * C.ring_signed_area(closed_a) > 0:
                    hole = hole[::-1].copy()
                results[p] = Holed(hole)
        else:
            traced.append((p, [np.vstack([a, a[:1]] if in_a0[p] else [b, b[:1]])]))
    walk = live & (nx_per_pair > 0)
    if walk.any():
        # every crossing of the walked pairs, grouped by pair
        hit_idx = np.nonzero(hits)[0]
        hit_idx = hit_idx[walk[pair_of[hit_idx]]]
        h_t = t[hit_idx]
        X = A_si[hit_idx] + h_t[:, None] * d1_si[hit_idx]
        hp = pair_of[hit_idx]
        rings, ring_pair = _traverse_batch(
            A, aoff, n, B, boff, m, hp,
            si[hit_idx] - aoff[hp], ci[hit_idx] - boff[hp], h_t, u[hit_idx], X,
            in_a0 ^ s_entry, in_b0 ^ c_entry,
        )
        cut = (np.flatnonzero(np.diff(ring_pair)) + 1).tolist()
        lo, hi = [0] + cut, cut + [len(rings)]
        traced += zip(ring_pair[lo].tolist(), (rings[i:j] for i, j in zip(lo, hi)))
    flat = [r for _, rings in traced for r in rings]
    if flat:
        each = iter(_signed_areas(flat).tolist())
        for p, rings in traced:
            kept, kept_a = [], []
            for r in rings:
                a = next(each)
                if abs(a) > _MIN_AREA:
                    kept.append(r)
                    kept_a.append(a)
            results[p], areas[p] = kept, kept_a
    return results, areas


def _signed_areas(rings: list) -> np.ndarray:
    """Signed shoelace areas of many closed rings in one numpy pass.
    The sum order differs from ``kernels.ring_signed_area``'s ``np.dot``,
    so a value may differ from that function's in the last bits; every
    ring whose sign or comparison with ``_MIN_AREA`` lies within the
    rounding bound of either sum takes ``ring_signed_area``'s value, so
    the decisions taken from these areas (orientation, ``_MIN_AREA``
    filter) are exactly the per-ring ones."""
    lens = np.fromiter(map(len, rings), dtype=np.int64, count=len(rings))
    V = np.concatenate(rings)
    start = np.cumsum(lens) - lens
    x, y = V[:, 0], V[:, 1]
    t1 = np.append(x[:-1] * y[1:], 0.0)
    t2 = np.append(x[1:] * y[:-1], 0.0)
    t1[start + lens - 1] = 0.0  # the step from one ring into the next
    t2[start + lens - 1] = 0.0
    area = 0.5 * (np.add.reduceat(t1, start) - np.add.reduceat(t2, start))
    # any summation order is within (len * 2^-53) * sum|terms| of the
    # exact sum; 4x covers both sums, the products and the subtraction
    err = (4.0 * 2.0**-53) * (lens + 2) * np.add.reduceat(
        np.abs(t1) + np.abs(t2), start
    )
    mag = np.abs(area)
    for i in np.nonzero((mag <= err) | (np.abs(mag - _MIN_AREA) <= err))[0].tolist():
        area[i] = C.ring_signed_area(rings[i])
    return area


def _traverse_batch(A, aoff, n, B, boff, m, hp, h_si, h_ci, h_t, h_u, X,
                    fwd_s, fwd_c):
    """``clip._traverse_pair`` for many pairs at once, in ONE index gather
    over ``concat(A, B, X)``. Crossing h of pair ``hp[h]`` (hits grouped
    by pair) lies on subject edge ``h_si[h]`` at ``h_t[h]`` and clip edge
    ``h_ci[h]`` at ``h_u[h]``, at ``X[h]``; per pair, ``fwd_s``/``fwd_c``
    are ``inside(first vertex) ^ op flag`` of the subject/clip ring, the
    entry flag of the first crossing along each ring.

    With parity entry flags the subject step S pairs each crossing with
    its neighbour in sorted subject order (an entry j with j + 1, ties
    stable like ``sorted``), the clip step C likewise in clip order. Both
    are fixed-point-free involutions, so their union splits the crossings
    into alternating cycles x, S x, C S x, ... of even length 2L: the
    walk's rings. A ring's subject-side crossings form one cycle of
    π = C∘S (length L <= k/2), its clip-side ones that cycle's S-image.
    Pointer jumping labels every π-cycle with its least subject rank; a
    ring starts from the least subject rank of its two cycles, as the
    scalar walk starts from the first unprocessed crossing, and is ranked
    along π from there. Returns ``(rings, ring_pair)``: the closed rings
    — the rings ``clip._traverse_pair`` builds, in its order, as views of
    one array — and each ring's pair, ascending.
    """
    H = len(hp)
    idx_h = np.arange(H)
    start = np.searchsorted(hp, hp)  # first crossing of each one's pair
    k = np.searchsorted(hp, hp, side="right") - start

    def step(order, fwd):
        # rank of each crossing along its ring, and its neighbour there:
        # forward from an entry, backward from an exit (wrapping)
        rank = np.empty(H, dtype=np.int64)
        rank[order] = idx_h - start
        fw = fwd[hp] ^ (rank % 2 == 1)
        to = order[start + (rank + 2 * fw - 1) % k]
        return rank, fw, to

    order_s = np.lexsort((h_t, h_si, hp))
    rank_s, fw_s, S = step(order_s, fwd_s)
    rank_c, fw_c, C_ = step(np.lexsort((h_u, h_ci, hp)), fwd_c)
    pi = C_[S]
    # each π-cycle's least subject rank: r rounds cover 2^r >= L crossings
    half = int(k.max()) // 2
    lab = rank_s.copy()
    nxt = pi
    span = 1
    while span < half:
        lab = np.minimum(lab, lab[nxt])
        nxt = nxt[nxt]
        span *= 2
    walked = lab < lab[S]  # the cycle holding its ring's least rank
    # distance along π to the cycle's last crossing before its start
    last = rank_s[pi] == lab
    dist = (~last).astype(np.int64)
    nxt = np.where(last, idx_h, pi)
    span = 1
    while span < half:
        dist = dist + dist[nxt]
        nxt = nxt[nxt]
        span *= 2
    w = np.nonzero(walked)[0]
    x = w[np.lexsort((-dist[w], lab[w], hp[w]))]  # ring by ring, in walk order
    sx = S[x]
    p = hp[x]

    def run(rank, fw, to, h_e, cnt, h):
        # start, length and step of the ring's vertices from crossing h's
        # edge h_e[h] to crossing to[h]'s, wrapping past vertex 0 when the
        # step passes the last rank
        sg = 2 * fw[h] - 1
        d = h_e[to[h]] - h_e[h]
        ln = np.where(sg * (rank[to[h]] - rank[h]) > 0, sg * d, cnt + sg * d)
        return h_e[h] + fw[h], ln, sg

    s_st, s_len, s_step = run(rank_s, fw_s, S, h_si, n[p], x)
    c_st, c_len, c_step = run(rank_c, fw_c, C_, h_ci, m[p], sx)
    W = len(x)
    one = np.ones(W, dtype=np.int64)
    nil = np.zeros(W, dtype=np.int64)
    xb = len(A) + len(B)
    # five runs per crossing: it, the subject run, S of it, the clip
    # run, and (after a ring's last crossing only) the ring's start
    first = order_s[start[x] + lab[x]]
    closes = dist[x] == 0
    base = np.stack([xb + x, aoff[p], xb + sx, len(A) + boff[p], xb + first], 1)
    st = np.stack([nil, s_st, nil, c_st, nil], 1)
    ln = np.stack([one, s_len, one, c_len, closes.astype(np.int64)], 1)
    stp = np.stack([nil, s_step, nil, c_step, nil], 1)
    mod = np.stack([one, n[p], one, m[p], one], 1)
    ln = ln.ravel()
    r = np.repeat(np.arange(5 * W), ln)
    q = np.arange(len(r)) - np.repeat(np.cumsum(ln) - ln, ln)
    idx = base.ravel()[r] + (st.ravel()[r] + stp.ravel()[r] * q) % mod.ravel()[r]
    ring_all = np.concatenate([A, B, X])[idx]
    ends = np.cumsum(ln.reshape(W, 5).sum(axis=1))[closes].tolist()
    rings = [ring_all[s:e] for s, e in zip([0] + ends[:-1], ends)]
    return rings, p[closes]


def _batch_point_in_ring(pts, V, dV, off, cnt):
    """For each pair p, test pts[p] against ring p (vertices V[off:off+cnt]
    with precomputed edge vectors dV). Returns (inside, on_boundary) —
    tolerances identical to clip._point_in_ring_strict."""
    P = len(pts)
    pair_of = np.repeat(np.arange(P), cnt)
    x = pts[pair_of, 0]
    y = pts[pair_of, 1]
    x1 = V[:, 0]
    y1 = V[:, 1]
    dx = dV[:, 0]
    dy = dV[:, 1]
    ex = x - x1
    ey = y - y1
    cross = ex * dy - ey * dx
    seg_len2 = dx * dx + dy * dy
    on_line = cross * cross <= (EPS * 1e6) ** 2 * np.maximum(seg_len2, EPS)
    dot = ex * dx + ey * dy
    on_seg = on_line & (dot >= -EPS) & (dot <= seg_len2 + EPS)
    starts = np.concatenate([[0], np.cumsum(cnt)])[:-1]
    on_boundary = np.add.reduceat(on_seg, starts) > 0
    y2 = y1 + dy
    cond = (y1 > y) != (y2 > y)
    with np.errstate(divide="ignore", invalid="ignore"):
        xints = x1 + (y - y1) * dx / np.where(dy == 0, np.inf, dy)
    crossed = cond & (x < xints)
    inside = (np.add.reduceat(crossed, starts) % 2) == 1
    return inside, on_boundary


class _Blade:
    """One entry of a lane's blade list: a polygon ``poly`` (closed
    rings), its exterior bbox, its open exterior ring when the sweep can
    take it (one ring of >= 3 vertices; None otherwise) and whether that
    ring is an axis rectangle. A ``whole`` entry is a many-part blade:
    ``poly`` is its list of polygons and ``bb`` its bounds, and
    ``clip.mp_difference`` subtracts it in one go."""

    __slots__ = ("poly", "bb", "ring", "rect", "whole")

    def __init__(self, poly, bb=None, whole=False):
        self.poly = poly
        self.whole = whole
        self.bb = C._poly_bbox(poly) if bb is None else bb
        ring = None if whole or len(poly) != 1 else C._open_ring(poly[0])
        self.ring = ring if ring is not None and len(ring) >= 3 else None
        self.rect = self.ring is not None and C._as_rect(self.ring) is not None


class _Piece:
    """One polygon of a lane being cut: ``poly`` (closed rings, exterior
    CCW), its exterior bbox, its open exterior ring (made on first use,
    :meth:`open`) and ``holes``, the deferred hole rings of the blades it
    swallowed (:class:`Holed`)."""

    __slots__ = ("poly", "bb", "holes", "_open")

    def __init__(self, poly, bb=None, holes=(), ring=False):
        self.poly = poly
        self.bb = C._poly_bbox(poly) if bb is None else bb
        self.holes = holes
        self._open = ring

    def open(self):
        """The open exterior ring the sweep takes; None for a piece with
        holes of its own or with fewer than 3 vertices."""
        if self._open is False:
            ring = C._open_ring(self.poly[0]) if len(self.poly) == 1 else None
            self._open = ring if ring is not None and len(ring) >= 3 else None
        return self._open

    def full(self):
        """The polygon with its deferred holes attached."""
        return [self.poly[0], *self.holes] if self.holes else self.poly


def _cut(p: _Piece, b: _Blade) -> list:
    """``p − b`` by the exact per-pair path (``clip.poly_difference``)."""
    full = p.full()
    return [
        _Piece(q, p.bb if q is full else None)
        for q in C.poly_difference(full, b.poly)
    ]


def _defer(p: _Piece, hole, b: _Blade, later: list) -> list:
    """``p − b`` for a blade strictly inside ``p``: the hole is deferred,
    which keeps the piece single-ring and batchable. When a later blade
    of the lane overlaps ``b``'s bbox it could cut the piece into the
    hole's region, and attaching the hole at the end would no longer be
    a plain ring append: then it is attached now (the piece takes the
    per-pair path from there)."""
    hb = b.bb
    for c in later:
        if c.bb[0] <= hb[2] and c.bb[2] >= hb[0] and c.bb[1] <= hb[3] and c.bb[3] >= hb[1]:
            return [_Piece([*p.full(), hole], p.bb)]
    return [_Piece(p.poly, p.bb, p.holes + (hole,), p._open)]


def _place_holes(new: list, holes: tuple) -> bool:
    """Hand each deferred hole to the piece of ``new`` strictly
    containing it (the probe ``clip._subtract_ring`` uses for a piece's
    old holes). False when a hole has no such piece, which the
    :func:`_defer` guard rules out; the caller then takes the per-pair
    path."""
    from .kernels import points_in_ring

    for h in holes:
        hx, hy = float(h[0, 0]), float(h[0, 1])
        for t, q in enumerate(new):
            if not (q.bb[0] <= hx <= q.bb[2] and q.bb[1] <= hy <= q.bb[3]):
                continue
            code = points_in_ring(h[0:1], q.poly[0])[0]
            if code == 1:
                code = 2 if (points_in_ring(h[:-1], q.poly[0]) == 2).any() else 0
            if code == 2:
                new[t] = _Piece(q.poly, q.bb, q.holes + (h,), q._open)
                break
        else:
            return False
    return True


def _edges_in_window(r: np.ndarray, w) -> int:
    """Edges of the open ring ``r`` (the closing one included) whose bbox
    meets the window ``w``: an upper bound on the sweep's combos for ``r``
    after the window prune, and 0 when no boundary contact is possible."""
    x1, y1 = r[:, 0], r[:, 1]
    x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
    return int((
        (np.maximum(x1, x2) >= w[0]) & (np.minimum(x1, x2) <= w[2])
        & (np.maximum(y1, y2) >= w[1]) & (np.minimum(y1, y2) <= w[3])
    ).sum())


def _subtract(lanes: list) -> list:
    """The difference stepper behind the tiled difference
    (``clip._mp_difference_tiled``, a lane per tile) and
    :func:`batch_difference_seq` (a lane per row). A lane is ``(polys,
    blades)``: the polygons of one subject and the :class:`_Blade` list
    to subtract from them, in order. Round r subtracts every live lane's
    r-th blade from each of its pieces, and the (piece, blade) ring pairs
    of ALL lanes share :func:`batch_ring_differences` sweeps: per-pair
    numpy overhead on these small rings was the measured 90% of the
    difference kernels. Each lane keeps its blade order, so every
    intermediate region is that of a plain sequential loop. Returns the
    polygons each lane has left.

    One policy per (piece, blade) pair:

    - a piece whose bbox misses the blade's, or meets it only in a
      measure-zero strip, is unchanged (``clip._ring_op``'s strip exit);
    - a piece with holes of its own, a holed blade, a rect x rect pair
      (exact rect algebra), a pair over :data:`_SWEEP_CAP` and a
      degenerate pair take the exact per-pair path
      (``clip.poly_difference``); a whole blade takes
      ``clip.mp_difference`` for all of the lane's pieces;
    - a >= 64-vertex piece weighs only its edges near the overlap
      window, and none there means no boundary contact, decided without
      a sweep (``clip._ring_op``'s big-ring fast path);
    - a blade strictly inside a piece becomes a deferred hole
      (:func:`_defer`)."""
    pieces = [[_Piece(p) for p in polys] for polys, _ in lanes]
    blades = [b for _, b in lanes]
    live = [k for k in range(len(lanes)) if pieces[k] and blades[k]]
    r = 0
    while live:
        repl: dict[int, dict[int, list]] = {}
        pairs, windows, weights, refs = [], [], [], []
        for k in live:
            b, cur = blades[k][r], pieces[k]
            if b.whole:
                # the gate of the loop's clip.difference: the bounds of
                # what is left of the subject
                if not (
                    max(p.bb[2] for p in cur) < b.bb[0]
                    or b.bb[2] < min(p.bb[0] for p in cur)
                    or max(p.bb[3] for p in cur) < b.bb[1]
                    or b.bb[3] < min(p.bb[1] for p in cur)
                ):
                    pieces[k] = [
                        _Piece(q)
                        for q in C.mp_difference([p.full() for p in cur], b.poly)
                    ]
                continue
            rmap = repl[k] = {}
            for i, p in enumerate(cur):
                w = (
                    max(p.bb[0], b.bb[0]), max(p.bb[1], b.bb[1]),
                    min(p.bb[2], b.bb[2]), min(p.bb[3], b.bb[3]),
                )
                if w[2] <= w[0] or w[3] <= w[1]:
                    continue
                a = p.open()
                if (
                    a is None or b.ring is None
                    or (b.rect and len(a) == 4 and C._as_rect(a) is not None)
                ):
                    rmap[i] = _cut(p, b)
                    continue
                weight = len(a) * len(b.ring)
                if len(a) >= 64:
                    ka = _edges_in_window(a, w)
                    if ka == 0:
                        res = C._no_intersection_fallback(
                            a, b.ring, "difference", (p.bb, b.bb)
                        )
                        if not res:
                            rmap[i] = []  # swallowed by the blade
                        elif len(res) == 2:
                            rmap[i] = _defer(p, res[1], b, blades[k][r + 1 :])
                        continue
                    weight = ka * len(b.ring)
                if weight > _SWEEP_CAP:
                    rmap[i] = _cut(p, b)
                    continue
                pairs.append((a, b.ring))
                windows.append(w)
                weights.append(weight)
                refs.append((k, i))
        for lo, hi in _sweep_groups(weights, _SWEEP_CAP):
            res = batch_ring_differences(
                pairs[lo:hi], np.asarray(windows[lo:hi], dtype=np.float64)
            )
            for (k, i), rings in zip(refs[lo:hi], res):
                if rings is UNCHANGED:
                    continue
                p, b = pieces[k][i], blades[k][r]
                if isinstance(rings, Holed):
                    repl[k][i] = _defer(p, rings.hole, b, blades[k][r + 1 :])
                elif rings is None:
                    repl[k][i] = _cut(p, b)  # its perturb-and-retry ladder
                else:
                    new = [_Piece(q) for q in C._reassemble(rings)]
                    repl[k][i] = new if _place_holes(new, p.holes) else _cut(p, b)
        for k, rmap in repl.items():
            if rmap:
                pieces[k] = [
                    q for i, p in enumerate(pieces[k]) for q in rmap.get(i, (p,))
                ]
        r += 1
        live = [k for k in live if pieces[k] and r < len(blades[k])]
    return [[p.full() for p in cur] for cur in pieces]


def batch_difference_seq(subjects: list, blade_lists: list) -> list:
    """Elementwise sequential difference over one Arrow batch: row i's
    result is ``subjects[i] − blades[0] − blades[1] − …``, the polygons
    a loop of ``clip.difference`` calls returns (the
    ``overlay._combine_rows('difference')`` hot path), byte for byte but
    for the order of a polygon's holes: here they come in blade order,
    while the loop's per-pair path may rotate them. Each polygonal
    row is one lane of the difference stepper (:func:`_subtract`); its
    blade list holds the parts of the row's blades whose bounds meet the
    subject's, a ≥16-part blade as one whole entry (``clip.mp_difference``
    tiles it). A row with a non-polygonal subject runs the loop itself.

    Returns one entry per row; the entry IS ``subjects[i]`` (same object)
    when no blade passed the subject's bbox gate, matching
    ``clip.difference``'s pass-through identity contract."""
    from .kernels import bounds

    out = list(subjects)
    rows, lanes = [], []
    for i, (g1, g2s) in enumerate(zip(subjects, blade_lists)):
        if g1.dim() != 2:
            for g2 in g2s:
                out[i] = C.difference(out[i], g2)
                if out[i].is_empty():
                    break
            continue
        ba = bounds(g1)
        entries = []
        for g2 in g2s:
            if g2.dim() != 2 or g2.is_empty():
                continue
            bb = bounds(g2)
            if ba[2] < bb[0] or bb[2] < ba[0] or ba[3] < bb[1] or bb[3] < ba[1]:
                continue
            mb = C._geom_to_mp(g2)
            if len(mb) >= C._TILED_DIFF_MIN_BLADES:
                entries.append(_Blade(mb, bb, whole=True))
            else:
                entries.extend(map(_Blade, mb))
        if entries:
            rows.append(i)
            lanes.append((C._geom_to_mp(g1), entries))
    for i, polys in zip(rows, _subtract(lanes)):
        out[i] = C._mp_to_geom(polys)
    return out


def ring_box_clip(g: G.Geometry, x0: float, y0: float, x1: float, y1: float):
    """Intersection of a single-ring polygon with an axis box through the
    batched sweep — the :func:`transform.subdivide` splitting kernel.
    The per-pair clipper tests every (ring edge, box edge) pair, so
    halving a 300k-coord ring cost seconds per cut (measured 236 s to
    subdivide 12 such rings with the former node-list clipper); here the
    window prune keeps only the ring edges inside the box and the whole
    cut is a few numpy sweeps.

    Returns the clipped Geometry, or None when the pair is degenerate or
    not a simple single ring (caller falls back to the exact path)."""
    r = _single_ring(g)
    if r is None:
        return None
    a = C._open_ring(r)
    if len(a) < 3:
        return G.Geometry.empty(G.MULTIPOLYGON)
    bb = C._ring_bbox(a)
    w = (max(bb[0], x0), max(bb[1], y0), min(bb[2], x1), min(bb[3], y1))
    if w[0] > w[2] or w[1] > w[3]:
        return G.Geometry.empty(G.MULTIPOLYGON)
    b = np.array(
        [[x0, y0], [x1, y0], [x1, y1], [x0, y1]], dtype=np.float64
    )
    res, areas = _batch_ring_ops([(a, b)], np.asarray([w], dtype=np.float64))
    if res[0] is None:
        return None
    return C._mp_to_geom(_assemble(res, areas)[0][0])
