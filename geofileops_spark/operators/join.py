"""Spatial join family: join_by_location, export_by_location,
export_by_distance, join_nearest, equi join, delete_duplicate_geometries.

Spark-first re-expression of geofileops' theta-joins
(``_geoops_sql.py:2105-2697`` and ``:1541-1802``): every join is a
cell-equi hash join (celljoin.py) + exact-predicate refine; kNN is a
cell-ring-expansion join + window top-k (SURVEY.md §2.4 mapping table).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..functions.st import _EARTH_RADIUS_M
from ..geometry import geom as G
from ..geometry import kernels as K
from ..geometry import predicates as P
from ..geometry import wkb as W
from ..index import cells as X
from ..index import pairing
from .celljoin import (
    candidate_pairs,
    drop_helper_columns,
    estimate_res,
    prefix_columns,
    with_cover,
)
from .relation import SpatialQuery
from .. import cache


# ------------------------------------------------------------ refine UDFs
def _geom_cache_loader(max_entries: int = 65536):
    """Per-batch WKB->Geometry decode cache. Arrow batches after a cell
    join carry each distinct geometry ~4-9x; the cap only guards against
    pathological huge batches (65k decoded parcels ~ 35 MB)."""
    cache: dict[bytes, object] = {}

    def load(b: bytes):
        g = cache.get(b)
        if g is None:
            g = W.loads(b)
            if len(cache) > max_entries:
                cache.clear()
            cache[b] = g
        return g

    return load


# point-vs-area predicates expressible from the vectorized classification
# (0=outside, 1=boundary, 2=interior) of kernels.points_in_multipolygon
_PIP_PRED = {
    "intersects": lambda c: c >= 1,
    "disjoint": lambda c: c == 0,
    "within": lambda c: c == 2,
    "coveredby": lambda c: c >= 1,
    "touches": lambda c: c == 1,
}


def _pip_pairs_flat(pts: np.ndarray, geoms: list) -> np.ndarray:
    """Elementwise 0/1/2 classification of (point_i, geometry_i) pairs —
    the pair-FLATTENED twin of ``kernels.points_in_multipolygon`` with
    identical EPS formulas, for batches where the per-distinct-geometry
    loop degenerates (many distinct small polygons with ~1 point each,
    e.g. interior-points-vs-parcels): all pairs' ring segments run
    through one set of whole-batch numpy sweeps."""
    from ..geometry.kernels import EPS

    n = len(geoms)
    codes = np.zeros(n, dtype=np.int8)
    rings: list[np.ndarray] = []
    ring_pair: list[int] = []
    ring_hole: list[bool] = []
    poly_starts: list[int] = []  # index into rings where each poly starts
    poly_pair: list[int] = []
    for i, g in enumerate(geoms):
        for poly in g.polygons():
            poly_starts.append(len(rings))
            poly_pair.append(i)
            for rj, r in enumerate(poly):
                rings.append(r)
                ring_pair.append(i)
                ring_hole.append(rj > 0)
    if not rings:
        return codes
    R = len(rings)
    m = np.fromiter(
        (len(r) - 1 if len(r) > 1 else 0 for r in rings), np.int64, count=R
    )
    segs_s = [r[:-1] for r in rings if len(r) > 1]
    segs_e = [r[1:] for r in rings if len(r) > 1]
    S = np.concatenate(segs_s) if segs_s else np.empty((0, 2))
    E = np.concatenate(segs_e) if segs_e else np.empty((0, 2))
    rp = np.asarray(ring_pair, dtype=np.int64)
    seg_ring = np.repeat(np.arange(R), m)
    p_of_seg = rp[seg_ring]
    x = pts[p_of_seg, 0]
    y = pts[p_of_seg, 1]
    x1 = S[:, 0]
    y1 = S[:, 1]
    dx = E[:, 0] - x1
    dy = E[:, 1] - y1
    rx = x - x1
    ry = y - y1
    cross = rx * dy - ry * dx
    seg_len2 = dx * dx + dy * dy
    on_line = cross * cross <= (EPS * 1e6) ** 2 * np.maximum(seg_len2, EPS)
    dot = rx * dx + ry * dy
    on_seg = on_line & (dot >= -EPS) & (dot <= seg_len2 + EPS)
    cond = (y1 > y) != (E[:, 1] > y)
    with np.errstate(divide="ignore", invalid="ignore"):
        xints = x1 + (y - y1) * dx / np.where(dy == 0, np.inf, dy)
    crossed = cond & (x < xints)
    ring_code = np.zeros(R, dtype=np.int8)
    starts = np.concatenate(([0], np.cumsum(m)))[:-1]
    nz = np.nonzero(m > 0)[0]
    if len(nz):
        on_b = np.zeros(R, dtype=bool)
        on_b[nz] = np.add.reduceat(on_seg, starts[nz]) > 0
        par = np.zeros(R, dtype=np.int64)
        par[nz] = np.add.reduceat(crossed.astype(np.int64), starts[nz])
        ring_code[(par % 2) == 1] = 2
        ring_code[on_b] = 1
    # combine per polygon: exterior code modified by holes (same order
    # and rules as points_in_polygon), then max per pair
    hole_arr = np.asarray(ring_hole, dtype=bool)
    poly_starts.append(R)
    for k in range(len(poly_pair)):
        lo, hi = poly_starts[k], poly_starts[k + 1]
        res = ring_code[lo]
        for j in range(lo + 1, hi):
            h = ring_code[j]
            if res == 2 and h == 2:
                res = 0
            elif res == 2 and h == 1:
                res = 1
        i = poly_pair[k]
        if res > codes[i]:
            codes[i] = res
    return codes


def _pip_fast_path(pred_name: str, wkb1: pd.Series, wkb2: pd.Series):
    """Vectorized point-in-polygon evaluation for a whole Arrow batch:
    decode all left POINTs at once (fixed 21-byte WKB layout), group by
    distinct right geometry (zones repeat thousands of times per batch),
    classify with numpy ray casting. When the grouping degenerates (many
    distinct geometries with few points each — the inverted
    interior-point-vs-parcels shape), all pairs flatten into ONE sweep
    instead (``_pip_pairs_flat``, identical formulas). Returns a bool
    ndarray or None when the batch isn't all-points / the predicate
    isn't expressible."""
    fn = _PIP_PRED.get(pred_name)
    if fn is None or wkb1.isna().any() or wkb2.isna().any():
        return None
    pts = W.points_from_wkb_list([bytes(b) for b in wkb1])
    if pts is None:
        return None
    codes, uniques = pd.factorize(wkb2.map(bytes))
    if len(uniques) * 64 > len(pts):
        # few points per distinct geometry: pair-flattened sweep
        load = _geom_cache_loader()
        geoms = []
        for b in uniques:
            g2 = load(b)
            if g2.dim() != 2:
                return None
            geoms.append(g2)
        cls = _pip_pairs_flat(pts, [geoms[c] for c in codes])
        return fn(cls)
    out = np.zeros(len(pts), dtype=bool)
    for u, blob in enumerate(uniques):
        g2 = W.loads(blob)
        if g2.dim() != 2:
            return None
        idx = np.nonzero(codes == u)[0]
        cls = K.points_in_multipolygon(pts[idx], g2)
        out[idx] = fn(cls)
    return out


def _batch_pair_intersects(wkb1: pd.Series, wkb2: pd.Series, load) -> np.ndarray:
    """Vectorized per-pair ``intersects`` over a whole Arrow batch:
    bbox-disjoint pairs are certainly False, a windowed batched
    segment-hit sweep (kernels.batch_segment_hits) marks certain Trues,
    and only the leftover pairs (containment / collinear touch /
    NULL-adjacent) run the exact per-pair predicate."""
    n = len(wkb1)
    out = np.zeros(n, dtype=bool)
    g1s: list = [None] * n
    g2s: list = [None] * n
    B1 = np.full((n, 4), np.nan)
    B2 = np.full((n, 4), np.nan)
    for i, (b1, b2) in enumerate(zip(wkb1, wkb2)):
        if b1 is None or b2 is None:
            continue
        g1 = load(bytes(b1))
        g2 = load(bytes(b2))
        if g1.is_empty() or g2.is_empty():
            continue
        g1s[i] = g1
        g2s[i] = g2
        B1[i] = K.bounds(g1)
        B2[i] = K.bounds(g2)
    overlap = (
        (B1[:, 0] <= B2[:, 2])
        & (B2[:, 0] <= B1[:, 2])
        & (B1[:, 1] <= B2[:, 3])
        & (B2[:, 1] <= B1[:, 3])
    )
    cand = np.nonzero(overlap)[0]
    if len(cand) == 0:
        return out
    windows = np.column_stack(
        (
            np.maximum(B1[cand, 0], B2[cand, 0]),
            np.maximum(B1[cand, 1], B2[cand, 1]),
            np.minimum(B1[cand, 2], B2[cand, 2]),
            np.minimum(B1[cand, 3], B2[cand, 3]),
        )
    )
    # window_segments pre-prunes LARGE geometries per pair — the batched
    # sweep concatenates every pair's segments before its own prune
    seg_a = [
        K.window_segments(g1s[i], *windows[r]) for r, i in enumerate(cand)
    ]
    seg_b = [
        K.window_segments(g2s[i], *windows[r]) for r, i in enumerate(cand)
    ]
    hits = K.batch_segment_hits(seg_a, seg_b, windows=windows)
    out[cand[hits]] = True
    for i in cand[~hits]:
        out[i] = P.intersects(g1s[i], g2s[i])
    return out


def query_match_udf(query: SpatialQuery):
    """Boolean pandas UDF evaluating the compiled spatial query per pair.

    Single-term queries short-circuit to the named predicate functions
    (the reference's optimize_simple_queries, ``_geoops_sql.py:2398-2445``);
    all-point left batches against areal rights take the fully vectorized
    PIP path, and intersects/disjoint batches take the windowed batched
    segment-hit sweep (no per-pair numpy in the common case).
    """
    q = query.query.lower().split()
    simple = None
    if len(q) == 3 and q[0] in P.PREDICATE_FNS and q[1] == "is":
        simple = (q[0], P.PREDICATE_FNS[q[0]], q[2] == "true")

    @pandas_udf(BooleanType())
    def _match(wkb1: pd.Series, wkb2: pd.Series) -> pd.Series:
        if simple is not None:
            name, fn, want = simple
            fast = _pip_fast_path(name, wkb1, wkb2)
            if fast is not None:
                return pd.Series(fast == want, dtype="boolean")
        load = _geom_cache_loader()
        if simple is not None and simple[0] in ("intersects", "disjoint"):
            name, fn, want = simple
            inter = _batch_pair_intersects(wkb1, wkb2, load)
            # NULL on either side stays False (matching the loop below)
            nulls = np.array(
                [b1 is None or b2 is None for b1, b2 in zip(wkb1, wkb2)],
                dtype=bool,
            )
            res = inter if name == "intersects" else ~inter
            res = (res == want) & ~nulls
            return pd.Series(res, dtype="boolean")
        out = []
        if simple is not None:
            _, fn, want = simple
            for b1, b2 in zip(wkb1, wkb2):
                if b1 is None or b2 is None:
                    out.append(False)
                else:
                    out.append(bool(fn(load(bytes(b1)), load(bytes(b2)))) == want)
        else:
            for b1, b2 in zip(wkb1, wkb2):
                if b1 is None or b2 is None:
                    out.append(False)
                else:
                    m = P.relate_matrix(load(bytes(b1)), load(bytes(b2)))
                    out.append(query.matches(m))
        return pd.Series(out, dtype="boolean")

    return _match


def _any_match_udf(query: SpatialQuery, want_match: bool = True):
    """(g1, array<g2>) -> does ANY candidate satisfy (``want_match=True``)
    / violate (``want_match=False``) the relation? EARLY EXIT at the
    first hit: the predicate kernel runs once per matching row instead
    of once per candidate pair."""
    q = query.query.lower().split()
    simple = None
    if len(q) == 3 and q[0] in P.PREDICATE_FNS and q[1] == "is":
        simple = (P.PREDICATE_FNS[q[0]], q[2] == "true")

    @pandas_udf(BooleanType())
    def _any(wkb1: pd.Series, others: pd.Series) -> pd.Series:
        load = _geom_cache_loader()
        out = []
        for b1, arr in zip(wkb1, others):
            if b1 is None or arr is None or len(arr) == 0:
                out.append(False)
                continue
            g1 = load(bytes(b1))
            hit = False
            for b2 in arr:
                if b2 is None:
                    continue
                g2 = load(bytes(b2))
                if simple is not None:
                    fn, want = simple
                    ok = bool(fn(g1, g2)) == want
                else:
                    ok = query.matches(P.relate_matrix(g1, g2))
                if ok == want_match:
                    hit = True
                    break
            out.append(hit)
        return pd.Series(out, dtype="boolean")

    return _any.asNondeterministic()


@pandas_udf(DoubleType())
def _inters_area_udf(wkb1: pd.Series, wkb2: pd.Series) -> pd.Series:
    from ..geometry import clip as C

    load = _geom_cache_loader()
    out = []
    for b1, b2 in zip(wkb1, wkb2):
        if b1 is None or b2 is None:
            out.append(None)
        else:
            out.append(K.area(C.intersection(load(bytes(b1)), load(bytes(b2)))))
    return pd.Series(out, dtype="float64")


_inters_area_udf = _inters_area_udf.asNondeterministic()


@pandas_udf(DoubleType())
def _distance_udf(wkb1: pd.Series, wkb2: pd.Series) -> pd.Series:
    # vectorized fast path: point-point batches (the kNN hot path)
    if not wkb1.isna().any() and not wkb2.isna().any():
        p1 = W.points_from_wkb_list([bytes(b) for b in wkb1])
        p2 = W.points_from_wkb_list([bytes(b) for b in wkb2]) if p1 is not None else None
        if p1 is not None and p2 is not None:
            d = np.hypot(p1[:, 0] - p2[:, 0], p1[:, 1] - p2[:, 1])
            return pd.Series(d, dtype="float64")
    load = _geom_cache_loader()
    out = []
    for b1, b2 in zip(wkb1, wkb2):
        if b1 is None or b2 is None:
            out.append(None)
        else:
            out.append(K.distance(load(bytes(b1)), load(bytes(b2))))
    return pd.Series(out, dtype="float64")


_distance_udf = _distance_udf.asNondeterministic()


# -------------------------------------------------------------- equi join
def join(
    df1: DataFrame,
    df2: DataFrame,
    on: list[tuple[str, str]],
    how: str = "inner",
    geom_col: str = "geom_wkb",
) -> DataFrame:
    """Attribute equi-join; geometry comes from layer1
    (geofileops ``_geoops_sql.py:2105-2182``). Pure Catalyst."""
    l1 = prefix_columns(df1, "l1_")
    l2 = prefix_columns(df2.drop(geom_col) if geom_col in df2.columns else df2, "l2_")
    cond = None
    for c1, c2 in on:
        this = l1[f"l1_{c1}"] == l2[f"l2_{c2}"]
        cond = this if cond is None else (cond & this)
    out = l1.join(l2, cond, how)
    if f"l1_{geom_col}" in out.columns:
        out = out.withColumnRenamed(f"l1_{geom_col}", geom_col)
    return out


# -------------------------------------------------------- join_by_location
# point-subject vs polygonal-blade simple predicates reduce to the PIP
# classification (0 outside / 1 boundary / 2 interior) — one vectorized
# kernel call per blade instead of a per-pair Python predicate loop
_POINT_PIP_PRED = {
    "intersects": lambda pip: pip >= 1,
    "within": lambda pip: pip == 2,
    "touches": lambda pip: pip == 1,
    "coveredby": lambda pip: pip >= 1,
}


def _join_broadcast_pairs(
    df1: DataFrame,
    df2: DataFrame,
    sq: SpatialQuery,
    geom_col: str,
    id_col: str,
) -> DataFrame | None:
    """Map-side pair generation for :func:`join_by_location`, the pairs
    twin of :func:`_export_broadcast`: layer 2 is grid-indexed and
    broadcast (geometry + int64 ids), layer 1 streams through ONE
    mapInPandas emitting a row per matching (l1, l2) pair with the l2
    key; attributes attach afterwards via a broadcast hash join on that
    key — zero shuffles end to end (the reference holds layer 2's rtree
    in every worker process, ``_geoops_sql.py:2185-2342``). Returns the
    ``matched`` frame in the standard output shape (l1_-prefixed
    columns, ``geom_col``, l2_-prefixed attributes), or None when the
    broadcast cannot be built (empty layer 2 / NULL join keys) and the
    caller must use the distributed plan."""
    bc = pairing.build(df2, geom_col, id_col=id_col)
    if bc is None:
        return None

    q = sq.query.lower().split()
    simple = None
    if len(q) == 3 and q[0] in P.PREDICATE_FNS and q[1] == "is":
        simple = (q[0], q[2] == "true")
    # certain boundary crossings prove plain `intersects`: eligible
    # pairs short-circuit the exact predicate (batched segment sweep)
    fast_hit = simple is not None and simple[0] == "intersects"
    schema = StructType(df1.schema.fields + [StructField("_l2id", LongType())])

    def _probe(batches):
        probe = pairing.Probe(bc)
        bbv, ids, g2_at = probe.bb, probe.ids, probe.geom
        pred = P.PREDICATE_FNS[simple[0]] if simple else None
        want = simple[1] if simple else None

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                yield pdf.assign(_l2id=pd.Series(dtype="int64"))
                continue
            g1s, B = probe.decode(pdf[geom_col])
            pr, pl = probe.pairs(B)
            if len(pr) == 0:
                yield pdf.iloc[0:0].assign(_l2id=pd.Series(dtype="int64"))
                continue
            ok = np.zeros(len(pr), dtype=bool)
            handled = np.zeros(len(pr), dtype=bool)
            # POINT subjects: one points_in_multipolygon call per blade
            # (the segment sweep is useless for points — they have no
            # segments — and the per-pair loop below would run pure
            # Python per candidate; measured 7.0 s -> cell-join-parity
            # on 15k points x 1k boxes)
            pip_pred = _POINT_PIP_PRED.get(simple[0]) if simple else None
            if pip_pred is not None:
                row_is_pt = np.fromiter(
                    (g is not None and g.typ == G.POINT for g in g1s),
                    dtype=bool,
                    count=n,
                )
                ptpairs = np.nonzero(row_is_pt[pr])[0]
                if len(ptpairs) and (
                    len(np.unique(pl[ptpairs])) * 64 > len(ptpairs)
                ):
                    # inverted shape (many blades, few points each): one
                    # pair-flattened sweep, identical formulas
                    gb = [g2_at(int(j)) for j in pl[ptpairs]]
                    if all(
                        g.typ in (G.POLYGON, G.MULTIPOLYGON) for g in gb
                    ):
                        pts = np.stack(
                            [g1s[int(pr[t])].data for t in ptpairs]
                        )
                        pip = _pip_pairs_flat(pts, gb)
                        ok[ptpairs] = pip_pred(pip) == want
                        handled[ptpairs] = True
                        ptpairs = ptpairs[:0]
                if len(ptpairs):
                    order = np.argsort(pl[ptpairs], kind="stable")
                    ptpairs = ptpairs[order]
                    splits = np.nonzero(np.diff(pl[ptpairs]))[0] + 1
                    for grp in np.split(ptpairs, splits):
                        g2 = g2_at(int(pl[grp[0]]))
                        if g2.typ not in (G.POLYGON, G.MULTIPOLYGON):
                            continue  # non-areal blade: per-pair path
                        pts = np.stack([g1s[int(pr[t])].data for t in grp])
                        pip = K.points_in_multipolygon(pts, g2)
                        ok[grp] = pip_pred(pip) == want
                        handled[grp] = True
            todo = np.nonzero(~handled)[0]
            if fast_hit and len(todo):
                windows = np.column_stack(
                    (
                        np.maximum(B[pr[todo], 0], bbv[pl[todo], 0]),
                        np.maximum(B[pr[todo], 1], bbv[pl[todo], 1]),
                        np.minimum(B[pr[todo], 2], bbv[pl[todo], 2]),
                        np.minimum(B[pr[todo], 3], bbv[pl[todo], 3]),
                    )
                )
                seg_a = [
                    K.window_segments(g1s[int(pr[t])], *windows[r])
                    for r, t in enumerate(todo)
                ]
                seg_b = [
                    K.window_segments(g2_at(int(pl[t])), *windows[r])
                    for r, t in enumerate(todo)
                ]
                hits = K.batch_segment_hits(seg_a, seg_b, windows=windows)
                # a certain hit decides plain intersects either way
                ok[todo[hits]] = want
                todo = todo[~hits]
            for t in todo:
                g1 = g1s[int(pr[t])]
                g2 = g2_at(int(pl[t]))
                if simple is not None:
                    ok[t] = bool(pred(g1, g2)) == want
                else:
                    ok[t] = sq.matches(P.relate_matrix(g1, g2))
            sel = np.nonzero(ok)[0]
            out = pdf.iloc[pr[sel]].copy()
            out["_l2id"] = ids[pl[sel]]
            yield out

    probe_out = df1.mapInPandas(_probe, schema=schema)
    l2a = prefix_columns(df2, "l2_").drop(f"l2_{geom_col}")
    matched = probe_out.join(
        F.broadcast(l2a),
        probe_out["_l2id"] == l2a[f"l2_{id_col}"],
        "inner",
    ).drop("_l2id")
    for c in df1.columns:
        if c != geom_col:
            matched = matched.withColumnRenamed(c, f"l1_{c}")
    return matched


def join_by_location(
    df1: DataFrame,
    df2: DataFrame,
    spatial_relations_query: str = "intersects is True",
    discard_nonmatching: bool = True,
    min_area_intersect: float | None = None,
    area_inters_column_name: str | None = None,
    res: int | None = None,
    geom_col: str = "geom_wkb",
    id_col: str = "fid",
    broadcast_right: bool | None = None,
) -> DataFrame:
    """Spatial theta-join (geofileops ``geoops.py:3051`` →
    ``_geoops_sql.py:2185-2342``). Output: layer1 geometry + l1_/l2_
    prefixed attributes; ``discard_nonmatching=False`` appends unmatched
    layer1 rows with NULL l2 columns (left-join semantics).

    Plan selection: when layer 2 fits the broadcast budget
    (``GFO_BROADCAST_BYTES``, see ``pairing.choose``) and no
    intersection-area column is asked for, pairs generate map-side
    against a broadcast grid index — zero shuffles (the reference's
    per-worker rtree shape). Otherwise (or with ``broadcast_right`` set,
    which keeps its cell-join meaning): the distributed cell join — the
    100-TB default."""
    sq = SpatialQuery(spatial_relations_query).avoid_disjoint()
    matched = None
    if (
        broadcast_right is None
        and min_area_intersect is None
        and area_inters_column_name is None
        and id_col in df2.columns
        and isinstance(
            df2.schema[id_col].dataType, (LongType, IntegerType)
        )
        and pairing.choose("pairs", df2).path == "broadcast"
    ):
        matched = _join_broadcast_pairs(df1, df2, sq, geom_col, id_col)
    if matched is None:
        pairs, res = candidate_pairs(
            df1, df2, res=res, geom_col1=geom_col, geom_col2=geom_col,
            broadcast_right=broadcast_right,
        )
        g1, g2 = f"l1_{geom_col}", f"l2_{geom_col}"
        matched = pairs.where(query_match_udf(sq)(F.col(g1), F.col(g2)))

        area_col = area_inters_column_name
        if min_area_intersect is not None and area_col is None:
            area_col = "area_inters"
        if area_col is not None:
            matched = matched.withColumn(
                area_col, _inters_area_udf(F.col(g1), F.col(g2))
            )
        if min_area_intersect is not None:
            matched = matched.where(F.col(area_col) >= F.lit(min_area_intersect))
            if area_inters_column_name is None:
                matched = matched.drop(area_col)

        matched = drop_helper_columns(matched).drop(g2)
        matched = matched.withColumnRenamed(g1, geom_col)

    if not discard_nonmatching:
        l1_all = prefix_columns(df1, "l1_").withColumnRenamed(f"l1_{geom_col}", geom_col)
        unmatched = l1_all.join(
            matched.select(F.col(f"l1_{id_col}")).distinct(),
            on=f"l1_{id_col}",
            how="left_anti",
        )
        matched = matched.unionByName(unmatched, allowMissingColumns=True)
    return matched


# -------------------------------------------------- broadcast PIP join
def _sql_id_literal(v) -> str | None:
    """SQL literal for a polygon id in the inline-VALUES rect table —
    typed to match what createDataFrame's inference would produce
    (int -> BIGINT, float -> DOUBLE, str quoted; Spark's parser treats a
    backslash as an escape, so it is escaped too). None = not
    expressible (bool, ints outside int64, other types); the caller
    falls back to the Row-list path."""
    if isinstance(v, bool):
        return None
    if isinstance(v, int):
        return f"CAST({v} AS BIGINT)" if -(2**63) <= v < 2**63 else None
    if isinstance(v, float):
        return f"CAST('{v!r}' AS DOUBLE)"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "''") + "'"
    return None


def join_points_in_polygons(
    points: DataFrame,
    polys: DataFrame,
    x_col: str = "lon",
    y_col: str = "lat",
    poly_id_col: str = "fid",
    geom_col: str = "geom_wkb",
    max_polys: int = 100_000,
    jvm_rect_path: bool = True,
) -> DataFrame:
    """Vectorized broadcast point-in-polygon join: the fast path for the
    canonical "billions of points x small polygon dimension" shape (pages
    x zones). Polygons are collected once and broadcast;
    every Arrow batch tests all points against all polygons with numpy
    ray-casting (``kernels.points_in_multipolygon``) — no shuffle at all,
    the scan streams map-side. Falls back to ``join_by_location`` when
    the polygon side is large.

    Output: points columns + ``{poly_id_col}`` of the matched polygon
    (one row per (point, polygon) containment pair).
    """
    rows = polys.select(poly_id_col, geom_col).collect()
    if len(rows) > max_polys:
        raise ValueError(
            f"polygon side has {len(rows)} rows; use join_by_location instead"
        )
    payload = [(r[0], bytes(r[1])) for r in rows if r[1] is not None]

    # all-rectangle polygon side (bbox zones, tiles): containment becomes
    # a broadcast nested-loop join on a BETWEEN predicate — pure JVM
    # codegen, ZERO Python in the entire join. Default ON: measured
    # (16M pages x 5 zones, min-of-3) c8 10.2 s vs numpy-bitmask 9.5 s,
    # but c32 5.4 s vs 17.8 s in the same window — the Python-worker
    # Arrow socket traffic saturates this VM's kernel above ~8 threads,
    # while the JVM join keeps scaling; on a real cluster avoiding the
    # Python workers entirely is strictly better. (The earlier per-row
    # array_compact(array(when...)) formulation of this path WAS slower
    # than the bitmask at every width — allocation per row; the BNLJ
    # shape replaced it.)
    rects = [] if jvm_rect_path else None
    if rects is not None:
        from ..geometry.clip import _as_rect, _open_ring

        for pid, blob in payload:
            g = W.loads(blob)
            polys = g.polygons()
            if len(polys) != 1 or len(polys[0]) != 1:
                rects = None
                break
            r4 = _as_rect(_open_ring(polys[0][0]))
            if r4 is None:
                rects = None
                break
            rects.append((pid, r4))
    if rects is not None and 0 < len(rects) <= 10_000:
        spark = points.sparkSession
        # inline VALUES table (LocalRelation), not createDataFrame: the
        # latter materializes through applySchemaToPythonRDD — a
        # Python-RDD job inside every broadcast build, ~0.3 s of
        # width-independent fixed cost per call. A literal-only inline
        # table folds to a LocalRelation, so the broadcast builds from
        # driver-resident rows with no job at all. repr(float) is the
        # shortest round-trip decimal, and Spark's DOUBLE cast parses it
        # back to the identical IEEE-754 value.
        id_lits = [_sql_id_literal(pid) for pid, _ in rects]
        if all(lit is not None for lit in id_lits):
            vals = ", ".join(
                f"({lit}, CAST('{float(x0)!r}' AS DOUBLE),"
                f" CAST('{float(y0)!r}' AS DOUBLE),"
                f" CAST('{float(x1)!r}' AS DOUBLE),"
                f" CAST('{float(y1)!r}' AS DOUBLE))"
                for lit, (_pid, (x0, y0, x1, y1)) in zip(id_lits, rects)
            )
            rdf = spark.sql(
                f"SELECT * FROM VALUES {vals} AS rects"
                f"(`{poly_id_col}`, _rx0, _ry0, _rx1, _ry1)"
            )
        else:
            # exotic id types: the original Row-list path
            from pyspark.sql import Row

            rdf = spark.createDataFrame(
                [
                    Row(
                        **{
                            poly_id_col: pid,
                            "_rx0": float(x0), "_ry0": float(y0),
                            "_rx1": float(x1), "_ry1": float(y1),
                        }
                    )
                    for pid, (x0, y0, x1, y1) in rects
                ]
            )
        if poly_id_col in points.columns:
            # match the UDF paths' withColumn semantics: the output id
            # column REPLACES a same-named points column
            points = points.drop(poly_id_col)
        x, y = F.col(x_col), F.col(y_col)
        out = points.join(
            F.broadcast(rdf),
            (x >= F.col("_rx0")) & (x <= F.col("_rx1"))
            & (y >= F.col("_ry0")) & (y <= F.col("_ry1")),
        )
        return out.drop("_rx0", "_ry0", "_rx1", "_ry1")

    spark = points.sparkSession
    if len(payload) <= 63:
        # bitmask path: the UDF returns one int64 whose bit z says "inside
        # polygon z" — zero Python objects per row, explode happens JVM-side
        bc = pairing.broadcast(spark, payload)

        @pandas_udf(LongType())
        def _matchbits(xs: pd.Series, ys: pd.Series) -> pd.Series:
            pts = np.column_stack(
                [xs.to_numpy(np.float64), ys.to_numpy(np.float64)]
            )
            out = np.zeros(len(pts), dtype=np.int64)
            for z, (pid, blob) in enumerate(bc.value):
                g = W.loads(blob)
                bx0, by0, bx1, by1 = K.bounds(g)
                bb = (
                    (pts[:, 0] >= bx0)
                    & (pts[:, 0] <= bx1)
                    & (pts[:, 1] >= by0)
                    & (pts[:, 1] <= by1)
                )
                idx = np.nonzero(bb)[0]
                if len(idx) == 0:
                    continue
                # 0=outside, 1=boundary, 2=interior; boundary intersects
                inside = K.points_in_multipolygon(pts[idx], g) >= 1
                out[idx[inside]] |= np.int64(1) << np.int64(z)
            return pd.Series(out)

        ids_arr = F.array(*[F.lit(pid) for pid, _ in payload])
        _matchbits = _matchbits.asNondeterministic()
        out = points.withColumn("_bits", _matchbits(F.col(x_col), F.col(y_col)))
        out = out.where(F.col("_bits") != 0)
        idxs = F.array_compact(
            F.array(
                *[
                    F.when(
                        F.col("_bits").bitwiseAND(F.lit(1 << z)) != 0, F.lit(z)
                    )
                    for z in range(len(payload))
                ]
            )
        )
        out = out.withColumn("_pidx", F.explode(idxs)).drop("_bits")
        return out.withColumn(
            poly_id_col, F.element_at(ids_arr, F.col("_pidx") + 1)
        ).drop("_pidx")

    # larger irregular polygon sides: the bbox grid of the pairing
    # module; per batch, candidates come from one vectorized probe and
    # each polygon tests only ITS candidate points
    bbs = np.asarray([K.bounds(W.loads(b)) for _, b in payload], dtype=np.float64)
    valid = np.isfinite(bbs[:, 0])
    if not valid.any():  # only EMPTY polygons: nothing contains a point
        return points.withColumn(poly_id_col, F.lit(None).cast("long")).limit(0)
    bc = pairing.broadcast(
        spark,
        pairing.Index(
            bbs[valid],
            wkbs=[b for (_, b), v in zip(payload, valid) if v],
            ids=[pid for (pid, _), v in zip(payload, valid) if v],
            point_cells=256,
        ),
    )

    @pandas_udf("array<long>")
    def _match_grid(xs: pd.Series, ys: pd.Series) -> pd.Series:
        probe = pairing.Probe(bc)
        pts = np.column_stack(
            [xs.to_numpy(np.float64), ys.to_numpy(np.float64)]
        )
        hit_lists: list = [None] * len(pts)
        # degenerate point bboxes
        pr, pl = probe.pairs(np.column_stack([pts, pts]))
        if len(pr) == 0:
            return pd.Series(hit_lists)
        # group candidate pairs by POLYGON so each polygon runs ONE
        # vectorized PIP over just its candidate points
        order = np.argsort(pl, kind="stable")
        pl_s, pr_s = pl[order], pr[order]
        pstarts = np.concatenate(
            ([0], np.nonzero(np.diff(pl_s))[0] + 1, [len(pl_s)])
        )
        for s, e in zip(pstarts[:-1], pstarts[1:]):
            j = int(pl_s[s])
            sub = pr_s[s:e]
            inside = K.points_in_multipolygon(pts[sub], probe.geom(j)) >= 1
            for i in sub[inside]:
                if hit_lists[i] is None:
                    hit_lists[i] = []
                hit_lists[i].append(probe.ids[j])
        return pd.Series(hit_lists)

    _match_grid = _match_grid.asNondeterministic()
    out = points.withColumn("_hits", _match_grid(F.col(x_col), F.col(y_col)))
    out = out.where(F.col("_hits").isNotNull())
    return out.withColumn(poly_id_col, F.explode("_hits")).drop("_hits")


# ------------------------------------------------------ export_by_location
def _export_broadcast(
    df1: DataFrame,
    df2: DataFrame,
    sq: SpatialQuery,
    min_area_intersect: float | None,
    geom_col: str,
) -> DataFrame:
    """Map-side export_by_location: layer 2's (bbox, WKB) is computed
    distributed, collected once, grid-indexed and broadcast; layer 1
    streams through ONE mapInPandas with zero shuffles — the Spark twin
    of the reference's in-process rtree probe (each gfo worker process
    holds layer 2's rtree in RAM, ``_geoops_sql.py:1541-1736``). Guarded
    by ``GFO_BROADCAST_BYTES`` (``pairing.choose``): a layer 2 past the
    reference's own in-memory operating envelope falls back to the
    distributed cell join.
    """
    anti = sq.true_for_disjoint
    bc = pairing.build(df2, geom_col)
    if bc is None:
        # empty layer 2: EXISTS fails everywhere; the for-ALL (disjoint)
        # filter holds vacuously everywhere
        return df1 if anti else df1.limit(0)

    q = sq.query.lower().split()
    simple = None
    if len(q) == 3 and q[0] in P.PREDICATE_FNS and q[1] == "is":
        simple = (q[0], q[2] == "true")
    min_area = min_area_intersect
    schema = df1.schema

    # in all four intersects/disjoint x True/False combinations, the
    # early-exit target (the semi branch's witness / the anti branch's
    # violator) is plain ``intersects`` — eligible for the batched
    # segment-hit sweep (certain-hit fast accept, exact fallback)
    fast_hit = (
        simple is not None
        and simple[0] in ("intersects", "disjoint")
        and min_area_intersect is None
    )

    def _probe(batches):
        from ..geometry import clip as C

        probe = pairing.Probe(bc)
        bbv, g2_at = probe.bb, probe.geom
        pred = P.PREDICATE_FNS[simple[0]] if simple else None
        want = simple[1] if simple else None

        def row_hit(g1, cand):
            """Early-exit: does any candidate witness (semi) / violate
            (anti) the relation for this l1 geometry?"""
            for j in cand:
                g2 = g2_at(int(j))
                ok = (
                    bool(pred(g1, g2)) == want
                    if simple
                    else sq.matches(P.relate_matrix(g1, g2))
                )
                if ok != anti:
                    return True
            return False

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                yield pdf
                continue
            g1s, B = probe.decode(pdf[geom_col])
            # rows with NULL/empty geometry or zero candidates: EXISTS
            # fails, the for-ALL filter holds vacuously (matches the
            # cell-join plan where such rows never enter the pair stream)
            keep = np.full(n, anti, dtype=bool)
            pr, pl = probe.pairs(B)
            if len(pr) == 0:
                yield pdf[keep]
                continue
            # per-row candidate slices (pr is sorted by row)
            row_start = np.concatenate(
                ([0], np.nonzero(np.diff(pr))[0] + 1, [len(pr)])
            )
            row_ids = pr[row_start[:-1]]
            if fast_hit:
                # batched certain-hit sweep over every (row, candidate)
                # pair at once; a hit anywhere in a row resolves it
                # (witness found / violator found). Rows with no certain
                # hit re-check their candidates with the exact predicate
                # (containment and collinear-touch cases).
                windows = np.column_stack(
                    (
                        np.maximum(B[pr, 0], bbv[pl, 0]),
                        np.maximum(B[pr, 1], bbv[pl, 1]),
                        np.minimum(B[pr, 2], bbv[pl, 2]),
                        np.minimum(B[pr, 3], bbv[pl, 3]),
                    )
                )
                # pre-prune big candidates per pair (a subdivided part
                # can carry 10k edges and appear in thousands of pairs —
                # concatenating full sets in the sweep is GBs)
                seg_a = [
                    K.window_segments(g1s[i], *windows[r])
                    for r, i in enumerate(pr)
                ]
                seg_b = [
                    K.window_segments(g2_at(int(j)), *windows[r])
                    for r, j in enumerate(pl)
                ]
                hits = K.batch_segment_hits(seg_a, seg_b, windows=windows)
                for s, e, i in zip(row_start[:-1], row_start[1:], row_ids):
                    if hits[s:e].any():
                        keep[i] = not anti
                    else:
                        hit = row_hit(g1s[i], pl[s:e])
                        keep[i] = (not hit) if anti else hit
            else:
                for s, e, i in zip(row_start[:-1], row_start[1:], row_ids):
                    g1, cand = g1s[i], pl[s:e]
                    if min_area is not None:
                        total = 0.0
                        for j in cand:
                            g2 = g2_at(int(j))
                            ok = (
                                bool(pred(g1, g2)) == want
                                if simple
                                else sq.matches(P.relate_matrix(g1, g2))
                            )
                            if ok:
                                total += K.area(C.intersection(g1, g2))
                                if total >= min_area:
                                    break
                        keep[i] = total >= min_area
                        continue
                    hit = row_hit(g1, cand)
                    keep[i] = (not hit) if anti else hit
            yield pdf[keep]

    return df1.mapInPandas(_probe, schema=schema)


def export_by_location(
    df1: DataFrame,
    df2: DataFrame,
    spatial_relations_query: str = "intersects is True",
    min_area_intersect: float | None = None,
    res: int | None = None,
    geom_col: str = "geom_wkb",
    id_col: str = "fid",
    broadcast: bool | None = None,
    subdivide_coords: int | None = None,
) -> DataFrame:
    """Spatial semi-join (or anti-join for disjoint-style queries): keep
    layer1 rows where EXISTS a layer2 row satisfying the relation
    (geofileops ``geoops.py:2308`` → ``_geoops_sql.py:1541-1736``;
    disjoint De-Morgan branch at ``:1617-1630``).

    ``subdivide_coords`` splits complex layer-2 geometries into parts of
    at most that many vertices before any spatial work (the reference's
    ``_subdivide_layer`` preprocessing, ``_geoops_sql.py:1576-1588``,
    default 10000 in ``helpers/_options.py``): against a 300k-coordinate
    multipolygon, candidate bboxes shrink to the parts and each
    predicate runs on a small ring. For ``intersects``/``disjoint``
    queries the relation decomposes over parts exactly (intersects any
    part == intersects the whole; the reference's per-fid re-union,
    ``_geoops_sql.py:2392-2394``, is the identity there), and
    ``min_area_intersect`` sums disjoint-interior part pieces to the
    same total. Non-decomposing relations (within/touches/ST_Relate)
    keep whole geometries.

    Two physical plans:

    - **broadcast probe** (default when layer 2 fits
      ``GFO_BROADCAST_BYTES``, see ``pairing.choose``): layer 2
      grid-indexed in RAM, layer 1 streamed map-side, zero shuffles —
      the reference's in-process-rtree shape.
    - **distributed cell join** (the 100-TB shape): payload-trimmed
      cover explode → cell hash join → per-(cell, l1) early-exit EXISTS
      aggregate (no re-shuffle: the aggregate reuses the join's hash
      partitioning on the cell) → distinct matched ids → semi-join.
    """
    sq = SpatialQuery(spatial_relations_query)
    if broadcast is None:
        # decide on the RAW layer-2 scan — subdivision rewrites the plan
        # and would hide the scan-size statistic from the sizer
        broadcast = pairing.choose("pairs", df2).path == "broadcast"
    if subdivide_coords is not None and subdivide_coords > 0:
        qp = sq.query.lower().split()
        if len(qp) == 3 and qp[0] in ("intersects", "disjoint") and qp[1] == "is":
            from .overlay import subdivide_layer

            df2 = subdivide_layer(
                df2.select(geom_col), subdivide_coords, geom_col
            )
    if broadcast:
        return _export_broadcast(
            df1, df2, sq, min_area_intersect, geom_col
        )
    # distributed plan: only (id, geom) of layer 1 and (geom) of layer 2
    # flow through the cover explode + cell shuffle — attributes rejoin
    # via the final semi/anti join on id
    pairs, res = candidate_pairs(
        df1.select(id_col, geom_col), df2.select(geom_col), res=res,
        geom_col1=geom_col, geom_col2=geom_col,
    )
    g1, g2 = f"l1_{geom_col}", f"l2_{geom_col}"
    cell = "l1__cell"

    if sq.true_for_disjoint:
        # keep rows where the filter holds for ALL layer2 rows. Non-candidate
        # (bbox-disjoint) pairs evaluate to true_for_disjoint == True, so only
        # candidates can violate → anti-join on the violators. Early exit at
        # the first violator per (cell, l1) group — map-side aggregate, the
        # join's hash partitioning on the cell already clusters the keys.
        viol = pairs.groupBy(F.col(cell), F.col(f"l1_{id_col}").alias(id_col)).agg(
            F.first(F.col(g1)).alias("_g1"),
            F.collect_list(F.col(g2)).alias("_g2s"),
        )
        key = (
            viol.where(_any_match_udf(sq, want_match=False)(F.col("_g1"), F.col("_g2s")))
            .select(id_col)
            .distinct()
        )
        return df1.join(key, on=id_col, how="left_anti")

    if min_area_intersect is not None:
        matched = pairs.where(query_match_udf(sq)(F.col(g1), F.col(g2)))
        matched = matched.withColumn(
            "_area_inters", _inters_area_udf(F.col(g1), F.col(g2))
        )
        agg = (
            matched.groupBy(F.col(f"l1_{id_col}").alias(id_col))
            .agg(F.sum("_area_inters").alias("_area_total"))
            .where(F.col("_area_total") >= F.lit(min_area_intersect))
            .select(id_col)
        )
        return df1.join(agg, on=id_col, how="left_semi")

    # EXISTS semi-join: collect the candidate l2 geoms per (cell, l1) and
    # evaluate ONE early-exit any() kernel per group — the analogue of the
    # reference's rtree first-match short-circuit. Grouping on (cell, id)
    # instead of id alone keeps the aggregate MAP-SIDE (HashPartitioning
    # on the join's cell key satisfies the grouping's distribution — no
    # second full-payload shuffle); only matched ids shuffle for distinct.
    cands = pairs.groupBy(F.col(cell), F.col(f"l1_{id_col}").alias(id_col)).agg(
        F.first(F.col(g1)).alias("_g1"),
        F.collect_list(F.col(g2)).alias("_g2s"),
    )
    exists = (
        cands.where(_any_match_udf(sq)(F.col("_g1"), F.col("_g2s")))
        .select(id_col)
        .distinct()
    )
    return df1.join(exists, on=id_col, how="left_semi")


# ------------------------------------------------------ export_by_distance
def _ring_cells_udf(k: int):
    @pandas_udf("array<long>")
    def _ring(cells: pd.Series) -> pd.Series:
        out = []
        for c in cells:
            if c is None:
                out.append(None)
            else:
                out.append(np.unique(X.kring(int(c), k)).tolist())
        return pd.Series(out)

    return _ring


def ring_cells_expr(x, y, res: int, k: int):
    """All cell ids within Chebyshev distance ``k`` of the cell holding
    point (x, y) — pure JVM codegen (sequence x sequence, flatten), must
    produce the same ids as ``cells.kring``."""
    size = X.cell_size(res)
    n = (1 << res) - 1
    ix = F.least(
        F.greatest(F.floor((x + F.lit(X.WORLD)) / F.lit(size)).cast("long"), F.lit(0)),
        F.lit(n),
    )
    iy = F.least(
        F.greatest(F.floor((y + F.lit(X.WORLD)) / F.lit(size)).cast("long"), F.lit(0)),
        F.lit(n),
    )
    xs = F.sequence(F.greatest(ix - k, F.lit(0)), F.least(ix + k, F.lit(n)))
    ys = F.sequence(F.greatest(iy - k, F.lit(0)), F.least(iy + k, F.lit(n)))
    res_bits = F.lit(res << 58).cast("long")
    return F.flatten(
        F.transform(
            xs,
            lambda gx: F.transform(
                ys,
                lambda gy: res_bits.bitwiseOR(
                    F.shiftleft(gx, X._COORD_BITS)
                ).bitwiseOR(gy),
            ),
        )
    )


def parent_cell_expr(cell: "F.Column", res: int, parent_res: int) -> "F.Column":
    """Parent cell id at a coarser resolution — pure JVM bit arithmetic
    (the Spark twin of ``cells.parent``). The input column must hold
    ids at the single known resolution ``res`` (as produced by one
    ``with_cover`` pass)."""
    if parent_res > res:
        raise ValueError("parent_res must be coarser (<=) than res")
    shift = res - parent_res
    mask = F.lit((1 << X._COORD_BITS) - 1).cast("long")
    ix = F.shiftright(cell, X._COORD_BITS).bitwiseAND(mask)
    iy = cell.bitwiseAND(mask)
    return (
        F.lit(parent_res << 58)
        .cast("long")
        .bitwiseOR(F.shiftleft(F.shiftright(ix, shift), X._COORD_BITS))
        .bitwiseOR(F.shiftright(iy, shift))
    )


def _res_for_distance(d: float) -> int:
    """Finest res whose cell size is >= d (so a 1-ring covers distance d)."""
    if d <= 0:
        return X.MAX_RES
    res = int(np.floor(np.log2(2.0 * X.WORLD / d)))
    return int(np.clip(res, 0, X.MAX_RES))


def export_by_distance(
    df1: DataFrame,
    df2: DataFrame,
    max_distance: float,
    res: int | None = None,
    geom_col: str = "geom_wkb",
    id_col: str = "fid",
    metric: str = "planar",
) -> DataFrame:
    """Range semi-join: keep layer1 rows having any layer2 feature within
    max_distance (geofileops ``geoops.py:2437`` → ``_geoops_sql.py:
    1739-1802``: bbox expanded by distance, then ST_Distance <= d).

    ``metric="sphere"``: ``max_distance`` is haversine METERS over lon/lat
    point layers (the reference's geographic-CRS distance mode,
    ``geoops.py:3216-3224``) — composed as a 1-nearest sphere probe
    against a broadcast-small layer 2, so the same plan constraints as
    ``join_nearest(metric="sphere")`` apply."""
    if metric == "sphere":
        if pairing.choose("sphere", df2).path != "broadcast":
            # the sphere probe collects layer 2 onto the driver; refuse a
            # layer that would not broadcast rather than OOM silently
            raise ValueError(
                "export_by_distance(metric='sphere') requires a "
                "broadcast-small layer 2; pre-project to a planar CRS "
                "for the distributed path"
            )
        near = _broadcast_knn(
            df1.select(id_col, geom_col), df2.select(id_col, geom_col),
            nb_nearest=1, distance=max_distance, expand=False,
            geom_col=geom_col, id_col=id_col, metric="sphere",
        )
        key = near.select(F.col(f"l1_{id_col}").alias(id_col)).distinct()
        return df1.join(key, on=id_col, how="left_semi")
    if res is None:
        res = min(
            _res_for_distance(max_distance),
            estimate_res(df1, geom_col),
            estimate_res(df2, geom_col),
        )
    e1 = prefix_columns(with_cover(df1, res, geom_col), "l1_")
    e2 = prefix_columns(with_cover(df2, res, geom_col), "l2_")
    # expand side-2 cells by one ring so any pair within d shares a cell
    e2 = (
        e2.withColumn("_ring", F.explode(_ring_cells_udf(1)(F.col("l2__cell"))))
        .drop("l2__cell")
        .withColumnRenamed("_ring", "l2__cell")
    )
    cand = e1.hint("shuffle_hash").join(
        e2, F.col("l1__cell") == F.col("l2__cell")
    ).where(
        (F.col("l1__minx") <= F.col("l2__maxx") + max_distance)
        & (F.col("l2__minx") <= F.col("l1__maxx") + max_distance)
        & (F.col("l1__miny") <= F.col("l2__maxy") + max_distance)
        & (F.col("l2__miny") <= F.col("l1__maxy") + max_distance)
    )
    cand = cand.dropDuplicates([f"l1_{id_col}", f"l2_{id_col}"])
    near = cand.where(
        _distance_udf(F.col(f"l1_{geom_col}"), F.col(f"l2_{geom_col}"))
        <= F.lit(max_distance)
    )
    key = near.select(F.col(f"l1_{id_col}").alias(id_col)).distinct()
    return df1.join(key, on=id_col, how="left_semi")


# ------------------------------------------------------------ join_nearest
def _broadcast_knn(
    df1: DataFrame,
    df2: DataFrame,
    nb_nearest: int,
    distance: float,
    expand: bool,
    geom_col: str,
    id_col: str,
    metric: str = "planar",
) -> DataFrame:
    """kNN against a broadcast-small layer 2: collect l2 once, ship it to
    every task, and resolve each l1 row's k nearest INSIDE one
    mapInPandas pass — no candidate join, no dedup shuffle, no window
    (the broadcast-hash-join analogue for kNN; a dimension-sized l2 must
    never pay per-round shuffles). Exactness: bbox distances lower-bound
    geometry distances, so candidates are scanned in lower-bound order
    and refinement stops once the k-th exact distance <= the next lower
    bound. Ties rank by (distance, l2 id) like the ring path.

    ``metric="sphere"``: both layers must be lon/lat POINT layers;
    ``distance`` is in meters and the output ``distance`` column is the
    haversine great-circle distance (same IUGG radius as
    ``st_distance_sphere``), with ``distance_crs`` the planar degree
    distance — the reference's geographic-CRS split
    (``geoops.py:3216-3224``: meters via geodesic formulas, CRS units in
    ``distance_crs``)."""
    import pandas as pd

    from pyspark.sql.types import StructType

    spark = df1.sparkSession
    l2_prefixed = prefix_columns(df2, "l2_")
    l2_cols = l2_prefixed.columns
    l2_rows = l2_prefixed.collect()
    l2_geom = f"l2_{geom_col}"
    l2_id = f"l2_{id_col}"
    bc = pairing.broadcast(
        spark, [tuple(r[c] for c in l2_cols) for r in l2_rows]
    )
    c1 = prefix_columns(df1, "l1_")
    out_schema = StructType(
        list(c1.schema.fields)
        + [f for f in l2_prefixed.schema.fields if f.name != l2_geom]
    )
    from pyspark.sql.types import DoubleType as _D, IntegerType as _I, StructField as _SF

    out_schema = StructType(
        out_schema.fields + [_SF("pos", _I()), _SF("distance", _D())]
    )
    if metric == "sphere":
        out_schema = StructType(out_schema.fields + [_SF("distance_crs", _D())])
    g_idx = l2_cols.index(l2_geom)
    id_idx = l2_cols.index(l2_id)
    attr_cols = [c for c in l2_cols if c != l2_geom]
    l1_geom = f"l1_{geom_col}"

    def _tiekey(t):
        # ties rank by (distance, RAW l2 id) exactly like the ring path's
        # ORDER BY distance, l2_id — ids keep their column type (int or
        # str); None sorts last within a distance
        return (t[0], t[1] is None, t[1])

    def _knn(batches):
        rows = bc.value
        m = len(rows)
        geoms = []
        bbs = np.full((max(m, 1), 4), np.nan)
        all_l2_points = m > 0
        for i, r in enumerate(rows):
            g = W.loads(bytes(r[g_idx])) if r[g_idx] is not None else None
            geoms.append(g)
            if g is not None and not g.is_empty():
                bbs[i] = K.bounds(g)
                if g.typ != 1:
                    all_l2_points = False
            else:
                all_l2_points = False
        valid = np.isfinite(bbs[:, 0])
        if metric == "sphere":
            # point layers: bbs[:, 0:2] ARE the lon/lat coordinates
            l2lon = np.radians(bbs[:, 0])
            l2lat = np.radians(bbs[:, 1])
        ids = [r[id_idx] for r in rows]
        attrs = pd.DataFrame(
            [[r[l2_cols.index(c)] for c in attr_cols] for r in rows],
            columns=attr_cols,
        )
        out_names = [f.name for f in out_schema.fields]
        for pdf in batches:
            nrows = len(pdf)
            if m == 0 or nrows == 0:
                yield pd.DataFrame(columns=out_names)
                continue
            # decode the whole batch's l1 side up front
            l1wkb = pdf[l1_geom]
            pts1 = None
            if not l1wkb.isna().any():
                pts1 = W.points_from_wkb_list([bytes(b) for b in l1wkb])
            b1 = np.full((nrows, 4), np.nan)
            g1s: list = [None] * nrows
            if pts1 is not None:
                b1[:, 0] = pts1[:, 0]
                b1[:, 1] = pts1[:, 1]
                b1[:, 2] = pts1[:, 0]
                b1[:, 3] = pts1[:, 1]
            else:
                for i, b in enumerate(l1wkb):
                    if b is None:
                        continue
                    g = W.loads(bytes(b))
                    if g.is_empty():
                        continue
                    g1s[i] = g
                    b1[i] = K.bounds(g)
            # exact path: point x point distances ARE the bbox distances
            exact = pts1 is not None and all_l2_points
            if metric == "sphere" and not exact:
                raise ValueError(
                    "join_nearest(metric='sphere') requires non-NULL POINT "
                    "geometries on both layers (lon/lat); got non-point or "
                    "NULL rows"
                )
            emit_l1: list[int] = []
            emit_l2: list[int] = []
            emit_pos: list[int] = []
            emit_d: list[float] = []
            emit_dcrs: list[float] = []
            # the (batch x l2) lower-bound matrix is built in row chunks
            # bounded to ~4M cells (32 MB of float64 temporaries)
            chunk = max(1, 4_000_000 // m)
            for s in range(0, nrows, chunk):
                e = min(nrows, s + chunk)
                cb = b1[s:e]
                if metric == "sphere":
                    # exact haversine matrix (points x points): same
                    # formula + radius as st_distance_sphere
                    plon = np.radians(cb[:, 0])
                    plat = np.radians(cb[:, 1])
                    dlat = (l2lat[None, :] - plat[:, None]) / 2.0
                    dlon = (l2lon[None, :] - plon[:, None]) / 2.0
                    h = np.sin(dlat) ** 2 + (
                        np.cos(plat)[:, None]
                        * np.cos(l2lat)[None, :]
                        * np.sin(dlon) ** 2
                    )
                    with np.errstate(invalid="ignore"):
                        lb = 2.0 * _EARTH_RADIUS_M * np.arcsin(
                            np.sqrt(np.minimum(h, 1.0))
                        )
                    lb[:, ~valid] = np.inf
                    lb[~np.isfinite(cb[:, 0])] = np.inf
                    lb = np.where(np.isnan(lb), np.inf, lb)
                    kk = min(nb_nearest, int(valid.sum()))
                    if kk == 0:
                        continue
                    kth = np.partition(lb, kk - 1, axis=1)[:, kk - 1]
                    for i in range(e - s):
                        cap = kth[i] if expand else min(kth[i], distance)
                        cand = np.nonzero(
                            (lb[i] <= cap) & np.isfinite(lb[i])
                        )[0]
                        if len(cand) == 0:
                            continue
                        best = sorted(
                            ((float(lb[i][j]), ids[j], int(j)) for j in cand),
                            key=_tiekey,
                        )[:nb_nearest]
                        for pos, (d, _lid, oi) in enumerate(best, start=1):
                            emit_l1.append(s + i)
                            emit_l2.append(oi)
                            emit_pos.append(pos)
                            emit_d.append(d)
                            emit_dcrs.append(
                                float(
                                    np.hypot(
                                        cb[i, 0] - bbs[oi, 0],
                                        cb[i, 1] - bbs[oi, 1],
                                    )
                                )
                            )
                    continue
                dx = np.maximum(
                    np.maximum(
                        bbs[None, :, 0] - cb[:, None, 2],
                        cb[:, None, 0] - bbs[None, :, 2],
                    ),
                    0.0,
                )
                dy = np.maximum(
                    np.maximum(
                        bbs[None, :, 1] - cb[:, None, 3],
                        cb[:, None, 1] - bbs[None, :, 3],
                    ),
                    0.0,
                )
                lb = np.hypot(dx, dy)
                lb[:, ~valid] = np.inf
                lb[~np.isfinite(cb[:, 0])] = np.inf
                if exact:
                    kk = min(nb_nearest, int(valid.sum()))
                    if kk == 0:
                        continue
                    kth = np.partition(lb, kk - 1, axis=1)[:, kk - 1]
                    for i in range(e - s):
                        cap = kth[i] if expand else min(kth[i], distance)
                        cand = np.nonzero(
                            (lb[i] <= cap) & np.isfinite(lb[i])
                        )[0]
                        if len(cand) == 0:
                            continue
                        best = sorted(
                            ((float(lb[i][j]), ids[j], int(j)) for j in cand),
                            key=_tiekey,
                        )[:nb_nearest]
                        for pos, (d, _lid, oi) in enumerate(best, start=1):
                            emit_l1.append(s + i)
                            emit_l2.append(oi)
                            emit_pos.append(pos)
                            emit_d.append(d)
                    continue
                order = np.argsort(lb, axis=1, kind="stable")
                for i in range(e - s):
                    gi = s + i
                    g1 = g1s[gi]
                    if g1 is None:
                        if pts1 is None:
                            continue
                        from ..geometry import geom as G

                        g1 = G.Geometry(G.POINT, pts1[gi].copy())
                        g1s[gi] = g1
                    row_lb = lb[i]
                    best: list[tuple[float, object, int]] = []
                    kth_d = np.inf
                    for oi in order[i]:
                        l = row_lb[oi]
                        if not np.isfinite(l):
                            break  # NULL/empty l2 geometries sort last
                        if l > kth_d or (not expand and l > distance):
                            break
                        d = K.distance(g1, geoms[oi])
                        if not np.isfinite(d):
                            continue
                        if not expand and d > distance:
                            continue
                        best.append((float(d), ids[oi], int(oi)))
                        best.sort(key=_tiekey)
                        if len(best) > nb_nearest:
                            best.pop()
                        if len(best) == nb_nearest:
                            kth_d = best[-1][0]
                    for pos, (d, _lid, oi) in enumerate(best, start=1):
                        emit_l1.append(gi)
                        emit_l2.append(oi)
                        emit_pos.append(pos)
                        emit_d.append(d)
            if not emit_l1:
                yield pd.DataFrame(columns=out_names)
                continue
            l1part = pdf.iloc[emit_l1].reset_index(drop=True)
            l2part = attrs.iloc[emit_l2].reset_index(drop=True)
            outdf = pd.concat([l1part, l2part], axis=1)
            outdf["pos"] = np.asarray(emit_pos, dtype=np.int32)
            outdf["distance"] = np.asarray(emit_d, dtype=np.float64)
            if metric == "sphere":
                outdf["distance_crs"] = np.asarray(emit_dcrs, dtype=np.float64)
            yield outdf[out_names]

    res = c1.mapInPandas(_knn, schema=out_schema)
    if metric != "sphere":
        res = res.withColumn("distance_crs", F.col("distance"))
    # same output contract as the ring path: the layer-1 geometry
    # comes back under its ORIGINAL name
    return res.withColumnRenamed(f"l1_{geom_col}", geom_col)


def join_nearest(
    df1: DataFrame,
    df2: DataFrame,
    nb_nearest: int = 1,
    distance: float = None,
    expand: bool = True,
    res: int | None = None,
    geom_col: str = "geom_wkb",
    id_col: str = "fid",
    max_expand_rounds: int = 4,
    broadcast: bool | None = None,
    metric: str = "planar",
) -> DataFrame:
    """k-nearest join (geofileops ``geoops.py:3190`` →
    ``_geoops_sql.py:2581-2697``, Spatialite knn2 on the layer1 centroid).

    Spark plan: centroid cell → k-ring candidates join → exact distance →
    ``row_number() OVER (PARTITION BY l1_id ORDER BY distance) <= k``.
    Output adds ``pos`` (1..k), ``distance`` and ``distance_crs`` columns
    like the reference (planar engine: distance_crs == distance).

    ``expand`` semantics match the reference: ``distance`` is the INITIAL
    search radius; with ``expand=True`` the ring keeps growing (×4 per
    round) for rows that still have fewer than ``nb_nearest`` neighbours
    — even past ``distance`` — and a final exhaustive pass over layer 2
    resolves any stragglers, so every l1 row gets min(k, |l2|) rows.
    With ``expand=False`` only neighbours within ``distance`` qualify.

    Scale shape: the expansion ring is exploded on the REMAINING layer-1
    side (which shrinks every round); layer 2 keeps its one-time cover
    cells. When the un-exploded layer 2 scan fits an eighth of
    ``GFO_BROADCAST_BYTES`` (32 MB by default; see ``pairing.choose``)
    layer 2 is broadcast whole and no candidate join runs at all — a
    dimension-sized l2 must not pay a shuffle per round; big l2 sides
    get a forced shuffle-hash join (never an implicit broadcast of a
    UDF-exploded plan, whose size Catalyst misestimates).
    """
    if distance is None:
        raise ValueError("join_nearest requires a search `distance`")
    if metric not in ("planar", "sphere"):
        raise ValueError(f"metric must be 'planar' or 'sphere', got {metric!r}")
    if broadcast is None:
        bcast = pairing.choose("knn", df2).path == "broadcast"
    else:
        bcast = broadcast
    if bcast:
        # dimension-sized l2: no join at all (see _broadcast_knn). The
        # ring machinery below is the big-x-big shape; for a small l2 its
        # per-round shuffles and ring explosion dominate runtime (the r2
        # bench regression: rings grow to 1089 cells/row by round 3).
        return _broadcast_knn(
            df1, df2, nb_nearest, distance, expand, geom_col, id_col,
            metric=metric,
        )
    if metric == "sphere":
        # the ring machinery below generates candidates on a PLANAR cell
        # grid; a meters-radius search over lon/lat degrees would need a
        # latitude-aware degree bound per ring. The geodesic mode is the
        # nearest-city / geocoding shape — layer 2 is a dimension table —
        # so the broadcast path is the supported plan.
        raise ValueError(
            "metric='sphere' requires a broadcast-small layer 2 "
            "(pass broadcast=True or shrink layer 2); the distributed "
            "ring path is planar-only — pre-project to a planar CRS"
        )
    if res is None:
        # coarse bound: cell >= distance (1-ring covers the initial
        # radius in one round). For a broadcast-small l2 the coarse cell
        # is always right (the per-cell hash buckets stay small). On big
        # dense layers the candidate join can go quadratic within a cell
        # — prefer the density-derived finer resolution, at most 4 levels
        # finer (rings quadruple per round, so full-distance coverage
        # still lands by round 3).
        coarse = _res_for_distance(distance)
        if expand:
            res = max(coarse, min(estimate_res(df2, geom_col), coarse + 4))
        else:
            res = coarse

    from ..functions.st import st_centroid, st_x, st_y

    c1 = (
        prefix_columns(df1, "l1_")
        .withColumn("_cent", st_centroid(F.col(f"l1_{geom_col}")))
        .withColumn("_cx", st_x(F.col("_cent")))
        .withColumn("_cy", st_y(F.col("_cent")))
        .drop("_cent")
    )
    e2 = prefix_columns(with_cover(df2, res, geom_col), "l2_").withColumnRenamed(
        "l2__cell", "_cell"
    )
    if expand or X.cell_size(res) < distance:
        # the loop below may re-key this cover several times
        e2 = cache.track(e2.persist())

    def _rank(cand, lim):
        cand = cand.withColumn(
            "distance",
            _distance_udf(F.col(f"l1_{geom_col}"), F.col(f"l2_{geom_col}")),
        )
        if lim is not None:
            cand = cand.where(F.col("distance") <= F.lit(lim))
        w = Window.partitionBy(f"l1_{id_col}").orderBy("distance", f"l2_{id_col}")
        ranked = cand.withColumn("pos", F.row_number().over(w)).where(
            F.col("pos") <= nb_nearest
        )
        return ranked.drop("_cell")

    # Hierarchical expansion: level j joins a 1-ring of the l1 centroid's
    # cell at res_j = res - 2j against the PARENT cells of the one-time l2
    # cover (pure bit arithmetic — layer 2 is never re-covered). Each
    # level quadruples the guaranteed radius (cell_size(res_j)) while the
    # l1 explode stays at 9 cells/row, and res_j == 0 degenerates to a
    # single world cell — a hash join against all of layer 2 for the few
    # true stragglers, never a CartesianProduct (the previous straggler
    # crossJoin went quadratic on a layer-1 of isolated points).
    results = None
    remaining = c1
    res_j = res
    for level in range(max_expand_rounds + 1):
        final_level = level == max_expand_rounds or res_j == 0
        if final_level and expand:
            # last level joins the single world cell: a plain hash join
            # of the (almost always tiny) remaining set against all of
            # layer 2 — complete by construction, never a CartesianProduct
            # (a crossJoin here went quadratic on isolated-point layers),
            # and the lazy plan stays bounded at max_expand_rounds levels
            # (an unbounded level loop made Catalyst re-optimize a
            # quadratically growing tree per level — measured minutes of
            # driver CPU on a 2-row input).
            res_j = 0
        r1 = remaining.withColumn(
            "_cell",
            F.explode(ring_cells_expr(F.col("_cx"), F.col("_cy"), res_j, 1)),
        )
        e2j = (
            e2
            if res_j == res
            else e2.withColumn("_cell", parent_cell_expr(F.col("_cell"), res, res_j))
        )
        cand = r1.hint("shuffle_hash").join(e2j, "_cell").dropDuplicates(
            [f"l1_{id_col}", f"l2_{id_col}"]
        )
        guaranteed = X.cell_size(res_j)  # radius fully covered by the ring
        if res_j == 0:
            # the ring IS the whole world: every candidate set is complete
            ranked = _rank(cand, None if expand else distance)
            results = ranked if results is None else results.unionByName(ranked)
            remaining = None
            break
        # a neighbour found this level is only a CONFIRMED top-k if it is
        # within the guaranteed radius (a closer one could hide in an
        # unvisited cell). expand=False additionally caps at `distance`.
        lim = guaranteed if expand else min(distance, guaranteed)
        ranked = _rank(cand, lim)
        if not expand and guaranteed >= distance:
            # the ring fully covers the capped search radius: every row
            # is final, within-distance misses legitimately get no rows
            results = ranked if results is None else results.unionByName(ranked)
            remaining = None
            break
        counts = ranked.groupBy(f"l1_{id_col}").agg(F.count("*").alias("_n"))
        done_ids = counts.where(F.col("_n") >= nb_nearest).select(f"l1_{id_col}")
        done = ranked.join(done_ids, f"l1_{id_col}", "left_semi")
        results = done if results is None else results.unionByName(done)
        remaining = remaining.join(done_ids, f"l1_{id_col}", "left_anti")
        res_j = max(res_j - 2, 0)
    if remaining is not None and not expand:
        # expand=False ran out of levels before the rings covered
        # `distance` (max_expand_rounds too small for the chosen res):
        # one complete world-cell pass for the leftovers, capped at
        # `distance` — same contract, bounded plan
        r1 = remaining.withColumn(
            "_cell", F.explode(ring_cells_expr(F.col("_cx"), F.col("_cy"), 0, 1))
        )
        e2j = e2.withColumn("_cell", parent_cell_expr(F.col("_cell"), res, 0))
        cand = r1.hint("shuffle_hash").join(e2j, "_cell").dropDuplicates(
            [f"l1_{id_col}", f"l2_{id_col}"]
        )
        tail = _rank(cand, distance)
        results = tail if results is None else results.unionByName(tail)
    out = results.withColumn("distance_crs", F.col("distance"))
    out = drop_helper_columns(
        out.drop("_cx", "_cy", "_cell", "_n", f"l2_{geom_col}")
    )
    return out.withColumnRenamed(f"l1_{geom_col}", geom_col)


# ------------------------------------------- delete_duplicate_geometries
def delete_duplicate_geometries(
    df: DataFrame,
    priority_column: str | None = None,
    priority_ascending: bool = True,
    geom_col: str = "geom_wkb",
) -> DataFrame:
    """Drop rows whose geometry equals a kept row's geometry, keeping the
    best priority (geofileops ``geoops.py:985`` → ``_geoops_sql.py:
    164-249``, FIRST_VALUE over rtree candidates). Implemented as a
    window over a POINT-SET-canonical geometry hash — a salted-join-free
    formulation that scales as a single shuffle on the hash.

    Canonical form = ``remove_collinear().normalize()``: vertex-level
    differences ST_Equals ignores (inserted edge midpoint, split edge,
    ring start/orientation, part order) hash identically, so
    vertex-different-but-equal geometries dedupe like the reference's
    ST_Equals verify. Deviation (documented): geometries equal as point
    sets only under a different RING DECOMPOSITION (e.g. one polygon
    drawn as two abutting rings) are not detected."""

    from pyspark.sql.types import BinaryType

    @pandas_udf(BinaryType())
    def _normwkb(wkb: pd.Series) -> pd.Series:
        out = []
        for b in wkb:
            if b is None:
                out.append(None)
            else:
                out.append(
                    W.dumps(W.loads(bytes(b)).remove_collinear().normalize())
                )
        return pd.Series(out)

    # hash JVM-side (xxhash64) over the normalized WKB
    _normwkb_nd = _normwkb.asNondeterministic()
    tagged = df.withColumn("_gh", F.xxhash64(_normwkb_nd(F.col(geom_col))))
    # tiebreak by a deterministic whole-row hash, NOT
    # monotonically_increasing_id: task retries must keep the SAME row
    # (downstream checkpoint fingerprints assume hash-stable reruns)
    row_hash = F.xxhash64(*[F.col(c) for c in df.columns])
    if priority_column is not None:
        order = (
            F.col(priority_column).asc()
            if priority_ascending
            else F.col(priority_column).desc()
        )
        w = Window.partitionBy("_gh").orderBy(order, row_hash)
    else:
        w = Window.partitionBy("_gh").orderBy(row_hash)
    return (
        tagged.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_gh", "_rn")
    )
