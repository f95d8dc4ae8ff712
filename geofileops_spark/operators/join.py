"""Spatial join family: join_by_location, export_by_location,
export_by_distance, join_nearest, equi join, delete_duplicate_geometries.

Spark-first re-expression of geofileops' theta-joins
(``_geoops_sql.py:2105-2697`` and ``:1541-1802``). A location join
takes one of two physical plans: the broadcast probe (layer 2
grid-indexed and broadcast, layer 1 streamed map-side, see
``index/pairing.py``) when layer 2 fits the broadcast budget, else the
distributed cell-equi hash join (celljoin.py). Both plans, and
``join_points_in_polygons``' grid probe, settle their (row, candidate)
pairs with the one refine kernel :func:`refine_pairs`; the broadcast
probes run through the one probe driver, ``pairing.probe``. kNN is a
broadcast probe or a cell-ring-expansion join + window top-k
(SURVEY.md §2.4 mapping table).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
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
from ..session import local_frame


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


# ------------------------------------------------------ the pair refine
_INTERSECTS = SpatialQuery("intersects is True")

# point-vs-area simple predicates settled by the classification
# (0 outside, 1 boundary, 2 interior) of kernels.points_in_multipolygon
_PIP_PRED = {
    "intersects": lambda c: c >= 1,
    "disjoint": lambda c: c == 0,
    "within": lambda c: c == 2,
    "coveredby": lambda c: c >= 1,
    "touches": lambda c: c == 1,
}


def _pip_pairs_flat(pts: np.ndarray, geoms: list, inv: np.ndarray) -> np.ndarray:
    """Elementwise 0/1/2 classification of the (``pts[i]``,
    ``geoms[inv[i]]``) pairs — the pair-FLATTENED twin of
    ``kernels.points_in_multipolygon`` with identical EPS formulas, for
    batches where the per-distinct-geometry loop degenerates (many
    distinct small polygons with ~1 point each, e.g.
    interior-points-vs-parcels): each distinct geometry's rings are
    gathered once, and all pairs' ring segments run through one set of
    whole-batch numpy sweeps."""
    from ..geometry.kernels import EPS

    rings: list[np.ndarray] = []
    ext: list[bool] = []  # a polygon's exterior ring, not a hole
    ring_lo = np.zeros(len(geoms) + 1, dtype=np.int64)
    for u, g in enumerate(geoms):
        for poly in g.polygons():
            rings.extend(poly)
            ext.extend([True] + [False] * (len(poly) - 1))
        ring_lo[u + 1] = len(rings)
    m = np.fromiter((max(len(r) - 1, 0) for r in rings), np.int64, count=len(rings))
    seg_lo = np.cumsum(m) - m
    S = np.concatenate([r[:-1] for r in rings] + [np.empty((0, 2))])
    E = np.concatenate([r[1:] for r in rings] + [np.empty((0, 2))])
    # (pair, ring) rows, then their segments, pair by pair
    ring_of, pair_of = pairing._flat_ranges(ring_lo[inv], ring_lo[inv + 1])
    seg_of, row_of = pairing._flat_ranges(seg_lo[ring_of], seg_lo[ring_of] + m[ring_of])
    x = pts[pair_of[row_of], 0]
    y = pts[pair_of[row_of], 1]
    x1 = S[seg_of, 0]
    y1 = S[seg_of, 1]
    dx = E[seg_of, 0] - x1
    dy = E[seg_of, 1] - y1
    rx = x - x1
    ry = y - y1
    cross = rx * dy - ry * dx
    seg_len2 = dx * dx + dy * dy
    on_line = cross * cross <= (EPS * 1e6) ** 2 * np.maximum(seg_len2, EPS)
    dot = rx * dx + ry * dy
    on_seg = on_line & (dot >= -EPS) & (dot <= seg_len2 + EPS)
    cond = (y1 > y) != (E[seg_of, 1] > y)
    with np.errstate(divide="ignore", invalid="ignore"):
        xints = x1 + (y - y1) * dx / np.where(dy == 0, np.inf, dy)
    crossed = cond & (x < xints)
    nseg = m[ring_of]
    code = np.zeros(len(ring_of), dtype=np.int8)
    nz = np.nonzero(nseg > 0)[0]
    if len(nz):
        starts = (np.cumsum(nseg) - nseg)[nz]
        code[nz[(np.add.reduceat(crossed.astype(np.int64), starts) % 2) == 1]] = 2
        code[nz[np.add.reduceat(on_seg, starts) > 0]] = 1
    # per polygon (same rules as points_in_polygon): interior of the
    # exterior ring becomes outside / boundary at the FIRST hole whose
    # code is interior / boundary; then the max over a pair's polygons
    is_ext = np.asarray(ext, dtype=bool)[ring_of]
    poly_of = np.cumsum(is_ext) - 1
    res = code[is_ext]
    holes = np.nonzero(~is_ext & (code >= 1))[0]
    polys, first = np.unique(poly_of[holes], return_index=True)
    inside = res[polys] == 2
    res[polys[inside]] = np.where(code[holes[first[inside]]] == 2, 0, 1)
    codes = np.zeros(len(inv), dtype=np.int8)
    np.maximum.at(codes, pair_of[is_ext], res)
    return codes


def refine_pairs(sq, g1s, B1, pr, geom_at, B2, pl, pts=None, stop=None):
    """The one refine of the join family: does subject ``g1s[pr[t]]``
    relate to candidate ``geom_at(pl[t])`` as ``sq`` asks? One bool per
    pair. ``B1``/``B2`` are the subjects' / candidates' bboxes (NaN for
    EMPTY); no pair may hold a NULL geometry. ``pts`` gives the
    subjects' POINT coordinates (NaN rows for the rest; read from
    ``g1s`` when omitted), and with ``g1s=None`` every subject is the
    point of its ``pts`` row.

    A simple query (the reference's optimize_simple_queries,
    ``_geoops_sql.py:2398-2445``) settles whole groups of pairs at once:

    1. POINT x (MULTI)POLYGON pairs of a PIP-expressible predicate: one
       points-in-polygon classification per candidate, or one
       pair-flattened sweep when candidates average under 64 points;
    2. plain ``intersects``/``disjoint``: bbox-disjoint pairs do not
       intersect, and one windowed segment-hit sweep proves the pairs
       whose boundaries cross.

    Every other pair runs the named predicate, or the DE-9IM matrix of
    a compound query. ``stop`` is the per-row "any" form of the EXISTS
    (``True``) and for-all (``False``) shapes: a subject's remaining
    pairs are skipped once one of them answered ``stop``, so only
    ``any(result == stop)`` per subject is exact."""
    ok = np.zeros(len(pr), dtype=bool)
    todo = np.ones(len(pr), dtype=bool)
    name, want = sq.simple or (None, None)

    def g1_at(i):
        return G.Geometry.point(*pts[i]) if g1s is None else g1s[i]

    if name in _PIP_PRED and len(pr):
        if pts is None:
            pts = np.full((len(g1s), 2), np.nan)
            for i, g in enumerate(g1s):
                if g is not None and g.typ == G.POINT:
                    pts[i] = g.data
        t = np.nonzero(np.isfinite(pts[pr]).all(axis=1))[0]
        u = np.unique(pl[t])
        areal = [geom_at(j).typ in (G.POLYGON, G.MULTIPOLYGON) for j in u]
        t = t[np.isin(pl[t], u[np.asarray(areal, dtype=bool)])]
        if len(t):
            u, inv = np.unique(pl[t], return_inverse=True)
            if len(u) * 64 > len(t):
                cls = _pip_pairs_flat(pts[pr[t]], [geom_at(j) for j in u], inv)
            else:
                cls = np.empty(len(t), dtype=np.int8)
                order = np.argsort(inv, kind="stable")
                cuts = np.cumsum(np.bincount(inv))[:-1]
                for j, grp in zip(u, np.split(order, cuts)):
                    cls[grp] = K.points_in_multipolygon(pts[pr[t[grp]]], geom_at(j))
            ok[t] = _PIP_PRED[name](cls) == want
            todo[t] = False

    if name in ("intersects", "disjoint"):
        t = np.nonzero(todo)[0]
        b1, b2 = B1[pr[t]], B2[pl[t]]
        w = np.column_stack((
            np.maximum(b1[:, 0], b2[:, 0]), np.maximum(b1[:, 1], b2[:, 1]),
            np.minimum(b1[:, 2], b2[:, 2]), np.minimum(b1[:, 3], b2[:, 3]),
        ))
        meet = (w[:, 0] <= w[:, 2]) & (w[:, 1] <= w[:, 3])
        hit = np.zeros(len(t), dtype=bool)
        live = np.nonzero(meet)[0]
        if len(live):
            # window_segments pre-prunes LARGE geometries per pair: the
            # sweep concatenates every pair's segments before its own
            # prune, and a 10k-edge part in thousands of pairs is GBs
            seg_a = [K.window_segments(g1_at(pr[t[r]]), *w[r]) for r in live]
            seg_b = [K.window_segments(geom_at(pl[t[r]]), *w[r]) for r in live]
            hit[live] = K.batch_segment_hits(seg_a, seg_b, windows=w[live])
        # bbox-disjoint pairs and certain crossings are settled; the rest
        # (containment, collinear touch) take the exact predicate
        settled = ~meet | hit
        ok[t[settled]] = (hit[settled] == (name == "intersects")) == want
        todo[t[settled]] = False

    rest = np.nonzero(todo)[0]
    if len(rest):
        fn = P.PREDICATE_FNS[name] if name else None
        done = None
        if stop is not None:
            done = np.zeros(int(pr.max()) + 1, dtype=bool)
            done[pr[~todo & (ok == stop)]] = True
        for t, i, j in zip(rest.tolist(), pr[rest].tolist(), pl[rest].tolist()):
            if done is not None and done[i]:
                continue
            g1, g2 = g1_at(i), geom_at(j)
            ok[t] = (
                bool(fn(g1, g2)) == want if fn
                else sq.matches(P.relate_matrix(g1, g2))
            )
            if done is not None and ok[t] == stop:
                done[i] = True
    return ok


def _rows_any(ok: np.ndarray, pr: np.ndarray, stop: bool, n: int) -> np.ndarray:
    """Per subject row: did any of its pairs answer ``stop``?"""
    hit = np.zeros(n, dtype=bool)
    hit[pr[ok == stop]] = True
    return hit


def _subjects(col: pd.Series):
    """Per-row subject side of a cell-join batch for :func:`refine_pairs`:
    ``(g1s, B1, pts)`` with NULL rows None and NaN bboxes. An all-POINT
    column takes the vectorized 21-byte decode (``g1s`` None); any
    other decodes each distinct blob once."""
    nn = col.notna().to_numpy()
    pts = W.points_from_wkb_list([bytes(b) for b in col[nn]])
    if pts is not None:
        xy = np.full((len(col), 2), np.nan)
        xy[nn] = pts
        return None, np.column_stack([xy, xy]), xy
    codes, uniq = pd.factorize(col.map(bytes, na_action="ignore"))
    uniq = list(uniq)
    geoms = [W.loads(b) for b in uniq] + [None]
    # code -1 (NULL) reads the appended None / NaN row
    B1 = np.vstack([W.bounds_from_wkb_batch(uniq), np.full((1, 4), np.nan)])
    return [geoms[c] for c in codes], B1[codes], None


def _candidates(col: pd.Series):
    """Candidate side of a cell-join batch for :func:`refine_pairs`:
    ``(pl, geom_at, B2)`` over the distinct blobs (``pl`` -1 = NULL), so
    the PIP step groups the pairs by distinct geometry."""
    codes, uniq = pd.factorize(col.map(bytes, na_action="ignore"))
    uniq = list(uniq)
    geoms = [W.loads(b) for b in uniq]
    return codes, geoms.__getitem__, W.bounds_from_wkb_batch(uniq)


def query_match_udf(query: SpatialQuery):
    """Boolean pandas UDF: does each (l1, l2) cell-join pair satisfy the
    query? NULL on either side is False; the pairs run through
    :func:`refine_pairs`."""

    @pandas_udf(BooleanType())
    def _match(wkb1: pd.Series, wkb2: pd.Series) -> pd.Series:
        g1s, B1, pts = _subjects(wkb1)
        pl, at, B2 = _candidates(wkb2)
        pr = np.nonzero(wkb1.notna().to_numpy() & (pl >= 0))[0]
        out = np.zeros(len(wkb1), dtype=bool)
        out[pr] = refine_pairs(query, g1s, B1, pr, at, B2, pl[pr], pts=pts)
        return pd.Series(out, dtype="boolean")

    return _match


def _any_match_udf(query: SpatialQuery, want_match: bool = True):
    """(g1, array<g2>) -> does ANY candidate satisfy (``want_match=True``)
    / violate (``want_match=False``) the relation? The per-row early
    exit of :func:`refine_pairs` stops a row at its first witness."""

    @pandas_udf(BooleanType())
    def _any(wkb1: pd.Series, others: pd.Series) -> pd.Series:
        rows, flat = [], []
        for i, (b1, arr) in enumerate(zip(wkb1, others)):
            if b1 is not None and arr is not None:
                for b2 in arr:
                    if b2 is not None:
                        rows.append(i)
                        flat.append(b2)
        if not rows:
            return pd.Series(np.zeros(len(wkb1), dtype=bool), dtype="boolean")
        pr = np.asarray(rows, dtype=np.int64)
        g1s, B1, pts = _subjects(wkb1)
        pl, at, B2 = _candidates(pd.Series(flat, dtype=object))
        ok = refine_pairs(query, g1s, B1, pr, at, B2, pl, pts=pts, stop=want_match)
        return pd.Series(_rows_any(ok, pr, want_match, len(wkb1)), dtype="boolean")

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
def _join_broadcast_pairs(
    df1: DataFrame,
    df2: DataFrame,
    sq: SpatialQuery,
    geom_col: str,
) -> DataFrame | None:
    """Map-side pair generation for :func:`join_by_location`: layer 2
    is collected once with its attributes, grid-indexed and broadcast;
    layer 1 streams through the probe driver (``pairing.probe``), which
    emits a finished row per (l1, l2) pair :func:`refine_pairs` accepts,
    the l2 attributes taken from the index rows by position — zero
    shuffles and no join end to end (the reference holds layer 2's rtree
    in every worker process, ``_geoops_sql.py:2185-2342``). Returns the
    ``matched`` frame in the standard output shape (l1_-prefixed
    columns, ``geom_col``, l2_-prefixed attributes), or None when the
    broadcast cannot be built (no valid layer-2 geometry / more than
    ``pairing.MAX_ROWS`` rows) and the caller must use the distributed
    plan."""
    bc = pairing.build(df2, geom_col)
    if bc is None or bc is pairing.OVER_CAP:
        return None

    def _step(b):
        return refine_pairs(sq, b.g1s, b.B1, b.pr, b.geom2, b.B2, b.pl)

    return pairing.probe(
        df1, bc, _step, geom_col,
        columns={c: c if c == geom_col else f"l1_{c}" for c in df1.columns},
        l2={f"l2_{f.name}": f for f in df2.schema.fields if f.name != geom_col},
    )


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
) -> DataFrame:
    """Spatial theta-join (geofileops ``geoops.py:3051`` →
    ``_geoops_sql.py:2185-2342``). Output: layer1 geometry + l1_/l2_
    prefixed attributes; ``discard_nonmatching=False`` appends unmatched
    layer1 rows with NULL l2 columns (left-join semantics).

    Plan selection: when layer 2 fits the broadcast budget
    (``GFO_BROADCAST_BYTES``, see ``pairing.choose``) and no
    intersection-area column is asked for, pairs generate map-side
    against a broadcast grid index — zero shuffles (the reference's
    per-worker rtree shape). Otherwise, or when layer 2 is over
    ``pairing.MAX_ROWS`` rows: the distributed cell join — the 100-TB
    default. No argument overrides the choice."""
    sq = SpatialQuery(spatial_relations_query).avoid_disjoint()
    matched = None
    if (
        min_area_intersect is None
        and area_inters_column_name is None
        and pairing.choose("pairs", df2).path == "broadcast"
    ):
        matched = _join_broadcast_pairs(df1, df2, sq, geom_col)
    if matched is None:
        pairs, res = candidate_pairs(
            df1, df2, res=res, geom_col1=geom_col, geom_col2=geom_col,
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
def join_points_in_polygons(
    points: DataFrame,
    polys: DataFrame,
    x_col: str = "lon",
    y_col: str = "lat",
    poly_id_col: str = "fid",
    geom_col: str = "geom_wkb",
    max_polys: int = 100_000,
) -> DataFrame:
    """Broadcast point-in-polygon join: the fast path for the canonical
    "billions of points x small polygon dimension" shape (pages x
    zones). At most ``max_polys`` polygons are collected once (more
    raise ``ValueError``: use ``join_by_location``), and the point scan
    streams map-side with no shuffle at all:

    - an all-rectangle polygon side becomes a broadcast nested-loop join
      on a BETWEEN predicate, with no Python anywhere in the plan;
    - any other polygon side is grid-indexed and broadcast, and the
      points stream through the probe driver (``pairing.probe``), as
      :func:`join_by_location`'s do: each Arrow batch asks the grid for
      its candidate polygons, settles them with :func:`refine_pairs`
      (``intersects``: boundary points match) and emits one row per
      matching (point, polygon) pair.

    Output: points columns + ``{poly_id_col}`` of the matched polygon
    (one row per (point, polygon) containment pair); the id column
    replaces a points column of the same name.
    """
    rows = polys.select(poly_id_col, geom_col).limit(max_polys + 1).collect()
    if len(rows) > max_polys:
        raise ValueError(
            f"polygon side has more than {max_polys} rows; use "
            "join_by_location instead"
        )
    payload = [(r[0], bytes(r[1])) for r in rows if r[1] is not None]
    geoms = [W.loads(b) for _, b in payload]
    # the output id column REPLACES a same-named points column
    points = points.drop(poly_id_col)

    # all-rectangle polygon side (bbox zones, tiles): containment becomes
    # a broadcast nested-loop join on a BETWEEN predicate — pure JVM
    # codegen, ZERO Python in the entire join. Measured (16M pages x 5
    # zones, min-of-3) against the numpy bitmask UDF that then served
    # small polygon sides: c8 10.2 s vs 9.5 s, but c32 5.4 s vs 17.8 s
    # in the same window — the Python-worker Arrow socket traffic
    # saturates this VM's kernel above ~8 threads, while the JVM join
    # keeps scaling; on a real cluster avoiding the Python workers
    # entirely is strictly better.
    from ..geometry.clip import _as_rect, _open_ring

    rects = []
    for (pid, _), g in zip(payload, geoms):
        parts = g.polygons()
        r4 = (
            _as_rect(_open_ring(parts[0][0]))
            if len(parts) == 1 and len(parts[0]) == 1
            else None
        )
        if r4 is None:
            rects = None
            break
        rects.append((pid, r4))
    id_type = polys.schema[poly_id_col].dataType
    if rects is not None and 0 < len(rects) <= 10_000:
        # a driver-built LocalRelation: the broadcast builds from
        # driver-resident rows with no job, and the ids keep their type
        rdf = local_frame(
            points.sparkSession,
            [(pid, *map(float, r4)) for pid, r4 in rects],
            StructType(
                [StructField(poly_id_col, id_type)]
                + [StructField(c, DoubleType()) for c in ("_rx0", "_ry0", "_rx1", "_ry1")]
            ),
        )
        x, y = F.col(x_col), F.col(y_col)
        out = points.join(
            F.broadcast(rdf),
            (x >= F.col("_rx0")) & (x <= F.col("_rx1"))
            & (y >= F.col("_ry0")) & (y <= F.col("_ry1")),
        )
        return out.drop("_rx0", "_ry0", "_rx1", "_ry1")

    # any other polygon side: the bbox grid of the pairing module, and
    # per batch one vectorized probe and one refine of its candidates
    bbs = np.asarray([K.bounds(g) for g in geoms], dtype=np.float64).reshape(-1, 4)
    valid = np.isfinite(bbs[:, 0])
    if not valid.any():  # no polygon or only EMPTY ones: nothing matches
        return points.withColumn(poly_id_col, F.lit(None).cast(id_type)).limit(0)
    bc = pairing.broadcast(
        points.sparkSession,
        pairing.Index(
            bbs[valid],
            pa.table({
                poly_id_col: pa.array(
                    [pid for (pid, _), v in zip(payload, valid) if v],
                    to_arrow_type(id_type),
                ),
                geom_col: [b for (_, b), v in zip(payload, valid) if v],
            }),
            geom=geom_col, point_cells=256,
        ),
    )

    def _step(b):
        return refine_pairs(
            _INTERSECTS, None, b.B1, b.pr, b.geom2, b.B2, b.pl, pts=b.pts
        )

    return pairing.probe(
        points, bc, _step, (x_col, y_col), l2={poly_id_col: polys.schema[poly_id_col]}
    )


# ------------------------------------------------------ export_by_location
def _export_broadcast(
    df1: DataFrame,
    df2: DataFrame,
    sq: SpatialQuery,
    min_area_intersect: float | None,
    geom_col: str,
) -> DataFrame | None:
    """Map-side export_by_location: layer 2's WKBs are collected once
    (``pairing.build``), grid-indexed and broadcast; layer 1 streams
    through the probe driver (``pairing.probe``) with zero shuffles —
    the Spark twin of the reference's in-process rtree probe (each gfo
    worker process holds layer 2's rtree in RAM,
    ``_geoops_sql.py:1541-1736``). Guarded by ``GFO_BROADCAST_BYTES``
    (``pairing.choose``) and by the build's row cap: past
    ``pairing.MAX_ROWS`` rows this returns None and the caller takes the
    distributed cell join.
    """
    anti = sq.true_for_disjoint
    bc = pairing.build(df2.select(geom_col), geom_col)
    if bc is pairing.OVER_CAP:
        return None
    if bc is None:
        # empty layer 2: EXISTS fails everywhere; the for-ALL (disjoint)
        # filter holds vacuously everywhere
        return df1 if anti else df1.limit(0)

    def _step(b):
        # rows with NULL/empty geometry or zero candidates: EXISTS fails,
        # the for-ALL filter holds vacuously (matches the cell-join plan
        # where such rows never enter the pair stream)
        if min_area_intersect is None:
            # the early-exit target is the semi branch's witness / the
            # anti branch's violator
            ok = refine_pairs(
                sq, b.g1s, b.B1, b.pr, b.geom2, b.B2, b.pl, stop=not anti
            )
            return _rows_any(ok, b.pr, not anti, b.n) != anti
        from ..geometry import clip as C

        ok = refine_pairs(sq, b.g1s, b.B1, b.pr, b.geom2, b.B2, b.pl)
        total = np.zeros(b.n)
        for i, j in zip(b.pr[ok].tolist(), b.pl[ok].tolist()):
            if total[i] < min_area_intersect:
                total[i] += K.area(C.intersection(b.g1s[i], b.geom2(j)))
        # like the cell plan's area sum, only rows with a matching pair
        keep = np.zeros(b.n, dtype=bool)
        keep[b.pr[ok]] = total[b.pr[ok]] >= min_area_intersect
        return keep

    return pairing.probe(df1, bc, _step, geom_col, rows=True)


def export_by_location(
    df1: DataFrame,
    df2: DataFrame,
    spatial_relations_query: str = "intersects is True",
    min_area_intersect: float | None = None,
    res: int | None = None,
    geom_col: str = "geom_wkb",
    id_col: str = "fid",
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

    ``min_area_intersect`` keeps the rows whose intersection areas with
    the matching layer-2 rows sum to at least that much. It raises
    ``ValueError`` with a query that holds for disjoint geometries
    (``intersects is False``, ``disjoint is True``): such a query keeps
    the rows for which it holds against ALL of layer 2, and what an area
    threshold would mean there is not settled.

    Two physical plans, picked by layer 2's size alone (no argument
    overrides the choice):

    - **broadcast probe** (when layer 2 fits ``GFO_BROADCAST_BYTES``,
      see ``pairing.choose``, and has at most ``pairing.MAX_ROWS``
      rows): layer 2 grid-indexed in RAM, layer 1 streamed map-side,
      zero shuffles — the reference's in-process-rtree shape.
    - **distributed cell join** (the 100-TB shape): payload-trimmed
      cover explode → cell hash join → per-(cell, l1) early-exit EXISTS
      aggregate (no re-shuffle: the aggregate reuses the join's hash
      partitioning on the cell) → distinct matched ids → semi-join.
    """
    sq = SpatialQuery(spatial_relations_query)
    if min_area_intersect is not None and sq.true_for_disjoint:
        raise ValueError(
            "min_area_intersect needs a query that fails for disjoint "
            f"geometries, not {spatial_relations_query!r}"
        )
    # decide on the RAW layer-2 scan — subdivision rewrites the plan and
    # would hide the scan-size statistic from the sizer
    fits = pairing.choose("pairs", df2).path == "broadcast"
    if subdivide_coords is not None and subdivide_coords > 0:
        if sq.simple is not None and sq.simple[0] in ("intersects", "disjoint"):
            from .overlay import subdivide_layer

            df2 = subdivide_layer(
                df2.select(geom_col), subdivide_coords, geom_col
            )
    if fits:
        out = _export_broadcast(df1, df2, sq, min_area_intersect, geom_col)
        if out is not None:
            return out
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
    against a broadcast-small layer 2. It raises ``ValueError`` when
    layer 2 has more than ``pairing.MAX_ROWS // 2`` rows."""
    if metric == "sphere":
        near = _broadcast_knn(
            df1.select(id_col, geom_col), df2.select(id_col, geom_col),
            nb_nearest=1, distance=max_distance, expand=False,
            geom_col=geom_col, id_col=id_col, metric="sphere",
        )
        if near is None:
            # layer 2 is over the kNN probe's row cap: refuse it rather
            # than collect it onto the driver
            raise ValueError(
                "export_by_distance(metric='sphere') requires a "
                "broadcast-small layer 2; pre-project to a planar CRS "
                "for the distributed path"
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
) -> DataFrame | None:
    """kNN against a broadcast-small layer 2: collect l2 once, ship it to
    every task, and resolve each l1 row's k nearest INSIDE one
    mapInPandas pass — no candidate join, no dedup shuffle, no window
    (the broadcast-hash-join analogue for kNN; a dimension-sized l2 must
    never pay per-round shuffles). Exactness: bbox distances lower-bound
    geometry distances, so candidates are scanned in lower-bound order
    and refinement stops once the k-th exact distance <= the next lower
    bound. Ties rank by (distance, l2 id) like the ring path.

    Every task scans all of layer 2, so its one collect is bounded at
    ``pairing.MAX_ROWS // 2 + 1`` rows: past that cap this returns None
    (the row cap costs no count) and the caller takes the ring path, or
    refuses a sphere call.

    ``metric="sphere"``: both layers must be lon/lat POINT layers;
    ``distance`` is in meters and the output ``distance`` column is the
    haversine great-circle distance (same IUGG radius as
    ``st_distance_sphere``), with ``distance_crs`` the planar degree
    distance — the reference's geographic-CRS split
    (``geoops.py:3216-3224``: meters via geodesic formulas, CRS units in
    ``distance_crs``)."""
    row_cap = pairing.MAX_ROWS // 2
    l2 = prefix_columns(df2, "l2_")
    l2_rows = l2.limit(row_cap + 1).collect()
    if len(l2_rows) > row_cap:
        return None
    bc = pairing.broadcast(df1.sparkSession, [tuple(r) for r in l2_rows])
    l2_cols = l2.columns
    l2_geom = f"l2_{geom_col}"
    c1 = prefix_columns(df1, "l1_")
    out_schema = StructType(
        c1.schema.fields
        + [f for f in l2.schema.fields if f.name != l2_geom]
        + [StructField("pos", IntegerType()), StructField("distance", DoubleType())]
        + ([StructField("distance_crs", DoubleType())] if metric == "sphere" else [])
    )
    out_names = [f.name for f in out_schema.fields]
    g_idx = l2_cols.index(l2_geom)
    id_idx = l2_cols.index(f"l2_{id_col}")
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
            # exact path: point x point lower bounds ARE the distances
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
                    lb[np.isnan(lb)] = np.inf
                else:
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
                # the planar degree distance of each emitted pair
                p, q = b1[emit_l1], bbs[emit_l2]
                outdf["distance_crs"] = np.hypot(p[:, 0] - q[:, 0], p[:, 1] - q[:, 1])
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
    and has at most ``pairing.MAX_ROWS // 2`` rows (the cap of its one
    bounded collect), layer 2 is broadcast whole and no candidate join
    runs at all — a dimension-sized l2 must not pay a shuffle per round;
    big l2 sides get a forced shuffle-hash join (never an implicit
    broadcast of a UDF-exploded plan, whose size Catalyst misestimates).
    No argument overrides the choice. ``metric="sphere"`` has only the
    broadcast plan, so it skips the byte check and raises ``ValueError``
    only when layer 2 has more than ``pairing.MAX_ROWS // 2`` rows.
    """
    if distance is None:
        raise ValueError("join_nearest requires a search `distance`")
    if metric not in ("planar", "sphere"):
        raise ValueError(f"metric must be 'planar' or 'sphere', got {metric!r}")
    if metric == "sphere" or pairing.choose("knn", df2).path == "broadcast":
        # dimension-sized l2: no join at all (see _broadcast_knn). The
        # ring machinery below is the big-x-big shape; for a small l2 its
        # per-round shuffles and ring explosion dominate runtime (the r2
        # bench regression: rings grow to 1089 cells/row by round 3).
        near = _broadcast_knn(
            df1, df2, nb_nearest, distance, expand, geom_col, id_col,
            metric=metric,
        )
        if near is not None:
            return near
    if metric == "sphere":
        # the ring machinery below generates candidates on a PLANAR cell
        # grid; a meters-radius search over lon/lat degrees would need a
        # latitude-aware degree bound per ring. The geodesic mode is the
        # nearest-city / geocoding shape — layer 2 is a dimension table —
        # so the broadcast path is the supported plan.
        raise ValueError(
            "metric='sphere' requires a broadcast-small layer 2 (at "
            "most pairing.MAX_ROWS // 2 rows); the distributed ring path "
            "is planar-only — pre-project to a planar CRS"
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
