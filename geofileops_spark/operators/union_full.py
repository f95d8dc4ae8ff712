"""union_full_self: planar "flat union" of ONE layer (geofileops
``geoops.py:3871`` -> ``geoops_sql/_union_full.py:25-416``).

The output is the set of non-overlapping faces induced by the layer's
geometries; each face carries the attributes of every input feature that
contains it, shaped per ``agg_shape``:

- ``LISTS``: one row per face, contributing fids as a sorted array;
- ``ROWS``: one row per (face, contributing feature);
- ``COLUMNS``: one row per face, contributors pivoted to fid_1..fid_k.

Algorithm — the reference's iterative passes as a driver-side DataFrame
loop (``_union_full.py:104-236``):

    cur = input
    repeat:
        lonely  = rows of cur with no overlapping partner -> OUT
        diff    = each row minus union(overlapping partners)    -> OUT
        inters  = pairwise intersections, deduped by geometry -> cur
    until cur is empty

Every pass shrinks the maximum overlap depth by one, so the loop runs
depth(overlap) times. Each pass is a cell join + grouped combine —
fully distributed; only the loop control is on the driver.

Attribute attach runs once at the end: a spatial join of face interior
points against the ORIGINAL layer ("intersects is True and touches is
False" in the reference, ``_union_full.py:317-416``; an interior-point
in polygon test is the same predicate, vectorized).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BinaryType, LongType, StructField, StructType

from .. import cache
from ..geometry import wkb as W
from .celljoin import candidate_pairs
from .join import delete_duplicate_geometries, query_match_udf
from .relation import SpatialQuery

_INTERSECTS = SpatialQuery("intersects is True")


def _interior_points_batch(vals: list) -> list:
    """Whole-batch twin of the per-row interior-point loop below.

    Fast path: little-endian POLYGON/MULTIPOLYGON blobs whose FIRST
    polygon is a single ring (the overwhelming face shape) run the
    first-candidate scanline of :func:`predicates.interior_point` as
    flattened numpy sweeps — same formulas, same first-strict-max span
    choice, bit-identical midpoints. Rows the sweep cannot settle at the
    first candidate y (holes, empty crossing sets, sub-EPS spans,
    big-endian, curves) take the exact per-row path unchanged."""
    import numpy as np

    from ..geometry import predicates as P
    from ..geometry.geom import Geometry
    from ..geometry.kernels import EPS

    n = len(vals)
    out: list = [None] * n
    nn = [i for i, b in enumerate(vals) if b is not None]
    if not nn:
        return out
    nb = [bytes(vals[i]) for i in nn]
    joined, offs, lens, typ = W.classify_wkb_batch(nb)
    u8 = np.frombuffer(joined, dtype=np.uint8)

    def _u32(o):
        return (
            u8[o].astype(np.int64)
            | (u8[o + 1].astype(np.int64) << 8)
            | (u8[o + 2].astype(np.int64) << 16)
            | (u8[o + 3].astype(np.int64) << 24)
        )

    m = len(nb)
    ring_off = np.full(m, -1, dtype=np.int64)
    ring_npts = np.zeros(m, dtype=np.int64)
    # POLYGON, exactly one ring: npts at 9, coords at 13
    is_poly = (typ == 3) & (lens >= 13)
    if is_poly.any():
        j = np.nonzero(is_poly)[0]
        o = offs[j]
        one = (_u32(o + 5) == 1) & (lens[j] >= 13)
        j, o = j[one], o[one]
        npts = _u32(o + 9)
        okl = lens[j] >= 13 + 16 * npts
        ring_off[j[okl]] = 13  # blob-relative (for _slice_f8)
        ring_npts[j[okl]] = npts[okl]
    # MULTIPOLYGON: first inner polygon little-endian, single-ring;
    # inner poly header at 9 (byteorder 1 + type 4 + nrings 4), first
    # ring npts at 18, coords at 22
    is_mp = (typ == 6) & (lens >= 26)
    if is_mp.any():
        j = np.nonzero(is_mp)[0]
        o = offs[j]
        ok = (
            (_u32(o + 5) >= 1)
            & (u8[o + 9] == 1)
            & (_u32(o + 10) == 3)
            & (_u32(o + 14) == 1)
        )
        j, o = j[ok], o[ok]
        npts = _u32(o + 18)
        okl = lens[j] >= 22 + 16 * npts
        ring_off[j[okl]] = 22  # blob-relative (for _slice_f8)
        ring_npts[j[okl]] = npts[okl]

    fast = np.nonzero((ring_off >= 0) & (ring_npts >= 4))[0]
    solved = np.zeros(m, dtype=bool)
    if len(fast):
        cnt = ring_npts[fast]
        coords = W._slice_f8(nb, fast, ring_off[fast], cnt * 16).reshape(-1, 2)
        starts = np.concatenate(([0], np.cumsum(cnt)))[:-1]
        miny = np.minimum.reduceat(coords[:, 1], starts)
        maxy = np.maximum.reduceat(coords[:, 1], starts)
        yc = (miny + maxy) / 2.0
        # edges: every coord except each ring's closing duplicate
        sel = np.ones(len(coords), dtype=bool)
        sel[starts + cnt - 1] = False
        eidx = np.nonzero(sel)[0]
        x1 = coords[eidx, 0]
        y1 = coords[eidx, 1]
        x2 = coords[eidx + 1, 0]
        y2 = coords[eidx + 1, 1]
        R = len(fast)
        ering = np.repeat(np.arange(R), cnt - 1)
        ye = yc[ering]
        cond = (y1 > ye) != (y2 > ye)
        ci = np.nonzero(cond)[0]
        rbest_x = np.full(R, np.nan)
        rbest_ok = np.zeros(R, dtype=bool)
        if len(ci):
            with np.errstate(divide="ignore", invalid="ignore"):
                xi = x1[ci] + (ye[ci] - y1[ci]) * (x2[ci] - x1[ci]) / (
                    y2[ci] - y1[ci]
                )
            rr = ering[ci]
            order = np.lexsort((xi, rr))
            xs = xi[order]
            xr = rr[order]
            # within-ring positions; spans at even positions with a pair
            kcnt = np.bincount(xr, minlength=R)
            kstart = np.concatenate(([0], np.cumsum(kcnt)))[:-1]
            pos = np.arange(len(xs)) - kstart[xr]
            w_at = (pos % 2 == 0) & (pos + 1 < kcnt[xr])
            wi = np.nonzero(w_at)[0]
            if len(wi):
                widths = xs[wi + 1] - xs[wi]
                wring = xr[wi]
                # first strict max per ring == first index of the max
                wcnt = np.bincount(wring, minlength=R)
                nzr = np.nonzero(wcnt > 0)[0]
                wstart = np.concatenate(([0], np.cumsum(wcnt)))[:-1]
                wmax = np.full(R, -np.inf)
                wmax[nzr] = np.maximum.reduceat(widths, wstart[nzr])
                big = len(widths)
                cand = np.where(
                    widths == wmax[wring], np.arange(len(widths)), big
                )
                first = np.full(R, big, dtype=np.int64)
                first[nzr] = np.minimum.reduceat(cand, wstart[nzr])
                got = (wmax > EPS) & (first < big)
                gi = first[got]
                rbest_x[got] = (xs[wi[gi]] + xs[wi[gi] + 1]) / 2.0
                rbest_ok[got] = True
        gr = np.nonzero(rbest_ok)[0]
        for r in gr.tolist():
            i = fast[r]
            out[nn[i]] = W.dumps(
                Geometry.point(float(rbest_x[r]), float(yc[r]))
            )
            solved[i] = True

    for j in np.nonzero(~solved)[0].tolist():
        g = W.loads(nb[j])
        pts = P.geom_interior_points(g)
        if len(pts):
            out[nn[j]] = W.dumps(
                Geometry.point(float(pts[0, 0]), float(pts[0, 1]))
            )
    return out


@pandas_udf(BinaryType())
def _interior_point_udf(wkb: pd.Series) -> pd.Series:
    return pd.Series(_interior_points_batch(list(wkb)))


def _attach_hits_fast(
    faces: DataFrame,
    original: DataFrame,
    geom_col: str,
    id_col: str,
    attr_cols: list,
    max_points: int = 4_000_000,
) -> DataFrame | None:
    """(face, contributor) pairs with the broadcast orientation INVERTED:
    a grid over the interior POINTS (about 70 bytes each with bbox, id
    and grid entry — ~40 MB for 561k faces) is broadcast and the ORIGINAL layer streams map-side through
    one vectorized PIP sweep. The previously-tried parcel-grid attach
    was reverted twice because packing+broadcasting 500k parcel
    geometries cost more than the candidate cell shuffle; the point
    side is two orders of magnitude lighter to build, the parcels never
    shuffle at all, and only (id, attrs, _face_id) rows leave the probe.

    Candidates are point-in-parcel-bbox (a SUBSET of the cell join's
    shared-cover-cell candidates; any pair it drops has the point
    strictly outside the parcel bbox, which the exact oracle's
    intersects rejects too). The membership test is the same
    ``_pip_pairs_flat`` classification (>= 1 == intersects is True)
    the cell join's refine uses. Returns None (caller falls back to
    the cell join) when the point side exceeds ``max_points`` or a
    point blob is not a plain little-endian POINT."""
    import numpy as np

    from ..geometry import predicates as P
    from ..geometry.geom import Geometry
    from ..index import pairing
    from .join import _pip_pairs_flat

    pdf = (
        faces.select("_face_id", "_ip")
        .where(F.col("_ip").isNotNull())
        .toPandas()
    )
    if not (0 < len(pdf) <= max_points):
        return None
    pts = W.points_from_wkb_list([bytes(b) for b in pdf["_ip"]])
    if pts is None or not np.isfinite(pts).all():
        return None
    # degenerate point bboxes; ~1024 cells per axis
    bc = pairing.broadcast(
        faces.sparkSession,
        pairing.Index(
            np.column_stack([pts, pts]),
            ids=pdf["_face_id"].to_numpy(np.int64),
            point_cells=1024,
        ),
    )

    slim = original.select(id_col, *attr_cols, geom_col)
    out_schema = StructType(
        [f for f in slim.schema.fields if f.name != geom_col]
        + [StructField("_face_id", LongType())]
    )

    def _probe(batches):
        probe = pairing.Probe(bc)
        pts_ = probe.bb[:, :2]
        for pdfb in batches:
            col = pdfb[geom_col].to_numpy(object)
            cand_row, cand_pt = probe.pairs(W.bounds_from_wkb_batch(col.tolist()))
            if len(cand_pt) == 0:
                yield pdfb.iloc[0:0].drop(columns=[geom_col]).assign(
                    _face_id=pd.Series(dtype="int64")
                )
                continue
            geoms = {}
            for r in np.unique(cand_row).tolist():
                geoms[r] = W.loads(bytes(col[r]))
            areal = np.fromiter(
                (geoms[int(r)].dim() == 2 for r in cand_row),
                dtype=bool, count=len(cand_row),
            )
            hit = np.zeros(len(cand_row), dtype=bool)
            ai = np.nonzero(areal)[0]
            if len(ai):
                cls = _pip_pairs_flat(
                    pts_[cand_pt[ai]], [geoms[int(r)] for r in cand_row[ai]]
                )
                hit[ai] = cls >= 1
            for t in np.nonzero(~areal)[0].tolist():
                g_pt = Geometry.point(
                    float(pts_[cand_pt[t], 0]), float(pts_[cand_pt[t], 1])
                )
                hit[t] = bool(P.intersects(g_pt, geoms[int(cand_row[t])]))
            sel = np.nonzero(hit)[0]
            out = pdfb.iloc[cand_row[sel]].drop(columns=[geom_col]).copy()
            out["_face_id"] = probe.ids[cand_pt[sel]]
            yield out

    return slim.mapInPandas(_probe, schema=out_schema)


def _overlap_half_pairs(cur: DataFrame, geom_col: str, res: int | None) -> DataFrame:
    """Each unordered candidate self-pair ONCE (l1__uid < l2__uid) with
    its area-positive intersection in ``_inter`` — the intersection IS
    the overlap test (``_pair_intersection_udf`` extracts the polygon
    primitive and returns NULL when empty), so one kernel call per pair
    serves both the partner detection and the next pass's input. The
    previous shape ran a full intersection per DIRECTED pair for a
    boolean and then recomputed the geometry for the kept half — 3x the
    kernel work per pass."""
    from .overlay import _broadcast_pairs_matched, _pair_intersection_udf

    # zero-shuffle broadcast-grid pairing + fused pair kernel when the
    # working set fits the broadcast budget (checkpointed frames report
    # accurate stats); the distributed cell join stays the fallback.
    # self_half_uid drops the uid1 >= uid2 candidates INSIDE the probe,
    # before the intersection kernel — the previous post-hoc where()
    # computed every unordered pair's intersection twice (once per
    # orientation) and discarded one: half the pass-0 kernel work.
    matched = _broadcast_pairs_matched(
        cur, cur, geom_col, "_uid", self_half_uid="_uid"
    )
    if matched is not None:
        return matched.withColumnRenamed("_piece", "_inter")
    pairs, _ = candidate_pairs(
        cur, cur, res=res, geom_col1=geom_col, geom_col2=geom_col,
    )
    half = pairs.where(F.col("l1__uid") < F.col("l2__uid"))
    half = half.withColumn(
        "_inter",
        _pair_intersection_udf(
            F.col(f"l1_{geom_col}"), F.col(f"l2_{geom_col}")
        ),
    )
    return half.where(F.col("_inter").isNotNull())


def union_full_self(
    df: DataFrame,
    agg_shape: str = "LISTS",
    id_col: str = "fid",
    geom_col: str = "geom_wkb",
    columns: list[str] | None = None,
    res: int | None = None,
    max_passes: int = 64,
) -> DataFrame:
    """Flat planar union of one polygon layer. Returns faces with the
    contributing ``{id_col}`` attributes shaped per ``agg_shape``.

    ``columns`` selects which attribute columns of ``df`` ride along with
    each contributor (the reference threads the full column list through
    its passes and pivots EVERY column in COLUMNS shape,
    ``geoops_sql/_union_full.py:31,96-116,404``); ``None`` = all non-id,
    non-geometry columns, ``[]`` = ids only. Shapes:

    - ``LISTS``: per face — ``nb_intersecting``, sorted ``fids`` array,
      and one array per attribute column (contributor-aligned with
      ``fids``), mirroring the reference's ``json_group_array`` columns;
    - ``ROWS``: one row per (face, contributor) with the contributor's
      scalar attributes;
    - ``COLUMNS``: contributors pivoted to ``{id_col}_k`` /
      ``{column}_k`` for k = 1..max contributors.

    The decomposition loop runs until no intersection pieces remain
    (each pass reduces the max overlap depth by one, so passes are
    bounded by the deepest overlap). ``max_passes`` is a runaway guard
    only — hitting it raises instead of silently dropping faces.
    Every pass ``localCheckpoint``s the working set: the loop input is
    materialized (pinning ``monotonically_increasing_id`` against
    re-evaluation) and the plan/retry lineage is truncated so pass count
    doesn't grow the plan tree.
    """
    spark = df.sparkSession
    attr_cols = (
        [c for c in df.columns if c not in (id_col, geom_col)]
        if columns is None
        else list(columns)
    )
    original = df.select(id_col, *attr_cols, geom_col)

    cur = df.select(
        F.monotonically_increasing_id().alias("_uid"), F.col(geom_col)
    ).where(F.col(geom_col).isNotNull())
    faces: DataFrame | None = None

    for pass_i in range(max_passes + 1):
        cur = cache.local_checkpoint(cur)
        if cur.limit(1).count() == 0:
            break
        if pass_i == max_passes:
            raise RuntimeError(
                f"union_full_self: overlap depth exceeds max_passes="
                f"{max_passes}; pieces remain undecomposed"
            )
        # one intersection kernel per unordered pair, materialized once
        # and consumed by BOTH the partner lists and the next-pass input
        half = cache.local_checkpoint(_overlap_half_pairs(cur, geom_col, res))
        partners = (
            half.select(
                F.col("l1__uid").alias("_uid"),
                F.col(f"l2_{geom_col}").alias("_pg"),
            )
            .unionByName(
                half.select(
                    F.col("l2__uid").alias("_uid"),
                    F.col(f"l1_{geom_col}").alias("_pg"),
                )
            )
            .groupBy("_uid")
            .agg(F.collect_list("_pg").alias("_others"))
        )
        # both face branches below consume the join — persist so the
        # partner aggregation runs once, not once per branch
        joined = cache.track(cur.join(partners, on="_uid", how="left").persist())

        # lonely rows + (row minus partners) -> faces. TWO branches, not
        # a when() over the UDF: Catalyst pulls Python UDFs into an
        # ArrowEvalPython node that evaluates them for EVERY row
        # regardless of the condition, so the single-branch shape shipped
        # all ~500k subjects (89% partner-less on the parcels bench)
        # through the Python worker to pass most of them back verbatim.
        from .overlay import _combine_vs_union_udf

        lonely = joined.where(F.col("_others").isNull()).select(
            F.col(geom_col)
        )
        diffed = joined.where(F.col("_others").isNotNull()).withColumn(
            "_face",
            _combine_vs_union_udf("difference")(
                F.col(geom_col), F.col("_others")
            ),
        )
        new_faces = lonely.unionByName(
            diffed.where(F.col("_face").isNotNull()).select(
                F.col("_face").alias(geom_col)
            )
        )
        faces = new_faces if faces is None else faces.unionByName(new_faces)

        # the already-computed pairwise intersections, deduped by
        # normalized geometry -> next pass input
        inters = half.select(F.col("_inter").alias(geom_col))
        inters = delete_duplicate_geometries(inters, geom_col=geom_col)
        cur = inters.select(
            F.monotonically_increasing_id().alias("_uid"), geom_col
        )

    if faces is None:
        return spark.createDataFrame(
            [], f"{geom_col} binary, nb_intersecting int, fids array<bigint>"
        )

    # attach contributing attributes via interior-point-in-original test.
    # _face_id is referenced from two plan branches (ip_layer join side
    # and the faces side) — materialize so the non-deterministic id is
    # evaluated exactly once.
    faces = faces.withColumn("_ip", _interior_point_udf(F.col(geom_col)))
    faces = cache.local_checkpoint(
        faces.withColumn("_face_id", F.monotonically_increasing_id())
    )
    # contributors: interior-point-in-original pairs. Fast path inverts
    # the broadcast orientation — the POINT side (21 B/row) is grid-
    # broadcast and the original layer streams map-side, so the parcels
    # never shuffle and only (id, attrs, _face_id) rows leave the probe.
    # (A PARCEL-grid attach was tried twice in earlier sessions and
    # reverted: packing+broadcasting 500k parcel geometries cost more
    # than the candidate cell shuffle. The points side is two orders of
    # magnitude lighter.) Fallback: the distributed cell join.
    hits_fast = _attach_hits_fast(
        faces, original, geom_col, id_col, attr_cols
    )
    if hits_fast is not None:
        contrib = hits_fast.groupBy("_face_id").agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col(id_col),
                        *[F.col(c) for c in attr_cols],
                    )
                )
            ).alias("_contrib")
        )
    else:
        ip_layer = faces.select(
            F.col("_face_id").alias("fid"), F.col("_ip").alias(geom_col)
        ).where(F.col(geom_col).isNotNull())
        pairs, _ = candidate_pairs(ip_layer, original, res=res, geom_col1=geom_col, geom_col2=geom_col)
        hit = pairs.where(
            query_match_udf(_INTERSECTS)(
                F.col(f"l1_{geom_col}"), F.col(f"l2_{geom_col}")
            )
        )
        # contributors as structs (id first => array_sort orders by id),
        # carrying every requested attribute column alongside the id
        contrib = hit.groupBy(F.col("l1_fid").alias("_face_id")).agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col(f"l2_{id_col}").alias(id_col),
                        *[F.col(f"l2_{c}").alias(c) for c in attr_cols],
                    )
                )
            ).alias("_contrib")
        )
    out = faces.join(contrib, on="_face_id", how="inner").select(
        geom_col, "_contrib"
    )

    if agg_shape.upper() == "LISTS":
        return out.select(
            geom_col,
            F.size("_contrib").alias("nb_intersecting"),
            F.col("_contrib").getField(id_col).alias("fids"),
            *[F.col("_contrib").getField(c).alias(c) for c in attr_cols],
        )
    if agg_shape.upper() == "ROWS":
        return out.select(
            geom_col, F.explode("_contrib").alias("_c")
        ).select(geom_col, "_c.*")
    if agg_shape.upper() == "COLUMNS":
        # the max-contributors probe and the caller's consumption both
        # execute `out` — persist it so the attach join (candidate PIP +
        # groupBy) runs once, not twice (measured ~8 s per execution at
        # 500k parcels)
        out = cache.track(out.persist())
        max_k = out.agg(F.max(F.size("_contrib"))).collect()[0][0] or 0
        cols = [F.col(geom_col)]
        for i in range(max_k):
            # try_element_at: rows with fewer contributors than max_k get
            # NULLs (plain element_at throws under ANSI mode)
            e = F.try_element_at(F.col("_contrib"), F.lit(i + 1))
            cols.append(e.getField(id_col).alias(f"{id_col}_{i + 1}"))
            cols.extend(
                e.getField(c).alias(f"{c}_{i + 1}") for c in attr_cols
            )
        return out.select(*cols)
    raise ValueError(f"unknown agg_shape: {agg_shape}")
