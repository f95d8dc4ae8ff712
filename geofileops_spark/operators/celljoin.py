"""Cell-join infrastructure: the Spark-native replacement for the
reference's R-tree bbox prefilter (geofileops ``_geoops_sql.py:2268-2280``).

Pattern: explode each side to the grid cells its **bbox** covers at a
common resolution → hash-join on cell id → drop duplicate pairs with the
*reference-point rule* (a pair is kept only in the cell that contains the
lower-left corner of the two bboxes' intersection — pure JVM arithmetic,
no dropDuplicates shuffle) → exact predicate refine in one Arrow-batched
pandas UDF.

Why bbox cover (not exact-geometry cover): the reference-point cell is
guaranteed to be in both sides' covers, so dedup is a filter, not a
shuffle. The exact refine step removes bbox-only false positives — the
same two-phase filter the reference uses (bbox → ST_Intersects,
``_geoops_sql.py:1249-1255``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from ..geometry import wkb as W
from ..index import cells as X

_COVER_SCHEMA = StructType(
    [
        StructField("minx", DoubleType()),
        StructField("miny", DoubleType()),
        StructField("maxx", DoubleType()),
        StructField("maxy", DoubleType()),
        StructField("cells", ArrayType(LongType())),
    ]
)


def cell_expr(x: Column, y: Column, res: int) -> Column:
    """Cell id of a point — native Spark arithmetic (whole-stage codegen),
    must produce exactly the same ids as ``cells.cell_of_points``."""
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
    return (
        F.lit(res << 58).cast("long")
        .bitwiseOR(F.shiftleft(ix, X._COORD_BITS))
        .bitwiseOR(iy)
    )


def with_cover(
    df: DataFrame, res: int, geom_col: str = "geom_wkb", cap: int = 1_000_000
) -> DataFrame:
    """Add bbox columns + exploded `_cell` at a fixed resolution."""

    @pandas_udf(_COVER_SCHEMA)
    def _cover(wkb: pd.Series) -> pd.DataFrame:
        # Vectorized batch path (guide §4.2): decode headers, bounds and
        # cell covers for the whole Arrow batch in a handful of numpy
        # sweeps. The per-row meshgrid/clip/encode of cover_bbox was the
        # measured dominant Python cost of EVERY cell join (~190 s
        # cumulative per 500k-parcel side); the vectorized twin emits
        # bit-identical bboxes and cell lists (same formulas, same
        # iy-outer/ix-inner order). Rows the fast path cannot prove
        # simple (multis, holes, curves, big covers that may coarsen)
        # take the original per-row branch unchanged.
        n = len(wkb)
        blobs = wkb.tolist()
        minx = np.full(n, np.nan)
        miny = np.full(n, np.nan)
        maxx = np.full(n, np.nan)
        maxy = np.full(n, np.nan)
        cells_col: list = [None] * n
        notnull = np.fromiter(
            (b is not None for b in blobs), dtype=bool, count=n
        )
        nn_idx = np.nonzero(notnull)[0]
        if len(nn_idx) == 0:
            return pd.DataFrame(
                {"minx": [None] * n, "miny": [None] * n, "maxx": [None] * n,
                 "maxy": [None] * n, "cells": cells_col}
            )
        nb = [bytes(blobs[i]) for i in nn_idx]
        _, offs, lens, typ = W.classify_wkb_batch(nb)

        size = X.cell_size(res)
        ncell = (1 << res) - 1

        # POINT rows: truncation cell formula (cell_of_points twin)
        is_pt = (typ == 1) & (lens == 21)
        if is_pt.any():
            pt_j = np.nonzero(is_pt)[0]
            xy = W._slice_f8(
                nb, pt_j,
                np.full(len(pt_j), 5, dtype=np.int64),
                np.full(len(pt_j), 16, dtype=np.int64),
            ).reshape(-1, 2)
            rows = nn_idx[is_pt]
            minx[rows] = xy[:, 0]
            miny[rows] = xy[:, 1]
            maxx[rows] = xy[:, 0]
            maxy[rows] = xy[:, 1]
            cells = X.cell_of_points(xy[:, 0], xy[:, 1], res)
            for k, r in enumerate(rows.tolist()):
                cells_col[r] = cells[k : k + 1]

        # single-ring POLYGON rows: vectorized bounds
        handled = is_pt.copy()
        is_poly = (typ == 3) & (lens >= 13)
        if is_poly.any():
            u8 = np.frombuffer(
                b"".join(b[:13].ljust(13, b"\0") for b in nb), dtype=np.uint8
            )
            hdr = u8.reshape(len(nb), 13).astype(np.int64)
            nrings = (
                hdr[:, 5] | (hdr[:, 6] << 8) | (hdr[:, 7] << 16)
                | (hdr[:, 8] << 24)
            )
            npts = (
                hdr[:, 9] | (hdr[:, 10] << 8) | (hdr[:, 11] << 16)
                | (hdr[:, 12] << 24)
            )
            good = is_poly & (nrings == 1) & (npts >= 1) & (
                lens == 13 + 16 * npts
            )
            if good.any():
                poly_j = np.nonzero(good)[0]
                cnt = npts[good]
                coords = W._slice_f8(
                    nb, poly_j,
                    np.full(len(poly_j), 13, dtype=np.int64),
                    cnt * 16,
                ).reshape(-1, 2)
                starts = np.concatenate(([0], np.cumsum(cnt)))[:-1]
                rows = nn_idx[good]
                minx[rows] = np.minimum.reduceat(coords[:, 0], starts)
                miny[rows] = np.minimum.reduceat(coords[:, 1], starts)
                maxx[rows] = np.maximum.reduceat(coords[:, 0], starts)
                maxy[rows] = np.maximum.reduceat(coords[:, 1], starts)
                handled |= good

        # vectorized bbox cover for the handled polygon rows (floor-div
        # cell formula — cover_bbox twin; iy outer, ix inner order)
        cov = handled & ~is_pt
        if cov.any():
            rows = nn_idx[cov]
            fin = np.isfinite(minx[rows])
            # non-finite bounds: empty cover (original `[]` branch)
            for r in rows[~fin].tolist():
                cells_col[r] = np.empty(0, dtype=np.int64)
            rows = rows[fin]
            if len(rows):
                ix0 = np.clip((minx[rows] + X.WORLD) // size, 0, ncell).astype(np.int64)
                ix1 = np.clip((maxx[rows] + X.WORLD) // size, 0, ncell).astype(np.int64)
                iy0 = np.clip((miny[rows] + X.WORLD) // size, 0, ncell).astype(np.int64)
                iy1 = np.clip((maxy[rows] + X.WORLD) // size, 0, ncell).astype(np.int64)
                w = ix1 - ix0 + 1
                h = iy1 - iy0 + 1
                cnt = w * h
                small = cnt <= min(4096, cap)
                # oversized covers may coarsen: exact per-row path
                for k in np.nonzero(~small)[0].tolist():
                    r = int(rows[k])
                    cells_col[r] = X.cover_bbox(
                        minx[r], miny[r], maxx[r], maxy[r], res, cap=cap
                    )
                sm = np.nonzero(small)[0]
                if len(sm):
                    cnt_s = cnt[sm]
                    rowptr = np.concatenate(([0], np.cumsum(cnt_s)))
                    rowid = np.repeat(np.arange(len(sm)), cnt_s)
                    within = np.arange(rowptr[-1]) - rowptr[:-1][rowid]
                    w_r = w[sm][rowid]
                    cells_flat = X.encode(
                        res,
                        ix0[sm][rowid] + within % w_r,
                        iy0[sm][rowid] + within // w_r,
                    )
                    rs = rows[sm].tolist()
                    for k in range(len(sm)):
                        cells_col[rs[k]] = cells_flat[
                            rowptr[k] : rowptr[k + 1]
                        ]

        # everything else: original per-row branch
        rest = ~handled
        for j in np.nonzero(rest)[0].tolist():
            i = int(nn_idx[j])
            try:
                g = W.loads(nb[j])
            except ValueError:
                # corrupt / unsupported (e.g. curve-typed) WKB: treat as
                # NULL geometry instead of failing the task — at 100 TB a
                # handful of bad blobs must not kill the job
                notnull[i] = False
                continue
            pts = g.points()
            if g.typ == 1 and len(pts) == 1:
                x, y = float(pts[0, 0]), float(pts[0, 1])
                minx[i] = x
                miny[i] = y
                maxx[i] = x
                maxy[i] = y
                cells_col[i] = X.cell_of_points(pts[:, 0], pts[:, 1], res)
                continue
            from ..geometry.kernels import bounds as g_bounds

            b0, b1, b2, b3 = g_bounds(g)
            minx[i] = b0
            miny[i] = b1
            maxx[i] = b2
            maxy[i] = b3
            if not np.isfinite(b0):
                cells_col[i] = np.empty(0, dtype=np.int64)
            else:
                cells_col[i] = X.cover_bbox(b0, b1, b2, b3, res, cap=cap)

        mseries = [
            pd.Series(a).where(pd.Series(notnull), other=None)
            for a in (minx, miny, maxx, maxy)
        ]
        return pd.DataFrame(
            {"minx": mseries[0], "miny": mseries[1], "maxx": mseries[2],
             "maxy": mseries[3], "cells": cells_col}
        )

    # nondeterministic marking stops Catalyst's InferFiltersFromGenerate /
    # filter-pushdown from DUPLICATING the UDF (measured: the cover ran
    # twice per side, doubling the dominant Python cost of every join)
    _cover = _cover.asNondeterministic()
    df = df.withColumn("_cov", _cover(F.col(geom_col)))
    df = (
        df.withColumn("_minx", F.col("_cov.minx"))
        .withColumn("_miny", F.col("_cov.miny"))
        .withColumn("_maxx", F.col("_cov.maxx"))
        .withColumn("_maxy", F.col("_cov.maxy"))
        .withColumn("_cell", F.explode("_cov.cells"))
        .drop("_cov")
    )
    return df


def prefix_columns(df: DataFrame, prefix: str, exclude: tuple = ()) -> DataFrame:
    """l1_/l2_ column prefixing (ColumnFormatter analogue,
    geofileops ``util/_ogr_sql_util.py:7-229``): one ``toDF``, the
    ``exclude`` names kept as they are."""
    return df.toDF(*[c if c in exclude else f"{prefix}{c}" for c in df.columns])


def sample_rows_spread(df: DataFrame, col: str, sample: int = 2000):
    """Planning sample that is NOT head-biased.

    Many-partition frames (the 100-TB shape): take the first rows of
    EVERY ``stride``-th partition (one cheap task each, reading only its
    first Arrow chunk) instead of ``limit(n)`` (which reads partition 0
    only — on cell-clustered input, the head is one spatial neighbourhood
    and any extent/density estimate from it is wrong). Partition striding
    (not a tail ``limit``) keeps the yield ≈ ``sample`` when there are
    more partitions than budget — a plain limit would keep only the FIRST
    partitions' heads, re-introducing the bias across partitions.

    Few-partition frames (< 8 — e.g. AQE coalesced a small input into
    ONE partition, where "head of every partition" degenerates to a
    plain head): stride WITHIN the partition instead, thinning with a
    doubling step so memory stays bounded at ~2x the budget while the
    kept rows stay evenly spread across the whole partition."""
    import numpy as np
    import pandas as pd
    from pyspark import TaskContext

    sub = df.select(col)
    nparts = max(sub.rdd.getNumPartitions(), 1)
    per_part = max(4, sample // nparts)
    part_stride = max(1, (nparts * per_part) // max(sample, 1))
    thin_scan = nparts < 8

    def _heads(batches):
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        if pid % part_stride != 0:
            return
        if not thin_scan:
            taken = 0
            for pdf in batches:
                take = min(len(pdf), per_part - taken)
                if take > 0:
                    yield pdf.head(take)
                taken += take
                if taken >= per_part:
                    return
            return
        kept = None
        stride = 1
        for pdf in batches:
            part = pdf if stride == 1 else pdf.iloc[::stride]
            kept = part if kept is None else pd.concat(
                [kept, part], ignore_index=True
            )
            while len(kept) > 2 * per_part:
                kept = kept.iloc[::2].reset_index(drop=True)
                stride *= 2
        if kept is None or not len(kept):
            return
        if len(kept) <= per_part:
            yield kept
        else:
            yield kept.iloc[
                np.linspace(0, len(kept) - 1, per_part).astype(int)
            ]

    return sub.mapInPandas(_heads, schema=sub.schema).limit(sample).collect()


def estimate_res(
    df: DataFrame,
    geom_col: str = "geom_wkb",
    sample: int = 2000,
    target_cells_per_geom: float = 2.0,
) -> int:
    """Sample-based resolution pick: median bbox extent → res where a
    typical geometry spans ~2 cells/axis (planning step, like the
    reference's featurecount probe, ``_geoops_sql.py:4376-4515``)."""
    rows = sample_rows_spread(df, geom_col, sample)
    bb = W.bounds_from_wkb_batch([r[0] for r in rows])
    bb = bb[np.isfinite(bb[:, 0])]  # NULL, EMPTY or corrupt: skipped
    if not len(bb):
        return 20
    med = float(np.median(np.maximum(bb[:, 2] - bb[:, 0], bb[:, 3] - bb[:, 1])))
    if med <= 0:
        # point layer: pick a density-derived resolution — roughly one
        # sampled point per cell over the sampled bbox (a fixed fallback
        # would put unit-scale planes into one giant cell: skew disaster)
        ext = max(bb[:, 2].max() - bb[:, 0].min(), bb[:, 3].max() - bb[:, 1].min())
        if ext <= 0:
            return 20
        cells_axis = max(4.0, float(np.sqrt(len(bb))))
        size = ext / cells_axis
        return int(np.clip(np.floor(np.log2(2.0 * X.WORLD / size)), 0, X.MAX_RES))
    return X.res_for_extent(med, target_cells_per_geom)


def pick_join_res(df1: DataFrame, df2: DataFrame, geom1: str, geom2: str) -> int:
    """Common res: coarse enough that polygon covers stay small, fine
    enough that point cells stay selective → min of the two estimates."""
    r1 = estimate_res(df1, geom1)
    r2 = estimate_res(df2, geom2)
    return min(r1, r2)


def _find_hot_cells(covered: DataFrame, threshold: int) -> list[int]:
    """Cells whose row count exceeds the threshold (one cheap count agg)."""
    rows = (
        covered.groupBy("_cell")
        .count()
        .where(F.col("count") > threshold)
        .select("_cell")
        .collect()
    )
    return [r[0] for r in rows]


def _split_hot(df: DataFrame, hot: list[int], res: int, fine_res: int,
               geom_col: str) -> DataFrame:
    """Adaptive cell splitting (north-rule dense-cell skew handling):
    rows landing in a hot cell are RE-covered at ``fine_res`` (children
    of the hot cell only); everyone else keeps their coarse cell. Both
    join sides apply the same deterministic split, so cell ids still
    match. The fine cover is restricted to children of hot parents —
    pair dedup stays valid because the reference-point rule below uses
    the same adaptive mapping."""

    # worst case after clipping to the parent cell: the parent spans
    # 2^(fine_res-res) fine cells per axis, +1 for boundary-straddle
    worst = (1 << (fine_res - res)) + 1
    no_coarsen_cap = worst * worst + 1

    @pandas_udf("array<long>")
    def _children(minx: pd.Series, miny: pd.Series, maxx: pd.Series,
                  maxy: pd.Series, parent: pd.Series) -> pd.Series:
        out = []
        for x0, y0, x1, y1, par in zip(minx, miny, maxx, maxy, parent):
            if x0 is None:
                out.append(None)
                continue
            # clip the bbox to the hot parent's bounds FIRST: the fine
            # cover is then bounded by construction, so cover_bbox can
            # never hit its cap and silently coarsen (which would emit
            # mixed-resolution ids that match neither the other side nor
            # the fine-res reference cell -> silently dropped pairs)
            px0, py0, px1, py1 = X.cell_bounds(int(par))
            cells = X.cover_bbox(
                max(x0, px0), max(y0, py0), min(x1, px1), min(y1, py1),
                fine_res, cap=no_coarsen_cap,
            )
            keep = cells[X.parent(cells, res) == par]
            out.append(keep.tolist())
        return pd.Series(out)

    hot_lit = F.array(*[F.lit(h) for h in hot])
    cold = df.where(~F.array_contains(hot_lit, F.col("_cell")))
    hotdf = df.where(F.array_contains(hot_lit, F.col("_cell")))
    hotdf = (
        hotdf.withColumn(
            "_fine",
            _children(
                F.col("_minx"), F.col("_miny"), F.col("_maxx"), F.col("_maxy"),
                F.col("_cell"),
            ),
        )
        .drop("_cell")
        .withColumn("_cell", F.explode("_fine"))
        .drop("_fine")
    )
    return cold.unionByName(hotdf)


def candidate_pairs(
    df1: DataFrame,
    df2: DataFrame,
    res: int | None = None,
    geom_col1: str = "geom_wkb",
    geom_col2: str = "geom_wkb",
    prefix1: str = "l1_",
    prefix2: str = "l2_",
    adaptive: bool = False,
    hot_threshold: int = 100_000,
    split_levels: int = 3,
) -> tuple[DataFrame, int]:
    """Candidate pairs whose bboxes overlap.

    Output columns: every column of df1 prefixed ``l1_``, every column of
    df2 prefixed ``l2_`` (bbox helper columns ``{p}_minx``.. retained for
    downstream refine). Returns (pairs, res).

    This is the distributed plan: each side's cover explodes and
    shuffles on the cell id, payload included, through a forced
    shuffled hash join. Operators take it when the broadcast-grid probe
    does not fit ``GFO_BROADCAST_BYTES`` (``index.pairing.choose``) or
    its row cap.
    """
    if res is None:
        res = pick_join_res(df1, df2, geom_col1, geom_col2)
    c1 = with_cover(df1, res, geom_col1)
    c2 = with_cover(df2, res, geom_col2)
    hot: list[int] = []
    fine_res = res
    if adaptive:
        fine_res = min(res + 2 * split_levels, X.MAX_RES)
        c1 = c1.persist()
        hot = _find_hot_cells(c1, hot_threshold)
        if hot:
            c1 = _split_hot(c1, hot, res, fine_res, geom_col1)
            c2 = _split_hot(c2, hot, res, fine_res, geom_col2)
    e1 = prefix_columns(c1, prefix1)
    e2 = prefix_columns(c2, prefix2)
    # force a SHUFFLED hash join: Catalyst cannot size the cover UDF +
    # explode output (it reuses the scan estimate), so it happily
    # broadcasts a multi-hundred-MB exploded polygon side — a serial
    # build that flatlines the whole join (measured: the 100k-parcel
    # join ran at the same speed on 4 and 32 cores)
    joined = e1.hint("shuffle_hash").join(
        e2, e1[f"{prefix1}_cell"] == e2[f"{prefix2}_cell"]
    )
    # bbox overlap test (cheap prefilter)
    joined = joined.where(
        (F.col(f"{prefix1}_minx") <= F.col(f"{prefix2}_maxx"))
        & (F.col(f"{prefix2}_minx") <= F.col(f"{prefix1}_maxx"))
        & (F.col(f"{prefix1}_miny") <= F.col(f"{prefix2}_maxy"))
        & (F.col(f"{prefix2}_miny") <= F.col(f"{prefix1}_maxy"))
    )
    # reference-point dedup: keep the pair only in the cell holding the
    # lower-left corner of the bbox intersection (pure codegen arithmetic);
    # with adaptive splitting the reference cell uses the same hot-cell
    # mapping (fine cell inside hot parents, coarse elsewhere)
    rx = F.greatest(F.col(f"{prefix1}_minx"), F.col(f"{prefix2}_minx"))
    ry = F.greatest(F.col(f"{prefix1}_miny"), F.col(f"{prefix2}_miny"))
    ref_cell = cell_expr(rx, ry, res)
    if hot:
        hot_lit = F.array(*[F.lit(h) for h in hot])
        ref_cell = F.when(
            F.array_contains(hot_lit, ref_cell), cell_expr(rx, ry, fine_res)
        ).otherwise(ref_cell)
    joined = joined.where(F.col(f"{prefix1}_cell") == ref_cell)
    joined = joined.drop(f"{prefix2}_cell")
    return joined, res


def drop_helper_columns(df: DataFrame) -> DataFrame:
    helpers = [
        c
        for c in df.columns
        if c.endswith(("__cell", "__minx", "__miny", "__maxx", "__maxy"))
        or c in ("_cell", "_minx", "_miny", "_maxx", "_maxy")
    ]
    return df.drop(*helpers)
