"""Dissolve family (geofileops ``geoops.py:1074-1259`` ->
``_geoops_gpd.py:1115-1716`` polygon multi-pass path and
``_geoops_sql.py:4600-4881`` single-pass path).

Spark-first shape — the reference's "tile, dissolve per tile, recurse on
tile-border pieces" loop becomes a **hierarchical two-phase union**:

1. partial: assign every geometry the grid cell of its bbox centre at a
   chosen resolution, ``groupBy(group_cols + cell).applyInPandas`` with a
   vectorized union-all kernel (map-side combine of the geometric union);
2. merge rounds: re-cell each partial result at the parent resolution
   (coarser by 2 levels) and union again — pieces that can no longer
   touch anything (their bbox lies strictly inside their cell and they
   met no partner) could exit early, but the rounds are logarithmic and
   each round shrinks the row count, so the simple full cascade is used;
3. final: one union per group (cheap: by then each group holds at most a
   handful of pre-unioned pieces).

Attribute aggregation (``agg_columns`` spec: count/sum/mean/min/max/
median/concat, distinct, sep — ``_geoops_sql.py:4685-4759``) is computed
directly from the ORIGINAL rows with a plain ``groupBy(...).agg(...)``
and joined back on the group keys: Spark's two-phase hash aggregation
replaces the reference's JSON-pack carry across tiling passes
(``__DISSOLVE_TOJSON``, ``_geoops_gpd.py:1141-1180``).

At scale: phase 1 is one shuffle on (group, cell) with map-side
pre-union; merge rounds touch only still-mergeable pieces; the group
count bounds final-task fan-in. Dense-cell skew is bounded by choosing
``res`` from the data extent so a cell holds ~rows/partitions rows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from .. import cache
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StructField, StructType

from ..geometry import clip as C
from ..geometry import geom as G
from ..geometry import wkb as W
from ..index import cells as X


def _union_all_wkb(blobs) -> bytes | None:
    geoms = [W.loads(bytes(b)) for b in blobs if b is not None]
    geoms = [g for g in geoms if not g.is_empty()]
    if not geoms:
        return None
    merged = C.union_geoms(geoms)
    if merged.is_empty():
        return None
    # line layers: ST_LineMerge(ST_Union(...)) (geofileops
    # _geoops_sql.py:4765-4771); point layers: distinct points
    if merged.dim() == 1:
        from ..geometry.extra import line_merge

        merged = line_merge(merged)
    elif merged.dim() == 0:
        pts = np.unique(merged.points(), axis=0)
        merged = G.Geometry(G.MULTIPOINT, pts)
    return W.dumps(merged.force_multi())


def _cell_of_bbox_center(wkb_series: pd.Series, res: int) -> pd.Series:
    # whole-batch vectorized bounds (guide §4.2) — bit-identical to the
    # old per-row loads+bounds loop, ~10x less Python per batch
    bb = W.bounds_from_wkb_batch(wkb_series.tolist())
    cx = (bb[:, 0] + bb[:, 2]) / 2.0
    cy = (bb[:, 1] + bb[:, 3]) / 2.0
    ok = np.isfinite(cx)
    out = np.zeros(len(cx), dtype=np.int64)
    if ok.any():
        out[ok] = X.cell_of_points(cx[ok], cy[ok], res)
    return pd.Series(out).where(pd.Series(ok), other=None)


def _partial_union(df: DataFrame, keys: list[str], geom_col: str) -> DataFrame:
    """groupBy(keys).applyInPandas union — one geometry per key tuple."""
    out_schema = StructType(
        [df.schema[k] for k in keys] + [StructField(geom_col, BinaryType())]
    )

    def _merge(pdf: pd.DataFrame) -> pd.DataFrame:
        row = {k: [pdf[k].iloc[0]] for k in keys}
        row[geom_col] = [_union_all_wkb(pdf[geom_col])]
        return pd.DataFrame(row)

    return df.groupBy(*keys).applyInPandas(_merge, schema=out_schema)


def _pick_res(df: DataFrame, geom_col: str, sample: int = 2000) -> int:
    """Resolution where a typical cell holds a bounded number of rows:
    derived from the sampled data extent and the session parallelism
    (the reference's nb_batches heuristic, ``_geoops_gpd.py:1377-1384``)."""
    from .celljoin import sample_rows_spread

    rows = sample_rows_spread(df, geom_col, sample)
    bb = W.bounds_from_wkb_batch([r[0] for r in rows])
    bb = bb[np.isfinite(bb[:, 0])]  # NULL, EMPTY or corrupt: skipped
    if not len(bb):
        return 8
    extent = max(bb[:, 2].max() - bb[:, 0].min(), bb[:, 3].max() - bb[:, 1].min())
    if extent <= 0:
        return 8
    # ~16x16 cells over the data extent as the starting grid
    res = int(np.clip(np.ceil(np.log2(2.0 * X.WORLD / (extent / 16.0))), 2, X.MAX_RES))
    return res


_AGG_FNS = {
    "count": lambda c: F.count(c),
    "sum": lambda c: F.sum(c),
    "mean": lambda c: F.avg(c),
    "avg": lambda c: F.avg(c),
    "min": lambda c: F.min(c),
    "max": lambda c: F.max(c),
    "median": lambda c: F.expr(f"percentile({c}, 0.5)"),
}


def _build_aggs(agg_columns: dict | None) -> list:
    """agg_columns spec -> Spark agg expressions (geofileops agg SQL
    builder, ``_geoops_sql.py:4685-4759``; json spec
    ``_geoops_gpd.py:1529``)."""
    if not agg_columns:
        return []
    aggs = []
    if "json" in agg_columns:
        cols = agg_columns["json"]
        aggs.append(
            F.to_json(F.collect_list(F.struct(*[F.col(c) for c in cols]))).alias("json")
        )
        return aggs
    for spec in agg_columns.get("columns", []):
        col, how = spec["column"], spec["agg"].lower()
        alias = spec.get("as") or f"{col}_{how}"
        distinct = spec.get("distinct", False)
        if how == "concat":
            sep = spec.get("sep", ",")
            inner = F.collect_set(F.col(col).cast("string")) if distinct else \
                F.collect_list(F.col(col).cast("string"))
            aggs.append(F.array_join(F.array_sort(inner), sep).alias(alias))
        elif how == "count" and distinct:
            aggs.append(F.countDistinct(col).alias(alias))
        elif how in _AGG_FNS:
            target = F.col(col)
            if distinct and how == "sum":
                aggs.append(F.sum_distinct(target).alias(alias))
            else:
                aggs.append(_AGG_FNS[how](col).alias(alias))
        else:
            raise ValueError(f"unsupported agg: {how}")
    return aggs


def dissolve(
    df: DataFrame,
    groupby_columns: list[str] | None = None,
    agg_columns: dict | None = None,
    explodecollections: bool = False,
    res: int | None = None,
    merge_rounds: int | None = None,
    geom_col: str = "geom_wkb",
    gridsize: float = 0.0,
    nb_squarish_tiles: int = 1,
    tiles: list[tuple[float, float, float, float]] | None = None,
    where_post: str | None = None,
) -> DataFrame:
    """Group rows and geometrically union the geometries per group.

    ``groupby_columns=None`` dissolves everything into one geometry
    (exploded to touching clusters when ``explodecollections``), matching
    geofileops dissolve goldens (no-groupby -> 1 row, SURVEY.md §5).

    Output tiling (reference ``geoops.py:1080-1081,1151-1155``): with
    ``nb_squarish_tiles > 1`` (grid over the result bounds) or explicit
    ``tiles`` bboxes, the dissolved result is CLIPPED to the tiles — tile
    borders are never crossed — and a ``tile_id`` column is added.
    ``where_post`` filters AFTER tiling and explodecollections.

    ``merge_rounds=None`` sizes the hierarchical-merge cascade from the
    DATA, not from a count of the input (a full extra scan at 100 TB):
    after the per-cell partial union, the (small) per-cell result is
    measured — while any group still holds more than ``max_final_fanin``
    pre-unioned pieces, another 2-level-coarser merge round runs. Each
    round's per-task fan-in is bounded (a parent cell gathers <= ~16
    child pieces), so no single task — including the final per-group
    union — ever receives unbounded input.
    """
    groups = list(groupby_columns or [])
    gdf = df.where(F.col(geom_col).isNotNull())
    if res is None:
        res = _pick_res(gdf, geom_col)
    max_final_fanin = 64

    def _cell_udf_at(r: int):
        @F.pandas_udf("long")
        def _cell_udf(wkb: pd.Series) -> pd.Series:
            return _cell_of_bbox_center(wkb, r)

        return _cell_udf.asNondeterministic()

    def _max_pieces_per_group(mdf: DataFrame) -> int:
        # measures the per-cell PARTIAL RESULT (one row per (group,
        # cell) — orders of magnitude smaller than the input), never the
        # raw input
        if groups:
            row = mdf.groupBy(*groups).count().agg(F.max("count")).first()
            return int(row[0] or 0)
        return mdf.count()

    # phase 1: union per (groups, cell)
    work = gdf.select(*groups, geom_col).withColumn(
        "_cell", _cell_udf_at(res)(F.col(geom_col))
    )
    merged = _partial_union(work, groups + ["_cell"], geom_col)

    # merge rounds at coarser cells, then final union per group
    cur_res = res
    if merge_rounds is not None:
        for _ in range(merge_rounds):
            cur_res = max(0, cur_res - 2)
            merged = merged.withColumn("_cell", _cell_udf_at(cur_res)(F.col(geom_col)))
            merged = _partial_union(merged, groups + ["_cell"], geom_col)
            if cur_res == 0:
                break
    else:
        prev_round: DataFrame | None = None
        while cur_res > 0:
            merged = merged.persist()
            n_pieces = _max_pieces_per_group(merged)  # materializes `merged`
            if prev_round is not None:
                # the previous round's cache is dead once this round is
                # materialized — free it eagerly instead of leaking one
                # persisted frame per merge round
                prev_round.unpersist()
            prev_round = merged
            if n_pieces <= max_final_fanin:
                break
            cur_res = max(0, cur_res - 2)
            merged = merged.withColumn(
                "_cell", _cell_udf_at(cur_res)(F.col(geom_col))
            )
            merged = _partial_union(merged, groups + ["_cell"], geom_col)
        if prev_round is not None:
            cache.track(prev_round)  # released by release_caches()
    merged = merged.drop("_cell")
    if groups:
        final = _partial_union(merged, groups, geom_col)
    else:
        final = _partial_union(merged.withColumn("_one", F.lit(1)), ["_one"], geom_col).drop(
            "_one"
        )

    # attribute aggregation straight from the original rows
    aggs = _build_aggs(agg_columns)
    if aggs:
        if groups:
            attr = df.groupBy(*groups).agg(*aggs)
            final = final.join(attr, on=groups, how="left")
        else:
            attr = df.agg(*aggs)
            final = final.crossJoin(F.broadcast(attr))

    if gridsize and gridsize > 0.0:
        from ..functions.st import st_reduceprecision

        final = final.withColumn(geom_col, st_reduceprecision(F.col(geom_col), gridsize))
    final = final.where(F.col(geom_col).isNotNull())
    if tiles is not None or nb_squarish_tiles > 1:
        if tiles is None:
            # the grid needs the result's bounds (one extra action over
            # `final`) — persist so the dissolve itself runs once, not
            # twice; released via release_caches()
            final = cache.track(final.persist())
        final = _clip_to_tiles(final, tiles, nb_squarish_tiles, geom_col)
    if explodecollections:
        from ..functions.st import st_parts

        final = (
            final.withColumn("_parts", st_parts(F.col(geom_col)))
            .withColumn(geom_col, F.explode("_parts"))
            .drop("_parts")
        )
    if where_post:
        from ..functions.st import register_sql_functions

        register_sql_functions(final.sparkSession)  # st_* usable in the filter
        final = final.where(F.expr(where_post))
    return final


def _squarish_grid(
    bounds: tuple[float, float, float, float], n: int
) -> list[tuple[float, float, float, float]]:
    """~n squarish tiles covering ``bounds`` (the reference's
    ``nb_squarish_tiles`` grid, grid_util.create_grid2 analogue)."""
    import math

    x0, y0, x1, y1 = bounds
    w = max(x1 - x0, 1e-9)
    h = max(y1 - y0, 1e-9)
    cols = max(1, round(math.sqrt(n * w / h)))
    rows = max(1, math.ceil(n / cols))
    return [
        (
            x0 + i * w / cols,
            y0 + j * h / rows,
            x0 + (i + 1) * w / cols,
            y0 + (j + 1) * h / rows,
        )
        for j in range(rows)
        for i in range(cols)
    ]


def _tile_table(spark, tiles) -> DataFrame:
    """``(tile_id, _tx0, _ty0, _tx1, _ty1, _tile_geom)``: one row per
    tile, its rectangle's WKB written on the driver, as a LocalRelation
    (no job to broadcast it)."""
    from ..session import local_frame

    rows = []
    for i, t in enumerate(tiles):
        x0, y0, x1, y1 = map(float, t)
        rows.append((i, x0, y0, x1, y1, W.dumps(G.Geometry.box(x0, y0, x1, y1))))
    return local_frame(
        spark, rows,
        "tile_id long, _tx0 double, _ty0 double, _tx1 double, _ty1 double,"
        " _tile_geom binary",
    )


def _clip_to_tiles(
    final: DataFrame,
    tiles: list[tuple[float, float, float, float]] | None,
    nb_squarish_tiles: int,
    geom_col: str,
) -> DataFrame:
    """Clip the dissolved result to the tile grid (broadcast: the grid is
    driver-sized by construction), adding ``tile_id``."""
    from ..functions.st import st_bbox
    from .overlay import _pair_intersection_udf

    spark = final.sparkSession
    # ONE decode per row: bbox struct reused by the grid derivation and
    # the tile prefilter (separate st_minx/... accessors would decode the
    # same WKB four times each pass)
    final = final.withColumn("_bb", st_bbox(F.col(geom_col)))
    if tiles is None:
        b = final.agg(
            F.min("_bb.minx").alias("x0"),
            F.min("_bb.miny").alias("y0"),
            F.max("_bb.maxx").alias("x1"),
            F.max("_bb.maxy").alias("y1"),
        ).collect()[0]
        tiles = _squarish_grid((b["x0"], b["y0"], b["x1"], b["y1"]), nb_squarish_tiles)
    tdf = _tile_table(spark, tiles)
    tagged = (
        final.withColumn("_gx0", F.col("_bb.minx"))
        .withColumn("_gy0", F.col("_bb.miny"))
        .withColumn("_gx1", F.col("_bb.maxx"))
        .withColumn("_gy1", F.col("_bb.maxy"))
        .drop("_bb")
    )
    j = tagged.join(
        F.broadcast(tdf),
        (F.col("_gx0") < F.col("_tx1"))
        & (F.col("_tx0") < F.col("_gx1"))
        & (F.col("_gy0") < F.col("_ty1"))
        & (F.col("_ty0") < F.col("_gy1")),
    )
    out = j.withColumn(
        geom_col, _pair_intersection_udf(F.col(geom_col), F.col("_tile_geom"))
    ).where(F.col(geom_col).isNotNull())
    return out.drop(
        "_tile_geom", "_gx0", "_gy0", "_gx1", "_gy1", "_tx0", "_ty0", "_tx1", "_ty1"
    )


def _shared_boundary_len_udf(col1, col2):
    """Length of layer-1's boundary lying inside the layer-2 polygon —
    the neighbour-contact statistic of the reference's gap-piece filter
    (its sliver-intersection perimeter/length sums serve the same role,
    ``geoops.py:296-346``)."""

    @F.pandas_udf("double")
    def _shared(wkb1: pd.Series, wkb2: pd.Series) -> pd.Series:
        from ..geometry import clip as CC
        from ..geometry.kernels import _path_length

        out = []
        for b1, b2 in zip(wkb1, wkb2):
            if b1 is None or b2 is None:
                out.append(0.0)
                continue
            g1 = W.loads(bytes(b1))
            g2 = W.loads(bytes(b2))
            total = 0.0
            for rings in g1.polygons():
                for ring in rings:
                    for part in CC.clip_line_by_polygons(ring, g2, keep_inside=True):
                        total += _path_length(np.asarray(part))
            out.append(total)
        return pd.Series(out, dtype="float64")

    return _shared.asNondeterministic()(col1, col2)


def dissolve_within_distance(
    df: DataFrame,
    distance: float,
    groupby_columns: list[str] | None = None,
    close_internal_gaps: bool = False,
    geom_col: str = "geom_wkb",
    gridsize: float = 0.0,
) -> DataFrame:
    """Union geometries closer than ``distance`` (geofileops
    ``geoops.py:37-396``, the 9-step macro).

    Reference shape (no groupby, like the reference): dissolve ->
    +buffer(d/2) -> dissolve -> -buffer(d/2) -> the DIFFERENCE with the
    original dissolve yields candidate gap pieces; pieces are kept only
    when neighbour statistics say they are real between-feature gaps
    (touching > 1 distinct neighbour; with ``close_internal_gaps`` also
    large pieces or pieces mostly bounded by input geometry) — so the
    ORIGINAL boundaries survive unchanged instead of being smeared by
    the +/- buffer round-trip. Kept pieces are unioned back in a final
    dissolve.

    With ``groupby_columns`` (an extension the reference doesn't offer)
    the simple +buffer/dissolve/-buffer approximation is used per group.
    """
    from ..functions.st import st_area, st_buffer, st_length

    half = distance / 2.0

    def _buf(frame, dist):
        return frame.withColumn(
            geom_col,
            st_buffer(
                F.col(geom_col), dist, quad_segs=5,
                cap_style="square", join_style="mitre",
            ),
        ).where(F.col(geom_col).isNotNull())

    if groupby_columns:
        dissolved = dissolve(_buf(df, half), groupby_columns, geom_col=geom_col)
        out = _buf(dissolved, -half)
        if gridsize and gridsize > 0.0:
            from ..functions.st import st_reduceprecision

            out = out.withColumn(
                geom_col, st_reduceprecision(F.col(geom_col), gridsize)
            )
        return out

    from .overlay import difference

    diss = dissolve(
        df.select(geom_col), None, explodecollections=True, geom_col=geom_col
    ).withColumn("fid", F.xxhash64(F.col(geom_col)))
    diss = cache.local_checkpoint(diss)

    closed = dissolve(
        _buf(diss, half), None, explodecollections=True, geom_col=geom_col
    )
    shrunk = _buf(closed, -half).withColumn("fid", F.xxhash64(F.col(geom_col)))

    # candidate gap pieces = closed-up area not covered by the original
    pieces = difference(
        shrunk, diss, geom_col=geom_col, id_col="fid", explodecollections=True
    ).select(geom_col)
    # strip hair/sliver appendixes the +/- buffer round-trip leaves on
    # the pieces (the reference documents the same artifacts,
    # geoops.py:256-273): tiny erode+dilate, then the tiny positive
    # epsilon that makes neighbour-contact detection robust
    cleanup = distance / 1000.0
    # epsilon must exceed the (measured ~1e-7-relative) wobble the
    # erode/dilate pass leaves on piece edges, or contact with a
    # neighbour it really touches is missed
    eps = max(gridsize / 10.0, distance * 1e-6, 1e-9)
    pieces = _buf(_buf(pieces, -cleanup), cleanup + eps).withColumn(
        "pid", F.xxhash64(F.col(geom_col))
    )

    # neighbour statistics per piece (reference geoops.py:274-346): how
    # many distinct input features does the piece touch, and how much of
    # its boundary is shared with them
    from .celljoin import candidate_pairs
    from .join import _INTERSECTS, query_match_udf

    pairs, _ = candidate_pairs(
        pieces, diss.select("fid", geom_col), geom_col1=geom_col,
        geom_col2=geom_col,
    )
    g1, g2 = f"l1_{geom_col}", f"l2_{geom_col}"
    matched = pairs.where(
        query_match_udf(_INTERSECTS)(F.col(g1), F.col(g2))
    )
    stats = (
        matched.withColumn(
            "_shared", _shared_boundary_len_udf(F.col(g1), F.col(g2))
        )
        .groupBy(F.col("l1_pid").alias("pid"))
        .agg(
            F.countDistinct("l2_fid").alias("_nb"),
            F.sum("_shared").alias("_shared_len"),
        )
    )
    pieces = pieces.withColumn("_area", st_area(F.col(geom_col))).withColumn(
        "_perim", st_length(F.col(geom_col))
    )
    enriched = pieces.join(stats, on="pid", how="left").na.fill(
        {"_nb": 0, "_shared_len": 0.0}
    )
    if close_internal_gaps:
        keep_filter = (
            (F.col("_nb") > 1)
            | (F.col("_area") > F.lit(distance * distance))
            | (F.col("_shared_len") > 0.8 * F.col("_perim"))
        )
    else:
        keep_filter = F.col("_nb") > 1
    kept = enriched.where(keep_filter).select(geom_col)

    out = dissolve(
        diss.select(geom_col).unionByName(kept),
        None,
        explodecollections=True,
        geom_col=geom_col,
    )
    if gridsize and gridsize > 0.0:
        from ..functions.st import st_reduceprecision

        out = out.withColumn(geom_col, st_reduceprecision(F.col(geom_col), gridsize))
        out = out.where(F.col(geom_col).isNotNull())
    return out
