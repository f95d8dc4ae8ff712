"""Overlay operators: intersection, difference/erase, clip, identity,
symmetric_difference, union (geofileops ``geoops.py:2777,2138,1908,2525,
3544,3695`` -> ``_geoops_sql.py:942-3292``).

Spark-first shape shared by the family (SURVEY.md §2.5):

    cell-equi candidate join (celljoin.py, the R-tree analogue)
      -> exact ``intersects`` refine
      -> GEOS-like combine kernel in an Arrow-batched pandas UDF
      -> collection_extract(primitive) -> drop NULL/EMPTY
      -> optional gridsize / explodecollections

``difference`` and ``clip`` aggregate ALL intersecting layer-2 geometries
per layer-1 row first (``groupBy(l1_id).agg(collect_list)``) and run a
single combine per row — the Spark translation of the reference's
correlated scalar subquery over ``ST_Union(layer2.geom)``
(``_geoops_sql.py:1000-1028,1200-1214``). Rows with no candidate pass
through unchanged for difference (``IFNULL(..., g1)``) and are dropped
for clip; a difference that comes back EMPTY drops the row (the
reference's ``'DIFF_EMPTY'`` sentinel, ``_geoops_sql.py:1206-1214``).

At scale: the candidate join shuffles on cell id (AQE handles skewed
cells); the per-row aggregation shuffles on the stable l1 id; geometry
kernels never cross the Arrow batch boundary row-by-row.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BinaryType

from .. import cache
from ..geometry import clip as C
from ..geometry import geom as G
from ..geometry import wkb as W
from ..index import pairing
from .celljoin import candidate_pairs, drop_helper_columns, prefix_columns
from .join import query_match_udf
from .relation import SpatialQuery

_INTERSECTS = SpatialQuery("intersects is True")


def _min_primitive(g1: G.Geometry, g2: G.Geometry) -> int:
    """Primitive type (1=point,2=line,3=poly) = min dim of the inputs
    (geofileops keeps the lowest-dimension primitive for intersection,
    ``_geoops_sql.py:1964-1968``)."""
    return min(g1.dim(), g2.dim()) + 1


def _drop_degenerate(g: G.Geometry, prim: int) -> G.Geometry:
    """Drop zero-measure parts of the extracted primitive (edge-touching
    inputs yield degenerate slivers our clipper keeps as area-0 polygons;
    GEOS would type them down to lines, which extraction removes)."""
    from ..geometry import kernels as K

    if prim == 3:
        kept = [p for p in g.parts() if p.dim() == 2 and K.area(p) > 0.0]
    elif prim == 2:
        kept = [p for p in g.parts() if p.dim() == 1 and K.length(p) > 0.0]
    else:
        return g
    if not kept:
        return G.Geometry.empty(G.MULTIPOLYGON if prim == 3 else G.MULTILINESTRING)
    return G.Geometry.collect(kept)


@pandas_udf(BinaryType())
def _pair_intersection_udf(wkb1: pd.Series, wkb2: pd.Series) -> pd.Series:
    from ..geometry.batchclip import batch_intersection
    from .join import _geom_cache_loader

    # decode each DISTINCT blob once per batch: after a cell join the same
    # geometry appears in many consecutive candidate pairs
    load = _geom_cache_loader()
    rows = []  # (out_idx, g1, g2)
    out: list = [None] * len(wkb1)
    for i, (b1, b2) in enumerate(zip(wkb1, wkb2)):
        if b1 is None or b2 is None:
            continue
        rows.append((i, load(bytes(b1)), load(bytes(b2))))
    inters = batch_intersection([r[1] for r in rows], [r[2] for r in rows])
    for (i, g1, g2), inter in zip(rows, inters):
        prim = _min_primitive(g1, g2)
        if prim >= 1:
            inter = _drop_degenerate(inter.collection_extract(prim), prim)
        if not inter.is_empty():
            out[i] = W.dumps(inter.force_multi())
    return pd.Series(out)


# see _combine_vs_union_udf: prevent double evaluation by the optimizer
_pair_intersection_udf = _pair_intersection_udf.asNondeterministic()


def _combine_vs_union_udf(mode: str):
    """(g1, array<g2>) -> g1 <op> union_all(g2s); None when empty.

    mode='difference': the DIFF_EMPTY path — empty result means drop.
    mode='difference_union': union the blades FIRST, then one subtraction
    — required when the blades are subdivided PARTS of one original
    geometry: sequential subtraction leaves floating-point slivers along
    the part seams, while the union heals them exactly (the reference
    subtracts ``ST_Union(layer2_sub)``, ``_geoops_sql.py:1234-1241``).
    mode='intersection': the clip path — primitive of the *input* kept
    (clip layer contributes no attributes, ``_geoops_sql.py:1000-1028``).
    """

    @pandas_udf(BinaryType())
    def _combine(wkb1: pd.Series, others: pd.Series) -> pd.Series:
        if mode == "difference":
            # whole-batch path: flatten every row's sequential blade
            # subtraction into shared sweep-kernel rounds
            # (batchclip.batch_difference_seq) — semantics identical to
            # the per-row C.difference loop, including the pass-through
            # identity for rows no blade touches
            from ..geometry.batchclip import batch_difference_seq

            geom_memo2: dict = {}

            def _load2(b):
                bb = bytes(b)
                g = geom_memo2.get(bb)
                if g is None:
                    g = W.loads(bb)
                    geom_memo2[bb] = g
                return g

            n = len(wkb1)
            outv: list = [None] * n
            idxs: list[int] = []
            subs: list = []
            blists: list = []
            for k, (b1, arr) in enumerate(zip(wkb1, others)):
                if b1 is None or arr is None or len(arr) == 0:
                    continue
                idxs.append(k)
                subs.append(W.loads(bytes(b1)))
                blists.append([_load2(b) for b in arr if b is not None])
            results = batch_difference_seq(subs, blists)
            for k, g1, res in zip(idxs, subs, results):
                if res is g1:
                    outv[k] = W.dumps(g1.force_multi())
                    continue
                res = _drop_degenerate(
                    res.collection_extract(g1.dim() + 1), g1.dim() + 1
                )
                outv[k] = None if res.is_empty() else W.dumps(res.force_multi())
            return pd.Series(outv)
        out = []
        # blade-union memo: neighbouring subjects collect the SAME blade
        # candidate sets (e.g. thousands of parcels against the same 2-4
        # subdivided ring parts) — union each distinct set once per batch
        blade_memo: dict = {}
        # blade DECODE memo: each blade geometry appears in every
        # neighbouring subject's candidate list; ids are spatially
        # correlated and the post-groupBy sort keeps neighbours in the
        # same batch often enough that decoding each distinct blob once
        # per batch beats re-parsing it per occurrence
        geom_memo: dict = {}

        def _load(b):
            bb = bytes(b)
            g = geom_memo.get(bb)
            if g is None:
                g = W.loads(bb)
                geom_memo[bb] = g
            return g

        for b1, arr in zip(wkb1, others):
            if b1 is None or arr is None or len(arr) == 0:
                out.append(None)
                continue
            g1 = W.loads(bytes(b1))
            g2s = [_load(b) for b in arr if b is not None]
            if mode == "difference_union":
                # key on the sorted byte tuple itself (NOT hash(): a 64-bit
                # collision would silently reuse the wrong unioned blade)
                key = tuple(sorted(bytes(b) for b in arr if b is not None))
                blade = blade_memo.get(key)
                if blade is None:
                    blade = C.union_geoms(g2s)
                    blade_memo[key] = blade
                res = C.difference(g1, blade)
                if res is g1:
                    out.append(W.dumps(g1.force_multi()))
                    continue
                res = _drop_degenerate(res.collection_extract(g1.dim() + 1), g1.dim() + 1)
            elif mode == "difference":
                res = g1
                for g2 in g2s:
                    res = C.difference(res, g2)
                    if res.is_empty():
                        break
                if res is g1:
                    # nothing was subtracted (every blade bbox-disjoint):
                    # pass the input through VERBATIM like the reference's
                    # IFNULL(..., g1) — extract/degenerate filtering would
                    # silently strip zero-measure or mixed-dim parts
                    out.append(W.dumps(g1.force_multi()))
                    continue
                res = _drop_degenerate(res.collection_extract(g1.dim() + 1), g1.dim() + 1)
            else:
                blade = C.union_geoms(g2s)
                res = C.intersection(g1, blade)
                res = _drop_degenerate(res.collection_extract(g1.dim() + 1), g1.dim() + 1)
            out.append(None if res.is_empty() else W.dumps(res.force_multi()))
        return pd.Series(out)

    # nondeterministic: stop Catalyst duplicating the kernel into both a
    # Filter and a Project (it would run the Python op twice per row)
    return _combine.asNondeterministic()


def _postprocess(
    df: DataFrame,
    geom_col: str,
    gridsize: float = 0.0,
    explodecollections: bool = False,
    where_post: str | None = None,
    keep_empty_geoms: bool = False,
) -> DataFrame:
    """Shared tail: gridsize snap -> drop empty -> explode -> where_post
    (ordering per geofileops ``_geoops_sql.py:3687-3713``: where_post is
    evaluated AFTER explodecollections). ``keep_empty_geoms`` retains
    rows whose result geometry is NULL/EMPTY (reference two-layer ops
    expose the same flag)."""
    if gridsize and gridsize > 0.0:
        from ..functions.st import st_reduceprecision

        df = df.withColumn(geom_col, st_reduceprecision(F.col(geom_col), gridsize))
    if not keep_empty_geoms:
        df = df.where(F.col(geom_col).isNotNull())
    if explodecollections:
        from ..functions.st import st_parts

        df = (
            df.withColumn("_parts", st_parts(F.col(geom_col)))
            .withColumn(geom_col, F.explode("_parts"))
            .drop("_parts")
        )
    if where_post:
        from ..functions.st import register_sql_functions

        register_sql_functions(df.sparkSession)  # st_* usable in the filter
        df = df.where(F.expr(where_post))
    return df


def subdivide_layer(
    df: DataFrame, max_coords: int, geom_col: str = "geom_wkb",
    with_pos: bool = False, split_at: int | None = None,
) -> DataFrame:
    """Explode complex geometries into parts of <= max_coords vertices
    (geofileops ``_geoops_sql.py:1358-1444``): all attribute columns are
    retained on every part; downstream re-union groups on the stable id.
    ``with_pos`` adds a ``_subpos`` part-index column (deterministic —
    posexplode order), for callers that need a stable per-part key.

    Rows whose WKB is at most ``16 * max_coords`` bytes cannot exceed
    ``max_coords`` vertices (WKB stores >= 16 bytes per coordinate), so
    they bypass the pandas UDF entirely on a pure-JVM length filter —
    for a 500k-parcel layer under the reference's 2000-10000 defaults
    that removes the whole Arrow round trip; only genuinely complex
    geometries pay the Python kernel. NULL geometries are dropped by
    both branches, matching the explode(NULL-array) behavior of the
    single-branch plan.

    ``split_at`` (< max_coords): rows ABOVE the max_coords threshold are
    sliced at this finer granularity instead. The threshold still
    decides WHO gets subdivided (so layers of mid-size geometries are
    untouched), but the giant rows that do qualify yield more, smaller
    parts — callers that re-union parts per id use this to load-balance
    heavily skewed per-part kernels without changing the result."""
    from ..functions.st import st_subdivide_array

    small = F.length(F.col(geom_col)) <= F.lit(16 * max_coords)
    big = df.where(~small).withColumn(
        "_subparts",
        st_subdivide_array(F.col(geom_col), min(split_at or max_coords, max_coords)),
    )
    if with_pos:
        # _nparts lets the caller route single-part rows (the vast
        # majority for small-geometry layers) around the per-id re-union
        # shuffle entirely — subdivide + union of one part is the identity
        big = big.withColumn("_nparts", F.size("_subparts"))
        big = big.select(
            *[c for c in big.columns if c not in (geom_col, "_subparts")],
            F.posexplode("_subparts").alias("_subpos", geom_col),
        )
        sm = df.where(small).withColumn("_nparts", F.lit(1)).withColumn(
            "_subpos", F.lit(0)
        )
        return big.unionByName(sm.select(*big.columns))
    sm = df.where(small)
    big = big.withColumn(geom_col, F.explode("_subparts")).drop("_subparts")
    return big.unionByName(sm.select(*big.columns))


def _union_parts_udf():
    @pandas_udf(BinaryType())
    def _u(parts: pd.Series) -> pd.Series:
        out = []
        for arr in parts:
            if arr is None or len(arr) == 0:
                out.append(None)
                continue
            geoms = [W.loads(bytes(b)) for b in arr if b is not None]
            merged = C.union_geoms(geoms)
            out.append(None if merged.is_empty() else W.dumps(merged.force_multi()))
        return pd.Series(out)

    return _u.asNondeterministic()


def intersection(
    df1: DataFrame,
    df2: DataFrame,
    res: int | None = None,
    geom_col: str = "geom_wkb",
    gridsize: float = 0.0,
    explodecollections: bool = False,
    where_post: str | None = None,
    subdivide_coords: int | None = None,
    id_col: str = "fid",
    keep_empty_geoms: bool = False,
) -> DataFrame:
    """Pairwise overlay intersection (geofileops ``geoops.py:2777`` ->
    ``_geoops_sql.py:1805-2102``): one output row per intersecting
    (l1, l2) pair carrying both sides' attributes prefixed l1_/l2_.

    ``subdivide_coords``: complex geometries are first exploded into
    parts (bounded vertex count — the reference's signature optimization
    for huge polygons), pairwise-intersected per part, then re-unioned
    ``GROUP BY (l1_id, l2_id)`` (``_geoops_sql.py:2027-2070``)."""
    sub = subdivide_coords is not None
    if not sub and not keep_empty_geoms:
        # zero-shuffle broadcast-grid pairs plan (the join_by_location
        # shape): pairing + the pair kernel fuse into one mapInPandas,
        # layer 2 decoded once per task from the broadcast buffer
        matched = _broadcast_pairs_matched(df1, df2, geom_col, id_col)
        if matched is not None:
            out = matched.withColumn(geom_col, F.col("_piece")).drop(
                "_piece", f"l1_{geom_col}", f"l2_{geom_col}"
            )
            return _postprocess(
                out, geom_col, gridsize, explodecollections, where_post,
                keep_empty_geoms,
            )
    s1 = subdivide_layer(df1, subdivide_coords, geom_col) if sub else df1
    s2 = subdivide_layer(df2, subdivide_coords, geom_col) if sub else df2
    pairs, _ = candidate_pairs(
        s1, s2, res=res, geom_col1=geom_col, geom_col2=geom_col,
    )
    g1, g2 = f"l1_{geom_col}", f"l2_{geom_col}"
    # no separate `intersects` refine: the intersection kernel itself
    # yields NULL for non-intersecting candidates (running the predicate
    # first would pay the polygon-pair Python cost twice)
    if keep_empty_geoms:
        # reference keep_empty_geoms retains rows whose pairwise result is
        # empty — but only for TRULY intersecting pairs (its candidate SQL
        # carries an ST_Intersects prefilter, ``_geoops_sql.py:1964-2006``),
        # so bbox-only cell candidates must still be refined away first.
        # The predicate cost is only paid on this non-default path.
        pairs = pairs.where(query_match_udf(_INTERSECTS)(F.col(g1), F.col(g2)))
    out = pairs.withColumn(geom_col, _pair_intersection_udf(F.col(g1), F.col(g2)))
    if not keep_empty_geoms:
        out = out.where(F.col(geom_col).isNotNull())
    out = drop_helper_columns(out).drop(g1, g2)
    if sub:
        # under subdivide, an all-empty pair survives as one NULL-geom row
        # (collect_list skips NULL parts; [] maps to NULL in both branches)
        keys = [f"l1_{id_col}", f"l2_{id_col}"]
        attrs = [c for c in out.columns if c not in keys and c != geom_col]
        grouped = cache.track(
            out.groupBy(*keys)
            .agg(
                F.collect_list(geom_col).alias("_pieces"),
                *[F.first(c).alias(c) for c in attrs],
            )
            .persist()
        )
        # <=1-piece groups skip the union kernel (identity); F.get is
        # NULL on an empty array even under ANSI. Two branches, not a
        # when(): Catalyst evaluates Python UDFs for every row otherwise
        singles = grouped.where(F.size("_pieces") <= 1).withColumn(
            geom_col, F.get("_pieces", 0)
        )
        multi = grouped.where(F.size("_pieces") > 1).withColumn(
            geom_col, _union_parts_udf()(F.col("_pieces"))
        )
        out = singles.unionByName(multi).drop("_pieces")
    return _postprocess(
        out, geom_col, gridsize, explodecollections, where_post, keep_empty_geoms
    )


def _collect_candidates(
    df1: DataFrame,
    df2: DataFrame,
    res: int | None,
    geom_col: str,
    id_col: str,
) -> DataFrame:
    """(l1_id, collect_list(l2 geom)) for bbox-candidate l2 geometries.

    No intersects refine: every consumer feeds a DIFFERENCE-mode combine,
    and subtracting a disjoint blade is a no-op — the kernel's internal
    bbox short-circuit costs far less than a polygon-polygon predicate
    per candidate pair (measured 500k parcels: difference 94 -> ~70 s)."""
    pairs, _ = candidate_pairs(
        df1, df2, res=res, geom_col1=geom_col, geom_col2=geom_col,
    )
    g2 = f"l2_{geom_col}"
    return pairs.groupBy(F.col(f"l1_{id_col}").alias(id_col)).agg(
        F.collect_list(F.col(g2)).alias("_others")
    )


def _reverse_collect_candidates(
    df1: DataFrame, df2: DataFrame, geom_col: str, id_col: str
) -> DataFrame:
    """(id, collect_list(blade geom)) — the reverse-broadcast twin of
    :func:`_collect_candidates` for FEW subjects vs MANY blades: only the
    subjects' (id, bbox) rows are collected and broadcast (a few dozen
    bytes per subject); the blade layer streams through one mapInPandas
    emitting its matches, and only matching blades enter the (small)
    groupBy shuffle."""
    from pyspark.sql.types import StructField, StructType

    spark = df1.sparkSession
    pdf = (
        df1.select(F.col(id_col).alias("_sid"), geom_col)
        .withColumn("_b", pairing._bounds_udf(F.col(geom_col)))
        .select("_sid", "_b.minx", "_b.miny", "_b.maxx", "_b.maxy")
        .toPandas()
    )
    out_schema = StructType(
        [
            StructField("_sid", df1.schema[id_col].dataType),
            StructField("_blade", BinaryType()),
        ]
    )
    bb = pdf[["minx", "miny", "maxx", "maxy"]].to_numpy(np.float64)
    valid = np.isfinite(bb[:, 0])
    if not valid.any():
        empty = spark.createDataFrame([], out_schema)
        return empty.groupBy(F.col("_sid").alias(id_col)).agg(
            F.collect_list("_blade").alias("_others")
        )
    bc = pairing.broadcast(
        spark,
        pairing.Index(
            bb[valid], ids=pdf["_sid"].to_numpy()[valid],
            per_extent=0.5, point_cells=256,
        ),
    )

    def _emit(batches):
        probe = pairing.Probe(bc)
        for pdf2 in batches:
            if len(pdf2) == 0:
                continue
            col = pdf2[geom_col].to_numpy(object)
            # vectorized batch bounds (empty/None rows stay NaN)
            pr, pl = probe.pairs(W.bounds_from_wkb_batch(col.tolist()))
            if len(pr):
                yield pd.DataFrame({"_sid": probe.ids[pl], "_blade": col[pr]})

    hits = df2.select(geom_col).mapInPandas(_emit, schema=out_schema)
    return hits.groupBy(F.col("_sid").alias(id_col)).agg(
        F.collect_list("_blade").alias("_others")
    )


def _broadcast_combine(
    df1: DataFrame,
    df2: DataFrame,
    mode: str,
    geom_col: str,
    keep_empty_geoms: bool = False,
) -> DataFrame:
    """Map-side difference/clip against a SMALL blade layer: layer 2 is
    grid-indexed and broadcast once (same machinery as the export
    broadcast probe, join.py `_layer2_grid_broadcast`), layer 1 streams
    through ONE mapInPandas — no candidate join, no shuffle, and no
    duplication of multi-KB blade blobs into every candidate pair (the
    shuffle plan ships each subdivided 2000-coord blade part to every
    nearby subject row: ~40 KB x 45k rows of pure serialization at 50k
    parcels vs 3 giant rings).

    Semantics identical to the `_collect_candidates` + combine plan:
    candidates are bbox matches; `difference`/`difference_union` pass
    non-matching rows through verbatim and drop (or NULL out, under
    ``keep_empty_geoms``) fully-erased rows; `intersection` (the clip
    shape) keeps only rows with a non-empty clipped result, unioning the
    per-blade fragments."""
    from ..geometry.batchclip import batch_intersection

    spark = df1.sparkSession
    bc = pairing.build(df2, geom_col)
    if bc is None:  # empty blade layer
        return df1 if mode.startswith("difference") else df1.limit(0)
    # mapInPandas inherits the input partitioning: subjects that descend
    # from a few huge rows (a subdivided 3-row complex layer explodes to
    # hundreds of parts but keeps 3 partitions) would run on 3 cores —
    # rebalance cheap subject rows across the executor width first
    target = spark.sparkContext.defaultParallelism * 2
    if df1.rdd.getNumPartitions() < max(2, target // 2):
        df1 = df1.repartition(target)
    schema = df1.schema
    gpos = df1.columns.index(geom_col)
    is_diff = mode.startswith("difference")
    union_first = mode == "difference_union"

    def _probe(batches):
        probe = pairing.Probe(bc)
        g2_at = probe.geom
        blade_memo: dict[tuple, object] = {}
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                yield pdf
                continue
            col = pdf.iloc[:, gpos].to_numpy(object)
            geoms, B = probe.decode(col)
            pr, pl = probe.pairs(B)
            newg = col.copy() if is_diff else np.full(n, None, dtype=object)
            keep = (
                np.ones(n, dtype=bool) if is_diff else np.zeros(n, dtype=bool)
            )
            if len(pr):
                row_start = np.concatenate(
                    ([0], np.nonzero(np.diff(pr))[0] + 1, [len(pr)])
                )
                for s, e in zip(row_start[:-1], row_start[1:]):
                    i = int(pr[s])
                    g1 = geoms[i]
                    if g1 is None:
                        continue
                    cand = pl[s:e]
                    if is_diff:
                        if union_first:
                            # memo key: candidate-INDEX tuple — ints, not
                            # the multi-KB byte blobs of the shuffle plan
                            key = tuple(sorted(int(j) for j in cand))
                            blade = blade_memo.get(key)
                            if blade is None:
                                blade = C.union_geoms(
                                    [g2_at(int(j)) for j in cand]
                                )
                                blade_memo[key] = blade
                            res = C.difference(g1, blade)
                        else:
                            res = g1
                            for j in cand:
                                res = C.difference(res, g2_at(int(j)))
                                if res.is_empty():
                                    break
                        if res is g1:
                            newg[i] = W.dumps(g1.force_multi())
                            continue
                        res = _drop_degenerate(
                            res.collection_extract(g1.dim() + 1), g1.dim() + 1
                        )
                        if res.is_empty():
                            newg[i] = None
                            keep[i] = keep_empty_geoms
                        else:
                            newg[i] = W.dumps(res.force_multi())
                    else:
                        g2s = [g2_at(int(j)) for j in cand]
                        pieces = []
                        for g2, inter in zip(
                            g2s, batch_intersection([g1] * len(g2s), g2s)
                        ):
                            prim = _min_primitive(g1, g2)
                            if prim >= 1:
                                inter = _drop_degenerate(
                                    inter.collection_extract(prim), prim
                                )
                            if not inter.is_empty():
                                pieces.append(inter)
                        if pieces:
                            merged = C.union_geoms(pieces)
                            if not merged.is_empty():
                                newg[i] = W.dumps(merged.force_multi())
                                keep[i] = True
            out = pdf.copy()
            out.iloc[:, gpos] = newg
            yield out[keep]

    return df1.mapInPandas(_probe, schema=schema)


def _subdivide_subject(
    df: DataFrame, subdivide_coords: int, geom_col: str, id_col: str
) -> DataFrame:
    """Explode a layer into bounded-vertex SUBJECT parts for the
    subdivided combine ops: attributes + a deterministic per-part key
    ``_pid`` = xxhash64(id, part index) — the id is referenced from two
    plan branches (candidate collect + join), so a non-deterministic id
    could pair parts with the wrong row's candidates on re-evaluation.

    split_at=512: per-part kernel cost scales superlinearly with part
    size (blade-union + clip over everything the part touches), so
    slicing the qualifying giants finer than the user's threshold
    load-balances the skewed kernel stage (measured 33 s -> 18 s at
    500k on the 4x30k-ring complex difference) while mid-size layers
    keep bypassing on the unchanged max_coords length filter; the
    per-fid re-union makes the granularity invisible in the result."""
    s = subdivide_layer(
        df, subdivide_coords, geom_col, with_pos=True,
        split_at=min(512, subdivide_coords),
    )
    return s.withColumn(
        "_pid", F.xxhash64(F.col(id_col), F.col("_subpos"))
    ).drop("_subpos")


def _difference_of_parts(
    s1: DataFrame,
    s2_geoms: DataFrame,
    res: int | None,
    geom_col: str,
    id_col: str,
    gridsize: float,
    explodecollections: bool,
    where_post: str | None,
    keep_empty_geoms: bool,
    _plan: str | None,
) -> DataFrame:
    """Subdivided difference over PRE-SPLIT inputs: ``s1`` = subject
    parts from :func:`_subdivide_subject`, ``s2_geoms`` = geometry-only
    blade parts. Shared by :func:`difference` and
    :func:`symmetric_difference` (which subdivides each layer once and
    feeds it to both branches).

    The inner call keeps fully-erased parts as NULL-geometry rows so
    the per-id re-union sees EVERY part: a row whose parts were all
    erased survives the groupBy with NULL geometry, and the shared
    _postprocess applies the caller's keep_empty_geoms exactly like
    the non-subdivide branch. blade_union: the erase candidates are
    subdivided PARTS sharing seams — union them before the (single)
    subtraction or the sequential path leaves hairline slivers along
    each seam."""
    parts = difference(
        s1, s2_geoms, res=res, geom_col=geom_col, id_col="_pid",
        keep_empty_geoms=True, blade_union=True, _plan=_plan,
    ).drop("_pid")
    # single-part subjects (every geometry under subdivide_coords —
    # the whole layer when only the OTHER side is complex) skip the
    # re-union: subdivide produced exactly one part, so grouping it
    # back is the identity and the groupBy would shuffle + run one
    # union kernel per row for nothing (measured ~50 s of the 58 s
    # d21 stage at 500k parcels)
    parts = cache.track(parts.persist())
    attrs = [c for c in parts.columns if c not in (id_col, geom_col, "_nparts")]
    singles = parts.where(F.col("_nparts") <= 1).drop("_nparts")
    multi = parts.where(F.col("_nparts") > 1).drop("_nparts")
    out = multi.groupBy(id_col).agg(
        _union_parts_udf()(F.collect_list(geom_col)).alias(geom_col),
        *[F.first(c).alias(c) for c in attrs],
    ).unionByName(singles.select(id_col, geom_col, *attrs))
    return _postprocess(
        out, geom_col, gridsize, explodecollections, where_post,
        keep_empty_geoms,
    )


def difference(
    df1: DataFrame,
    df2: DataFrame,
    res: int | None = None,
    geom_col: str = "geom_wkb",
    id_col: str = "fid",
    gridsize: float = 0.0,
    explodecollections: bool = False,
    where_post: str | None = None,
    subdivide_coords: int | None = None,
    keep_empty_geoms: bool = False,
    blade_union: bool = False,
    broadcast: bool | None = None,
    _plan: str | None = None,
) -> DataFrame:
    """g1 minus the union of all intersecting layer-2 geometries
    (geofileops ``geoops.py:2138`` -> ``_geoops_sql.py:1058-1355``).
    Non-matching layer-1 rows pass through unchanged; rows whose
    difference is EMPTY are dropped (DIFF_EMPTY sentinel semantics).

    ``subdivide_coords``: BOTH layers are exploded into bounded-vertex
    parts (the reference subdivides the erase layer too,
    ``_geoops_sql.py:1058-1355``). Layer-1 parts are each diffed against
    THEIR candidates only, then re-unioned ``GROUP BY {id_col}``
    (``_geoops_sql.py:1279-1324``) — difference distributes over the
    parts' union, so the result is identical while the per-pair kernel
    cost stays bounded. Layer-2 parts are independent subtrahend rows:
    g1 − (p1 ∪ p2 ∪ …) subtracts each part in turn, and bbox pruning
    then ships a parcel only the ~nearby slice of a 300k-coord blade
    instead of the whole blob."""
    if _plan is None:
        # decide on the RAW layer scans (post-subdivide plans hide the
        # size statistics from Catalyst's estimator)
        if broadcast is True:
            _plan = "forward"
        elif broadcast is False:
            _plan = "cell"
        else:
            _plan = pairing.choose("combine", df2, df1).path
    if subdivide_coords is not None:
        s1 = _subdivide_subject(df1, subdivide_coords, geom_col, id_col)
        if _plan == "reverse":
            # the reverse plan evaluates s1 twice (bbox collect + the
            # combine join) and the subdivide of a few giant rows runs
            # on as many tasks as there are ROWS — persist the exploded
            # parts so the multi-second explode happens once
            s1 = cache.track(s1.persist())
        # erase side: geometry-only parts (attributes never survive a
        # difference); no part id needed — the default candidate plan
        # dedups by reference point, not by id
        s2 = subdivide_layer(df2.select(geom_col), subdivide_coords, geom_col)
        return _difference_of_parts(
            s1, s2, res, geom_col, id_col, gridsize, explodecollections,
            where_post, keep_empty_geoms, _plan,
        )
    diff_mode = "difference_union" if blade_union else "difference"
    if _plan == "forward":
        out = _broadcast_combine(
            df1, df2, diff_mode, geom_col, keep_empty_geoms
        )
        return _postprocess(
            out, geom_col, gridsize, explodecollections, where_post,
            keep_empty_geoms,
        )
    if _plan == "reverse":
        others = _reverse_collect_candidates(df1, df2, geom_col, id_col)
    else:
        others = _collect_candidates(df1, df2, res, geom_col, id_col)
    joined = df1.join(others, on=id_col, how="left")
    if _plan == "reverse":
        # few-subjects path: the collect_list shuffle output is only a
        # few dozen MB, so AQE coalesces it to a handful of partitions —
        # but each row carries a MINUTES-scale combine kernel (one giant
        # blade union + difference per subject part). Explicit
        # round-robin repartition (AQE never coalesces an explicit
        # repartition) spreads the ~hundreds of kernel rows across the
        # executor width; the shuffled bytes are trivial by construction.
        # 16x (not 2x) the width: per-row kernel cost is heavily skewed
        # (parts over dense blade areas cost many seconds, sparse parts
        # milliseconds), so at ~2 rows/partition a partition holding two
        # heavy rows serializes them — near-one-row-per-task makes the
        # stage wall the single worst row (measured 33 s -> 26 s on the
        # 329-part complex-difference stage at 500k; empty tasks from
        # over-partitioning cost microseconds).
        n = (
            joined.sparkSession.sparkContext.defaultParallelism
            * pairing.REVERSE_SPREAD
        )
        joined = joined.repartition(n)
    # TWO branches, not a when() over the UDF: Catalyst evaluates a
    # Python UDF inside when() for EVERY row, so the single-branch shape
    # shipped every candidate-less subject (the vast majority when the
    # erase layer is localized, e.g. 500k parcels vs 3 complex rings)
    # through the Python worker just to pass its WKB back verbatim.
    # Persisted so the lonely and hit branches share one join execution.
    joined = cache.track(joined.persist())
    lonely = joined.where(F.col("_others").isNull()).drop("_others")
    hit = joined.where(F.col("_others").isNotNull()).withColumn(
        "_diff",
        _combine_vs_union_udf(diff_mode)(F.col(geom_col), F.col("_others")),
    )
    # no candidates -> pass through; candidates + empty result -> drop
    # (DIFF_EMPTY), unless keep_empty_geoms retains them with NULL geometry
    if not keep_empty_geoms:
        hit = hit.where(F.col("_diff").isNotNull())
    hit = hit.withColumn(geom_col, F.col("_diff")).drop("_diff", "_others")
    out = lonely.unionByName(hit)
    return _postprocess(
        out, geom_col, gridsize, explodecollections, where_post, keep_empty_geoms
    )


# deprecated alias kept for API parity (geofileops ``geoops.py:2267-2306``)
erase = difference


def split(*args, **kwargs):
    """DEPRECATED alias of identity (geofileops ``geoops.py:2683-2732``)."""
    import warnings

    warnings.warn(
        "split is deprecated because it was renamed to identity",
        FutureWarning,
        stacklevel=2,
    )
    return identity(*args, **kwargs)


def intersect(*args, **kwargs):
    """DEPRECATED alias of intersection (geofileops ``geoops.py:2734-2776``)."""
    import warnings

    warnings.warn(
        "intersect is deprecated because it was renamed to intersection",
        FutureWarning,
        stacklevel=2,
    )
    return intersection(*args, **kwargs)


def clip(
    df1: DataFrame,
    df2: DataFrame,
    res: int | None = None,
    geom_col: str = "geom_wkb",
    id_col: str = "fid",
    gridsize: float = 0.0,
    explodecollections: bool = False,
    where_post: str | None = None,
    subdivide_coords: int | None = None,
    broadcast: bool | None = None,
    _plan: str | None = None,
) -> DataFrame:
    """g1 intersected with the union of intersecting clip geometries;
    clip layer contributes no attributes, non-intersecting rows dropped
    (geofileops ``geoops.py:1908`` -> ``_geoops_sql.py:942-1055``)."""
    if _plan is None:
        if broadcast is True:
            _plan = "forward"
        elif broadcast is False:
            _plan = "cell"
        else:
            # clip has no reverse kernel shape: few-subjects-vs-many-
            # blades still runs the pairwise cell join
            _plan = pairing.choose("combine", df2, df1).path
            if _plan == "reverse":
                _plan = "cell"
    if subdivide_coords is not None:
        s1 = subdivide_layer(df1, subdivide_coords, geom_col, with_pos=True)
        s1 = s1.withColumn(
            "_pid", F.xxhash64(F.col(id_col), F.col("_subpos"))
        ).drop("_subpos")
        parts = clip(
            s1, df2, res=res, geom_col=geom_col, id_col="_pid",
            _plan=_plan,
        ).drop("_pid")
        # single-part subjects skip the re-union (see difference)
        parts = cache.track(parts.persist())
        attrs = [c for c in parts.columns if c not in (id_col, geom_col, "_nparts")]
        singles = parts.where(F.col("_nparts") <= 1).drop("_nparts")
        multi = parts.where(F.col("_nparts") > 1).drop("_nparts")
        out = multi.groupBy(id_col).agg(
            _union_parts_udf()(F.collect_list(geom_col)).alias(geom_col),
            *[F.first(c).alias(c) for c in attrs],
        ).unionByName(singles.select(id_col, geom_col, *attrs))
        return _postprocess(out, geom_col, gridsize, explodecollections, where_post)
    if _plan == "forward":
        out = _broadcast_combine(df1, df2, "intersection", geom_col)
        return _postprocess(
            out, geom_col, gridsize, explodecollections, where_post
        )
    # l1 ∩ union(blades) = union(l1 ∩ blade_i): compute PAIRWISE
    # intersections with the batched Arrow kernel, then union the (small)
    # result fragments per l1 row — unioning full blade polygons first
    # paid the unbatched union_geoms kernel per candidate (measured 157 s
    # vs 42 s at 500k parcels); fragments are ~10-vertex clips. The
    # intersects refine is free: the pair kernel yields NULL for
    # non-intersecting candidates.
    slim1 = df1.select(id_col, geom_col)
    # zero-shuffle pairing + pair kernel when the clip layer fits the
    # broadcast budget (clip layer contributes no attributes, so the
    # probe output is just (id, piece))
    pieces = _broadcast_pairs_matched(
        slim1, df2.select(geom_col), geom_col, id_col, with_l2=False
    )
    if pieces is None:
        pairs, _ = candidate_pairs(
            slim1, df2.select(geom_col), res=res,
            geom_col1=geom_col, geom_col2=geom_col,
        )
        g1, g2 = f"l1_{geom_col}", f"l2_{geom_col}"
        pieces = pairs.withColumn(
            "_piece", _pair_intersection_udf(F.col(g1), F.col(g2))
        ).where(F.col("_piece").isNotNull())
    grouped = cache.track(
        pieces.groupBy(F.col(f"l1_{id_col}").alias(id_col))
        .agg(F.collect_list("_piece").alias("_pieces"))
        .persist()
    )
    # single-piece rows (the majority for parcel-scale inputs) skip the
    # union kernel entirely: the piece is already an extracted MULTI
    # geometry and union of one geometry is the identity. Two branches
    # over the persisted groupBy output, NOT a when() — Catalyst pulls
    # Python UDFs into an ArrowEvalPython node that evaluates them for
    # EVERY row regardless of the condition
    singles = grouped.where(F.size("_pieces") == 1).withColumn(
        geom_col, F.element_at("_pieces", 1)
    )
    multi = grouped.where(F.size("_pieces") > 1).withColumn(
        geom_col, _union_parts_udf()(F.col("_pieces"))
    )
    merged = singles.unionByName(multi).drop("_pieces")
    out = df1.drop(geom_col).join(merged, on=id_col, how="inner")
    out = out.where(F.col(geom_col).isNotNull()).select(*df1.columns)
    return _postprocess(out, geom_col, gridsize, explodecollections, where_post)


def _broadcast_pairs_matched(
    df1: DataFrame, df2: DataFrame, geom_col: str, id_col: str,
    with_l2: bool = True,
    self_half_uid: str | None = None,
) -> DataFrame | None:
    """Zero-shuffle matched-pairs frame for the pairwise overlays — the
    overlay twin of ``join._join_broadcast_pairs``: layer 2 is
    grid-indexed and broadcast, layer 1 streams through ONE mapInPandas
    that computes the pairwise intersection PIECE for every bbox
    candidate (same kernel + extract semantics as
    ``_pair_intersection_udf``), and l2 attributes attach via a
    broadcast hash join on the l2 id. Replaces the cover-explode +
    cell-shuffle candidate join for the common "both layers fit this
    machine" benchmark shape; the distributed cell join stays the
    default above budget.

    Output: l1_-prefixed df1 columns (geometry included), l2_-prefixed
    df2 columns (geometry included), and ``_piece``. ``with_l2=False``
    skips the attribute join and emits only df1 columns + ``_piece``
    (the clip shape — the clip layer contributes no attributes).
    Returns None when layer 2 is over budget / empty / has no usable
    int id.

    ``self_half_uid``: for SELF-pairings (df1 is df2), name of the
    int64 row-id column; candidate pairs are pre-filtered to
    ``uid1 < uid2`` INSIDE the probe, before the intersection kernel —
    a post-hoc ``where(l1_uid < l2_uid)`` would compute every unordered
    pair's intersection twice and throw one away (requires
    ``with_l2=True`` so the broadcast carries the ids)."""
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    from ..geometry.batchclip import batch_intersection

    if self_half_uid is not None and not with_l2:
        raise ValueError("self_half_uid needs with_l2=True (the layer-2 ids)")
    if with_l2:
        if id_col not in df2.columns or not isinstance(
            df2.schema[id_col].dataType, (LongType, IntegerType)
        ):
            return None
    if pairing.choose("pairs", df2).path != "broadcast":
        return None
    bc = pairing.build(df2, geom_col, id_col=id_col if with_l2 else None)
    if bc is None:
        return None

    schema = StructType(
        df1.schema.fields
        + [StructField("_l2id", LongType()), StructField("_piece", BinaryType())]
    )

    def _probe(batches):
        probe = pairing.Probe(bc)
        ids = probe.ids
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                yield pdf.assign(
                    _l2id=pd.Series(dtype="int64"),
                    _piece=pd.Series(dtype=object),
                )
                continue
            g1s, B = probe.decode(pdf[geom_col].to_numpy(object))
            pr, pl = probe.pairs(B)
            if self_half_uid is not None and len(pr):
                suid = pdf[self_half_uid].to_numpy(np.int64)
                m = suid[pr] < ids[pl]
                pr, pl = pr[m], pl[m]
            if len(pr) == 0:
                yield pdf.iloc[0:0].assign(
                    _l2id=pd.Series(dtype="int64"),
                    _piece=pd.Series(dtype=object),
                )
                continue
            ga = [g1s[int(t)] for t in pr]
            gb = [probe.geom(j) for j in pl]
            inters = batch_intersection(ga, gb)
            pieces: list = [None] * len(pr)
            keep = np.zeros(len(pr), dtype=bool)
            for t, (g1, g2, inter) in enumerate(zip(ga, gb, inters)):
                prim = _min_primitive(g1, g2)
                if prim >= 1:
                    inter = _drop_degenerate(
                        inter.collection_extract(prim), prim
                    )
                if not inter.is_empty():
                    pieces[t] = W.dumps(inter.force_multi())
                    keep[t] = True
            sel = np.nonzero(keep)[0]
            out = pdf.iloc[pr[sel]].copy()
            out["_l2id"] = (
                ids[pl[sel]] if ids is not None else pl[sel].astype("int64")
            )
            out["_piece"] = [pieces[t] for t in sel]
            yield out

    probe_out = df1.mapInPandas(_probe, schema=schema)
    if with_l2:
        l2a = prefix_columns(df2, "l2_")
        matched = probe_out.join(
            F.broadcast(l2a),
            probe_out["_l2id"] == l2a[f"l2_{id_col}"],
            "inner",
        ).drop("_l2id")
    else:
        matched = probe_out.drop("_l2id")
    for c in df1.columns:
        matched = matched.withColumnRenamed(c, f"l1_{c}")
    return matched


def _shared_overlay_parts(
    df1: DataFrame,
    df2: DataFrame,
    res: int | None,
    geom_col: str,
    id_col: str,
    need: tuple[bool, bool, bool],
):
    """One candidate join + ONE pairwise-intersection kernel pass shared
    by every branch of the composite overlays. Returns (inter, d12, d21)
    DataFrames (None when not requested); the caller unions them.

    The single kernel pass computes the intersection PIECE for every
    bbox-candidate pair; ``piece IS NOT NULL`` doubles as the refine
    (a piece exists iff the pair overlaps in the common primitive), so
    the previous separate DE-9IM refine pass is gone and the inter
    branch is a free projection of the persisted piece. The diff sides
    still subtract the FULL other-side geometries: subtracting the
    pieces instead (``A \\ ∪B_i == A \\ ∪(A∩B_i)``) was measured 1.4x
    SLOWER — a piece's boundary partially coincides with the subject's
    own boundary by construction, which drives every subtraction into
    the clipper's degenerate coincident-edge handling. Boundary-touch
    -only pairs (intersects=True, piece=NULL) subtract nothing, so
    piece-based matching leaves every branch's result identical — their
    subjects now pass through verbatim instead of being renoded."""
    g1, g2 = f"l1_{geom_col}", f"l2_{geom_col}"
    matched = _broadcast_pairs_matched(df1, df2, geom_col, id_col)
    if matched is None:
        pairs, _ = candidate_pairs(
            df1, df2, res=res, geom_col1=geom_col, geom_col2=geom_col,
        )
        matched = pairs.withColumn(
            "_piece", _pair_intersection_udf(F.col(g1), F.col(g2))
        ).where(F.col("_piece").isNotNull())
    matched = cache.track(matched.persist())

    inter = d12 = d21 = None
    if need[0]:
        inter = matched.withColumn(geom_col, F.col("_piece"))
        inter = drop_helper_columns(inter).drop(g1, g2, "_piece")

    def _diff_side(base: DataFrame, key: str, other_geom: str) -> DataFrame:
        cands = matched.groupBy(F.col(key).alias(id_col)).agg(
            F.collect_list(F.col(other_geom)).alias("_others")
        )
        # lonely/hit branch split (same rationale as difference()'s
        # tail): a when() over the UDF ships every candidate-less row
        # through the Python worker; persisted so both branches share
        # one join execution
        joined = cache.track(base.join(cands, on=id_col, how="left").persist())
        lonely = joined.where(F.col("_others").isNull()).drop("_others")
        hit = joined.where(F.col("_others").isNotNull()).withColumn(
            "_diff",
            _combine_vs_union_udf("difference")(F.col(geom_col), F.col("_others")),
        )
        hit = (
            hit.where(F.col("_diff").isNotNull())
            .withColumn(geom_col, F.col("_diff"))
            .drop("_diff", "_others")
        )
        return lonely.unionByName(hit)

    if need[1]:
        d12 = _diff_side(df1, f"l1_{id_col}", g2)
    if need[2]:
        d21 = _diff_side(df2, f"l2_{id_col}", g1)
    return inter, d12, d21


def identity(
    df1: DataFrame,
    df2: DataFrame,
    res: int | None = None,
    geom_col: str = "geom_wkb",
    id_col: str = "fid",
    gridsize: float = 0.0,
    explodecollections: bool = False,
    where_post: str | None = None,
    subdivide_coords: int | None = None,
) -> DataFrame:
    """intersection(1,2) ⊎ difference(1,2) (geofileops ``geoops.py:2525``
    -> ``_geoops_sql.py:2752-2911``). L2 columns NULL on difference rows.
    Both branches share one candidate join + refine.

    ``subdivide_coords``: composes the two subdivided branch ops like the
    reference's sequential plan (``_geoops_sql.py:2770,2833-2880``) —
    each branch bounds its per-pair kernel cost independently."""
    if subdivide_coords is not None:
        inter = intersection(
            df1, df2, res=res, geom_col=geom_col, id_col=id_col,
            gridsize=gridsize, explodecollections=explodecollections,
            where_post=where_post, subdivide_coords=subdivide_coords,
        )
        d12 = difference(
            df1, df2, res=res, geom_col=geom_col, id_col=id_col,
            gridsize=gridsize, explodecollections=explodecollections,
            where_post=where_post, subdivide_coords=subdivide_coords,
        )
        d12 = prefix_columns(d12, "l1_", exclude=(geom_col,))
        return inter.unionByName(d12, allowMissingColumns=True)
    inter, d12, _ = _shared_overlay_parts(
        df1, df2, res, geom_col, id_col, (True, True, False)
    )
    inter = _postprocess(inter, geom_col, gridsize, explodecollections, where_post)
    d12 = _postprocess(d12, geom_col, gridsize, explodecollections, where_post)
    d12 = prefix_columns(d12, "l1_", exclude=(geom_col,))
    return inter.unionByName(d12, allowMissingColumns=True)


def symmetric_difference(
    df1: DataFrame,
    df2: DataFrame,
    res: int | None = None,
    geom_col: str = "geom_wkb",
    id_col: str = "fid",
    gridsize: float = 0.0,
    explodecollections: bool = False,
    where_post: str | None = None,
    subdivide_coords: int | None = None,
) -> DataFrame:
    """difference(1,2) ⊎ difference(2,1) with the other side's columns
    NULL-filled (geofileops ``geoops.py:3544`` -> ``_geoops_sql.py:
    2914-3086``). Both branches share one candidate join + refine.

    ``subdivide_coords``: two subdivided ``difference`` branches exactly
    like the reference's Step 2/3 plan (``_geoops_sql.py:2931,2999-3047``
    — it differences subdivided temp layers then appends), but each
    layer is subdivided ONCE and reused by both branches: as the subject
    directly, as the blade via a geometry-only projection. Finer-than-
    asked blade parts are harmless — blade_union welds the candidates
    back together before the single subtraction. Previously each
    ``difference`` call re-subdivided both layers (4 explode passes per
    symdiff, the complex layer's multi-second ring clip paid twice)."""
    if subdivide_coords is not None:
        s1 = cache.track(
            _subdivide_subject(df1, subdivide_coords, geom_col, id_col).persist()
        )
        s2 = cache.track(
            _subdivide_subject(df2, subdivide_coords, geom_col, id_col).persist()
        )
        # plan per branch, decided on the RAW scans (the subdivided
        # frames hide size statistics from Catalyst's estimator)
        d12 = _difference_of_parts(
            s1, s2.select(geom_col), res, geom_col, id_col, gridsize,
            explodecollections, where_post, False,
            pairing.choose("combine", df2, df1).path,
        )
        d21 = _difference_of_parts(
            s2, s1.select(geom_col), res, geom_col, id_col, gridsize,
            explodecollections, where_post, False,
            pairing.choose("combine", df1, df2).path,
        )
        d12 = prefix_columns(d12, "l1_", exclude=(geom_col,))
        d21 = prefix_columns(d21, "l2_", exclude=(geom_col,))
        return d12.unionByName(d21, allowMissingColumns=True)
    _, d12, d21 = _shared_overlay_parts(
        df1, df2, res, geom_col, id_col, (False, True, True)
    )
    d12 = _postprocess(d12, geom_col, gridsize, explodecollections, where_post)
    d21 = _postprocess(d21, geom_col, gridsize, explodecollections, where_post)
    d12 = prefix_columns(d12, "l1_", exclude=(geom_col,))
    d21 = prefix_columns(d21, "l2_", exclude=(geom_col,))
    return d12.unionByName(d21, allowMissingColumns=True)


def union(
    df1: DataFrame,
    df2: DataFrame,
    res: int | None = None,
    geom_col: str = "geom_wkb",
    id_col: str = "fid",
    gridsize: float = 0.0,
    explodecollections: bool = False,
    where_post: str | None = None,
    subdivide_coords: int | None = None,
) -> DataFrame:
    """Overlay union = intersection(1,2) ⊎ difference(1,2) ⊎
    difference(2,1) (geofileops ``geoops.py:3695`` -> ``_geoops_sql.py:
    3089-3292``). The reference runs the three ops sequentially over
    shared subdivided inputs; here all three branches share ONE candidate
    join + intersects refine (the matched pairs are persisted and reused
    — previously each branch re-ran the cover UDFs and refine).

    ``subdivide_coords``: composes the three subdivided branch ops like
    the reference's sequential plan (``_geoops_sql.py:3107,3180-3250``);
    the two difference branches share one subdivide per layer (see
    :func:`symmetric_difference`). The intersection branch keeps its own
    (its parts carry attributes and re-union per pair, a different
    shape)."""
    if subdivide_coords is not None:
        inter = intersection(
            df1, df2, res=res, geom_col=geom_col, id_col=id_col,
            gridsize=gridsize, explodecollections=explodecollections,
            where_post=where_post, subdivide_coords=subdivide_coords,
        )
        s1 = cache.track(
            _subdivide_subject(df1, subdivide_coords, geom_col, id_col).persist()
        )
        s2 = cache.track(
            _subdivide_subject(df2, subdivide_coords, geom_col, id_col).persist()
        )
        d12 = _difference_of_parts(
            s1, s2.select(geom_col), res, geom_col, id_col, gridsize,
            explodecollections, where_post, False,
            pairing.choose("combine", df2, df1).path,
        )
        d21 = _difference_of_parts(
            s2, s1.select(geom_col), res, geom_col, id_col, gridsize,
            explodecollections, where_post, False,
            pairing.choose("combine", df1, df2).path,
        )
        d12 = prefix_columns(d12, "l1_", exclude=(geom_col,))
        d21 = prefix_columns(d21, "l2_", exclude=(geom_col,))
        return inter.unionByName(d12, allowMissingColumns=True).unionByName(
            d21, allowMissingColumns=True
        )
    inter, d12, d21 = _shared_overlay_parts(
        df1, df2, res, geom_col, id_col, (True, True, True)
    )
    inter = _postprocess(inter, geom_col, gridsize, explodecollections, where_post)
    d12 = _postprocess(d12, geom_col, gridsize, explodecollections, where_post)
    d21 = _postprocess(d21, geom_col, gridsize, explodecollections, where_post)
    d12 = prefix_columns(d12, "l1_", exclude=(geom_col,))
    d21 = prefix_columns(d21, "l2_", exclude=(geom_col,))
    return inter.unionByName(d12, allowMissingColumns=True).unionByName(
        d21, allowMissingColumns=True
    )
