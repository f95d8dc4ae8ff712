"""Overlay operators: intersection, difference/erase, clip, identity,
symmetric_difference, union (geofileops ``geoops.py:2777,2138,1908,2525,
3544,3695`` -> ``_geoops_sql.py:942-3292``).

Spark-first shape shared by the family (SURVEY.md §2.5), each step
written once and called by every physical plan:

    bbox candidate pairs: broadcast-grid probe or cell join
      (the R-tree analogue; ``index.pairing.choose`` picks)
      -> pair piece kernel (:func:`_pieces`): the pairwise intersection
         in the pair's lowest primitive as MULTI WKB, NULL/EMPTY dropped
         — it is also the exact refine of the bbox candidates; pairs the
         batched clipper solves are written from its rings directly
      -> row combine kernel (:func:`_combine_rows`): a row minus (the
         union of) its candidate blades
      -> re-union of subdivided parts (:func:`_reunion`)
      -> optional gridsize / explodecollections / where_post

:func:`_pair_pieces` is the one entry to the pieces of every candidate
pair, on either plan. ``identity``, ``symmetric_difference`` and
``union`` are compositions of the same steps (:func:`_compose`).

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
from pyspark.sql.types import BinaryType, StructField

from .. import cache
from ..geometry import clip as C
from ..geometry import geom as G
from ..geometry import wkb as W
from ..index import pairing
from .celljoin import candidate_pairs, drop_helper_columns, prefix_columns
from .join import _INTERSECTS, _geom_cache_loader, query_match_udf


# ---------------------------------------------------------------- kernels
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


def _pieces(gs1: list, gs2: list) -> list:
    """Pair piece kernel: the intersection of every ``(gs1[i], gs2[i])``
    pair as MULTI WKB, or None when it is empty. The piece keeps the
    pair's lowest-dimension primitive (geofileops keeps min dim,
    ``_geoops_sql.py:1964-1968``) with zero-measure parts dropped, so a
    piece exists iff the pair overlaps in that primitive.

    Pairs the batched clipper solved come back as assembled polygons
    (``batchclip.intersection_parts``) and are written as MULTIPOLYGON
    WKB directly: two single-ring polygons always meet in primitive 3,
    and a polygon whose area the traversal already proved positive
    needs no ``_drop_degenerate`` pass. The per-pair fallbacks keep the
    Geometry tail."""
    from ..geometry import kernels as K
    from ..geometry.batchclip import intersection_parts

    out = []
    for g1, g2, got in zip(gs1, gs2, intersection_parts(gs1, gs2)):
        if isinstance(got, G.Geometry):
            prim = min(g1.dim(), g2.dim()) + 1
            if prim >= 1:
                got = _drop_degenerate(got.collection_extract(prim), prim)
            out.append(None if got.is_empty() else W.dumps(got.force_multi()))
            continue
        polys, positive = got
        if not positive:
            polys = [p for p in polys if K.area(G.Geometry(G.POLYGON, p)) > 0.0]
        out.append(W.dumps(G.Geometry(G.MULTIPOLYGON, polys)) if polys else None)
    return out


def _combine_rows(
    subjects: list, blade_lists: list, mode: str, memo: dict | None = None
) -> list:
    """Row combine kernel: ``subjects[i]`` minus its blades
    ``blade_lists[i]`` as MULTI WKB, or None when nothing is left.

    mode='difference': the blades are subtracted in turn, the polygons a
    loop of ``clip.difference`` calls leaves; each row is one lane of
    the difference stepper, whose rounds share their sweeps across the
    batch's rows (``batchclip.batch_difference_seq``).
    mode='difference_union': the blades are unioned FIRST, then one
    subtraction — required when the blades are subdivided PARTS of one
    original geometry: sequential subtraction leaves floating-point
    slivers along the part seams, while the union heals them exactly
    (the reference subtracts ``ST_Union(layer2_sub)``,
    ``_geoops_sql.py:1234-1241``). ``memo`` keeps each distinct blade
    set's union: neighbouring subjects collect the SAME few subdivided
    parts. It is keyed on the blade objects' identity, so callers pass
    the same object for the same blade (a decode cache), and it holds
    the blades so no id is reused while the key lives.

    A subject no blade touched comes back verbatim, like the reference's
    ``IFNULL(..., g1)``: extract/degenerate filtering would silently
    strip zero-measure or mixed-dim parts."""
    from ..geometry.batchclip import batch_difference_seq

    if mode == "difference":
        results = batch_difference_seq(subjects, blade_lists)
    elif mode == "difference_union":
        memo = {} if memo is None else memo
        results = []
        for g1, g2s in zip(subjects, blade_lists):
            key = tuple(sorted(map(id, g2s)))
            hit = memo.get(key)
            if hit is None:
                hit = memo[key] = (g2s, C.union_geoms(g2s))
            results.append(C.difference(g1, hit[1]))
    else:
        raise ValueError(f"unknown combine mode: {mode!r}")
    out = []
    for g1, res in zip(subjects, results):
        if res is g1:
            out.append(W.dumps(g1.force_multi()))
            continue
        prim = g1.dim() + 1
        res = _drop_degenerate(res.collection_extract(prim), prim)
        out.append(None if res.is_empty() else W.dumps(res.force_multi()))
    return out


def _union_wkb(geoms: list) -> bytes | None:
    """Union of the pieces of one row as MULTI WKB; None when empty."""
    merged = C.union_geoms(geoms)
    return None if merged.is_empty() else W.dumps(merged.force_multi())


@pandas_udf(BinaryType())
def _pair_intersection_udf(wkb1: pd.Series, wkb2: pd.Series) -> pd.Series:
    # decode each DISTINCT blob once per batch: after a cell join the same
    # geometry appears in many consecutive candidate pairs
    load = _geom_cache_loader()
    out: list = [None] * len(wkb1)
    idx, gs1, gs2 = [], [], []
    for i, (b1, b2) in enumerate(zip(wkb1, wkb2)):
        if b1 is not None and b2 is not None:
            idx.append(i)
            gs1.append(load(bytes(b1)))
            gs2.append(load(bytes(b2)))
    for i, piece in zip(idx, _pieces(gs1, gs2)):
        out[i] = piece
    return pd.Series(out)


# see _combine_vs_union_udf: prevent double evaluation by the optimizer
_pair_intersection_udf = _pair_intersection_udf.asNondeterministic()


def _combine_vs_union_udf(mode: str):
    """(g1, array<g2>) -> :func:`_combine_rows` of the row; None when the
    row has no blades or nothing is left (the DIFF_EMPTY drop). ``mode``
    is ``difference`` or ``difference_union``."""
    if mode not in ("difference", "difference_union"):
        raise ValueError(f"unknown combine mode: {mode!r}")

    @pandas_udf(BinaryType())
    def _combine(wkb1: pd.Series, others: pd.Series) -> pd.Series:
        # blades are decoded once per distinct blob: each one appears in
        # every neighbouring subject's candidate list
        load = _geom_cache_loader()
        out: list = [None] * len(wkb1)
        idx, subjects, blades = [], [], []
        for k, (b1, arr) in enumerate(zip(wkb1, others)):
            if b1 is None or arr is None or len(arr) == 0:
                continue
            idx.append(k)
            subjects.append(W.loads(bytes(b1)))
            blades.append([load(bytes(b)) for b in arr if b is not None])
        for k, res in zip(idx, _combine_rows(subjects, blades, mode)):
            out[k] = res
        return pd.Series(out)

    # nondeterministic: stop Catalyst duplicating the kernel into both a
    # Filter and a Project (it would run the Python op twice per row)
    return _combine.asNondeterministic()


def _union_parts_udf():
    @pandas_udf(BinaryType())
    def _u(parts: pd.Series) -> pd.Series:
        out = []
        for arr in parts:
            if arr is None or len(arr) == 0:
                out.append(None)
                continue
            out.append(_union_wkb([W.loads(bytes(b)) for b in arr if b is not None]))
        return pd.Series(out)

    return _u.asNondeterministic()


# ------------------------------------------------------------------ tails
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


def _blade_lists(pairs: DataFrame, key: str, blade: str, id_col: str) -> DataFrame:
    """(``id_col``, ``_others``): every ``blade`` paired with each ``key``."""
    return pairs.groupBy(F.col(key).alias(id_col)).agg(
        F.collect_list(F.col(blade)).alias("_others")
    )


def _subtract(
    base: DataFrame,
    others: DataFrame,
    id_col: str,
    geom_col: str,
    mode: str,
    keep_empty_geoms: bool = False,
    spread: int | None = None,
) -> DataFrame:
    """``base`` rows minus their blade lists ``others`` (from
    :func:`_blade_lists`) through the row combine kernel. Rows without
    blades pass through verbatim; a row whose result is empty is dropped
    (DIFF_EMPTY), or kept with NULL geometry under ``keep_empty_geoms``.
    ``spread`` round-robins the joined rows over that many partitions.

    TWO branches, not a when() over the UDF: Catalyst pulls Python UDFs
    into an ArrowEvalPython node that evaluates them for EVERY row
    regardless of the condition, so the single-branch shape shipped every
    candidate-less subject (the vast majority when the erase layer is
    localized, e.g. 500k parcels vs 3 complex rings) through the Python
    worker just to pass its WKB back verbatim. The join is persisted so
    both branches share one execution."""
    joined = base.join(others, on=id_col, how="left")
    if spread is not None:
        joined = joined.repartition(spread)
    joined = cache.track(joined.persist())
    lonely = joined.where(F.col("_others").isNull()).drop("_others")
    hit = joined.where(F.col("_others").isNotNull()).withColumn(
        "_diff", _combine_vs_union_udf(mode)(F.col(geom_col), F.col("_others"))
    )
    if not keep_empty_geoms:
        hit = hit.where(F.col("_diff").isNotNull())
    hit = hit.withColumn(geom_col, F.col("_diff")).drop("_diff", "_others")
    return lonely.unionByName(hit)


def _reunion(df: DataFrame, keys: list[str], geom_col: str) -> DataFrame:
    """Union the ``geom_col`` pieces of each ``keys`` group back into one
    geometry; every other column takes the group's first value. A group
    whose pieces were all NULL comes back with NULL geometry
    (collect_list skips NULLs).

    Rows that are their own group skip the union kernel in a second
    branch over a persisted frame, NOT a when() (see :func:`_subtract`):

    - with an ``_nparts`` column (subject parts from
      :func:`_subdivide_subject`), the parts of one-part subjects — every
      geometry under subdivide_coords, the whole layer when only the
      OTHER side is complex — bypass the groupBy shuffle as well
      (measured ~50 s of the 58 s d21 stage at 500k parcels);
    - otherwise groups of at most one piece take it as is (``F.get`` is
      NULL on an empty array even under ANSI)."""
    attrs = [c for c in df.columns if c not in (*keys, geom_col, "_nparts")]

    def grouped(frame: DataFrame) -> DataFrame:
        return frame.groupBy(*keys).agg(
            F.collect_list(geom_col).alias("_pieces"),
            *[F.first(c).alias(c) for c in attrs],
        )

    union = _union_parts_udf()(F.col("_pieces"))
    if "_nparts" in df.columns:
        df = cache.track(df.persist())
        singles = df.where(F.col("_nparts") <= 1).drop("_nparts")
        multi = grouped(df.where(F.col("_nparts") > 1)).withColumn(geom_col, union)
        return multi.drop("_pieces").unionByName(singles)
    g = cache.track(grouped(df).persist())
    singles = g.where(F.size("_pieces") <= 1).withColumn(geom_col, F.get("_pieces", 0))
    multi = g.where(F.size("_pieces") > 1).withColumn(geom_col, union)
    return singles.unionByName(multi).drop("_pieces")


# ---------------------------------------------------------------- subdivide
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


# ------------------------------------------------------------------ pairing
def _broadcast_pairs_matched(
    df1: DataFrame, df2: DataFrame, geom_col: str, geoms: bool = True,
    self_half_uid: str | None = None,
) -> DataFrame | None:
    """Broadcast plan of :func:`_pair_pieces`: layer 2 (the columns the
    caller keeps) is collected once, grid-indexed and broadcast; layer 1
    streams through the probe driver (``pairing.probe``), whose step
    runs the pair piece kernel over every bbox candidate of a batch and
    emits finished rows, layer-2 attributes taken by position. No cover
    explode, no cell shuffle and no attribute join; the probe is the
    job's only Python stage (``pairing.build`` collects layer 2
    JVM-only, uncounted).

    Output: l1_-prefixed df1 columns, l2_-prefixed df2 columns and
    ``_piece``; the two geometry columns only with ``geoms``. Returns
    None, and the caller takes the cell join, when layer 2 is over the
    byte budget (``pairing.choose``), over the row cap
    (``pairing.OVER_CAP`` from ``pairing.build``) or has no valid
    geometry.

    ``self_half_uid``: for SELF-pairings (df1 is df2), name of the
    int64 row-id column; the driver keeps only the ``uid1 < uid2``
    candidate pairs, before the intersection kernel — a post-hoc
    ``where(l1_uid < l2_uid)`` would compute every unordered pair's
    intersection twice and throw one away."""
    if pairing.choose("pairs", df2).path != "broadcast":
        return None
    bc = pairing.build(df2, geom_col)
    if bc is None or bc is pairing.OVER_CAP:
        return None

    def _step(b):
        pieces = _pieces([b.g1s[t] for t in b.pr], [b.geom2(j) for j in b.pl])
        sel = np.array([p is not None for p in pieces], dtype=bool)
        return sel, [p for p in pieces if p is not None]

    return pairing.probe(
        df1, bc, _step, geom_col,
        columns={c: f"l1_{c}" for c in df1.columns if geoms or c != geom_col},
        l2={f"l2_{f.name}": f for f in df2.schema.fields
            if geoms or f.name != geom_col},
        payload=StructField("_piece", BinaryType()),
        self_half_uid=self_half_uid,
    )


def _pair_pieces(
    df1: DataFrame,
    df2: DataFrame,
    res: int | None,
    geom_col: str,
    geoms: bool = True,
    self_half_uid: str | None = None,
    broadcast: bool = True,
    keep_empty: bool = False,
) -> DataFrame:
    """Every intersecting (l1, l2) candidate pair with its intersection
    ``_piece``, on the plan ``pairing.choose("pairs", df2)`` and
    ``pairing.build``'s row cap pick: the broadcast-grid probe
    (:func:`_broadcast_pairs_matched`) or the distributed cell join +
    :func:`_pair_intersection_udf`. Both plans return the l1_-prefixed
    df1 columns, the l2_-prefixed df2 columns and ``_piece``;
    ``geoms=False`` leaves out the two geometry columns, so a caller
    that keeps only the piece does not ship them. Pairs whose piece is
    empty are dropped.

    ``self_half_uid`` keeps each unordered self-pair once (uid1 < uid2),
    before the kernel runs. ``broadcast=False`` forces the cell join.
    ``keep_empty`` (cell join only) keeps the pairs whose piece is empty,
    with NULL ``_piece`` — but only TRULY intersecting ones: the
    reference's candidate SQL carries an ST_Intersects prefilter
    (``_geoops_sql.py:1964-2006``), so bbox-only candidates are refined
    away first. The predicate cost is only paid on that path."""
    if broadcast and not keep_empty:
        matched = _broadcast_pairs_matched(
            df1, df2, geom_col, geoms=geoms, self_half_uid=self_half_uid,
        )
        if matched is not None:
            return matched
    pairs, _ = candidate_pairs(
        df1, df2, res=res, geom_col1=geom_col, geom_col2=geom_col,
    )
    g1, g2 = f"l1_{geom_col}", f"l2_{geom_col}"
    if self_half_uid is not None:
        pairs = pairs.where(
            F.col(f"l1_{self_half_uid}") < F.col(f"l2_{self_half_uid}")
        )
    if keep_empty:
        pairs = pairs.where(query_match_udf(_INTERSECTS)(F.col(g1), F.col(g2)))
    out = pairs.withColumn("_piece", _pair_intersection_udf(F.col(g1), F.col(g2)))
    if not keep_empty:
        out = out.where(F.col("_piece").isNotNull())
    out = drop_helper_columns(out)
    return out if geoms else out.drop(g1, g2)


def _reverse_collect_candidates(
    df1: DataFrame, df2: DataFrame, geom_col: str, id_col: str
) -> DataFrame:
    """(id, collect_list(blade geom)) — the reverse-broadcast plan of the
    blade lists for FEW subjects vs MANY blades: only the subjects'
    (id, bbox) rows are collected and broadcast (a few dozen bytes per
    subject); the blade layer streams bbox-only through the probe driver
    emitting its matches, and only matching blades enter the (small)
    groupBy shuffle."""
    sub = (
        df1.select(F.col(id_col).alias("_sid"), geom_col)
        .withColumn("_b", pairing._bounds_udf(F.col(geom_col)))
        .select("_sid", "_b.minx", "_b.miny", "_b.maxx", "_b.maxy")
    )
    t = sub.toArrow()
    bb = np.column_stack([t.column(c).to_numpy() for c in ("minx", "miny", "maxx", "maxy")])
    valid = np.isfinite(bb[:, 0])
    if valid.any():
        bc = pairing.broadcast(
            df1.sparkSession,
            pairing.Index(
                bb[valid], t.select(["_sid"]).filter(valid),
                per_extent=0.5, point_cells=256,
            ),
        )
        hits = pairing.probe(
            df2.select(geom_col), bc, None, geom_col, load=False,
            columns={geom_col: "_blade"}, l2={"_sid": sub.schema["_sid"]},
        )
    else:  # no subject has a bbox: no blade can match
        hits = df2.select(
            F.lit(None).cast(sub.schema["_sid"].dataType).alias("_sid"),
            F.col(geom_col).alias("_blade"),
        ).limit(0)
    return _blade_lists(hits, "_sid", "_blade", id_col)


def _broadcast_combine(
    df1: DataFrame,
    df2: DataFrame,
    mode: str,
    geom_col: str,
    keep_empty_geoms: bool = False,
) -> DataFrame | None:
    """Map-side difference/clip against a SMALL blade layer (the
    ``forward`` plan): layer 2 is grid-indexed and broadcast once
    (``index.pairing.build``), layer 1 streams through the probe driver
    (``pairing.probe``) — no candidate join, no shuffle, and no
    duplication of multi-KB blade blobs into every candidate pair (the
    cell plan ships each subdivided 2000-coord blade part to every
    nearby subject row: ~40 KB x 45k rows
    of pure serialization at 50k parcels vs 3 giant rings).

    Same kernels and results as the cell plans: ``difference`` /
    ``difference_union`` run the row combine kernel over each batch's
    matched rows, pass non-matching rows through verbatim and drop (or
    NULL out, under ``keep_empty_geoms``) fully-erased rows; ``clip``
    runs the pair piece kernel over every candidate of the batch and
    keeps each row's pieces — unioned when there is more than one —
    dropping rows without any. Returns None when the blade layer is
    over ``pairing.build``'s row cap: the caller takes the cell plan."""
    spark = df1.sparkSession
    bc = pairing.build(df2.select(geom_col), geom_col)
    is_diff = mode.startswith("difference")
    if bc is pairing.OVER_CAP:
        return None
    if bc is None:  # empty blade layer
        return df1 if is_diff else df1.limit(0)
    # mapInArrow inherits the input partitioning: subjects that descend
    # from a few huge rows (a subdivided 3-row complex layer explodes to
    # hundreds of parts but keeps 3 partitions) would run on 3 cores —
    # rebalance cheap subject rows across the executor width first
    target = spark.sparkContext.defaultParallelism * 2
    if df1.rdd.getNumPartitions() < max(2, target // 2):
        df1 = df1.repartition(target)
    memo: dict = {}  # unpickled with the step: one per task

    def _step(b):
        col = b.column(geom_col)
        blades = [b.geom2(j) for j in b.pl]
        # pairs are sorted by row: one [start, end) slice per hit row
        rows, starts = np.unique(b.pr, return_index=True)
        ends = np.append(starts[1:], len(b.pr)).astype(np.int64)
        if is_diff:
            newg = col.copy()
            keep = np.ones(len(col), dtype=bool)
            results = _combine_rows(
                [b.g1s[i] for i in rows],
                [blades[s:e] for s, e in zip(starts, ends)],
                mode, memo,
            )
            for i, res in zip(rows, results):
                newg[i] = res
                keep[i] = res is not None or keep_empty_geoms
        else:
            newg = np.full(len(col), None, dtype=object)
            pieces = _pieces([b.g1s[i] for i in b.pr], blades)
            for i, s, e in zip(rows, starts, ends):
                got = [p for p in pieces[s:e] if p is not None]
                if len(got) == 1:
                    newg[i] = got[0]
                elif got:
                    newg[i] = _union_wkb([W.loads(p) for p in got])
            keep = np.array([g is not None for g in newg], dtype=bool)
        return keep, newg[keep]

    return pairing.probe(
        df1, bc, _step, geom_col, rows=True,
        payload=StructField(geom_col, BinaryType()),
    )


# ---------------------------------------------------------------- operators
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
    for huge polygons), pairwise-intersected per part on the cell join,
    then re-unioned ``GROUP BY (l1_id, l2_id)``
    (``_geoops_sql.py:2027-2070``)."""
    sub = subdivide_coords is not None
    if sub:
        df1 = subdivide_layer(df1, subdivide_coords, geom_col)
        df2 = subdivide_layer(df2, subdivide_coords, geom_col)
    out = _pair_pieces(
        df1, df2, res, geom_col, geoms=False, broadcast=not sub,
        keep_empty=keep_empty_geoms,
    )
    out = out.withColumn(geom_col, F.col("_piece")).drop("_piece")
    if sub:
        # under subdivide, an all-empty pair survives as one NULL-geom row
        out = _reunion(out, [f"l1_{id_col}", f"l2_{id_col}"], geom_col)
    return _postprocess(
        out, geom_col, gridsize, explodecollections, where_post, keep_empty_geoms
    )


def _difference_of_parts(
    s1: DataFrame,
    s2_geoms: DataFrame,
    res: int | None,
    geom_col: str,
    id_col: str,
    _plan: str | None,
) -> DataFrame:
    """Subdivided difference over PRE-SPLIT inputs: ``s1`` = subject
    parts from :func:`_subdivide_subject`, ``s2_geoms`` = geometry-only
    blade parts. Shared by :func:`difference` and :func:`_compose`
    (which subdivides each layer once and feeds it to both branches).

    The inner call keeps fully-erased parts as NULL-geometry rows so
    the per-id re-union sees EVERY part: a row whose parts were all
    erased survives the groupBy with NULL geometry, and the caller's
    _postprocess applies keep_empty_geoms exactly like the
    non-subdivide branch. blade_union: the erase candidates are
    subdivided PARTS sharing seams — union them before the (single)
    subtraction or the sequential path leaves hairline slivers along
    each seam."""
    parts = difference(
        s1, s2_geoms, res=res, geom_col=geom_col, id_col="_pid",
        keep_empty_geoms=True, blade_union=True, _plan=_plan,
    ).drop("_pid")
    return _reunion(parts, [id_col], geom_col)


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
    instead of the whole blob.

    The plan (forward or reverse broadcast, or the cell join) is
    ``pairing.choose("combine", df2, df1)``'s; ``_plan`` only carries
    that decision, made on the raw scans, into the subdivided parts."""
    if _plan is None:
        # decide on the RAW layer scans (post-subdivide plans hide the
        # size statistics from Catalyst's estimator)
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
        out = _difference_of_parts(s1, s2, res, geom_col, id_col, _plan)
    else:
        mode = "difference_union" if blade_union else "difference"
        out = None
        if _plan == "forward":
            # None: the blades are over the row cap, take the cell plan
            out = _broadcast_combine(df1, df2, mode, geom_col, keep_empty_geoms)
        elif _plan == "reverse":
            # few-subjects path: the collect_list shuffle output is only
            # a few dozen MB, so AQE coalesces it to a handful of
            # partitions — but each row carries a MINUTES-scale combine
            # kernel (one giant blade union + difference per subject
            # part). Explicit round-robin repartition (AQE never
            # coalesces an explicit repartition) spreads the ~hundreds
            # of kernel rows across the executor width; the shuffled
            # bytes are trivial by construction. 16x (not 2x) the width:
            # per-row kernel cost is heavily skewed (parts over dense
            # blade areas cost many seconds, sparse parts milliseconds),
            # so at ~2 rows/partition a partition holding two heavy rows
            # serializes them — near-one-row-per-task makes the stage
            # wall the single worst row (measured 33 s -> 26 s on the
            # 329-part complex-difference stage at 500k; empty tasks
            # from over-partitioning cost microseconds).
            out = _subtract(
                df1, _reverse_collect_candidates(df1, df2, geom_col, id_col),
                id_col, geom_col, mode, keep_empty_geoms,
                spread=df1.sparkSession.sparkContext.defaultParallelism
                * pairing.REVERSE_SPREAD,
            )
        if out is None:
            # no intersects refine on the cell candidates: subtracting a
            # disjoint blade is a no-op, and the kernel's internal bbox
            # short-circuit costs far less than a polygon-polygon
            # predicate per candidate pair (measured 500k parcels:
            # difference 94 -> ~70 s)
            pairs, _ = candidate_pairs(
                df1, df2, res=res, geom_col1=geom_col, geom_col2=geom_col,
            )
            others = _blade_lists(
                pairs, f"l1_{id_col}", f"l2_{geom_col}", id_col
            )
            out = _subtract(
                df1, others, id_col, geom_col, mode, keep_empty_geoms
            )
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
    _plan: str | None = None,
) -> DataFrame:
    """g1 intersected with the union of intersecting clip geometries;
    clip layer contributes no attributes, non-intersecting rows dropped
    (geofileops ``geoops.py:1908`` -> ``_geoops_sql.py:942-1055``).

    The plan is ``pairing.choose("combine", df2, df1)``'s (forward
    broadcast or the cell join); ``_plan`` only carries it into the
    subdivided parts."""
    if _plan is None:
        # clip has no reverse kernel shape: few-subjects-vs-many-blades
        # still runs the pairwise cell join
        _plan = pairing.choose("combine", df2, df1).path
        if _plan == "reverse":
            _plan = "cell"
    out = None
    if subdivide_coords is not None:
        s1 = _subdivide_subject(df1, subdivide_coords, geom_col, id_col)
        parts = clip(
            s1, df2, res=res, geom_col=geom_col, id_col="_pid", _plan=_plan,
        ).drop("_pid")
        out = _reunion(parts, [id_col], geom_col)
    elif _plan == "forward":
        # None: the blades are over the row cap, take the cell plan
        out = _broadcast_combine(df1, df2, "clip", geom_col)
    if out is None:
        # l1 ∩ union(blades) = union(l1 ∩ blade_i): PAIRWISE pieces from
        # the batched kernel, then the (small) pieces unioned per l1 row
        # — unioning full blade polygons first paid the unbatched
        # union_geoms kernel per candidate (measured 157 s vs 42 s at
        # 500k parcels); pieces are ~10-vertex clips. Single-piece rows
        # (the majority for parcel-scale inputs) skip the union kernel.
        pieces = _pair_pieces(
            df1.select(id_col, geom_col), df2.select(geom_col), res, geom_col,
            geoms=False,
        ).select(
            F.col(f"l1_{id_col}").alias(id_col), F.col("_piece").alias(geom_col)
        )
        merged = _reunion(pieces, [id_col], geom_col)
        out = df1.drop(geom_col).join(merged, on=id_col, how="inner")
        out = out.where(F.col(geom_col).isNotNull()).select(*df1.columns)
    return _postprocess(out, geom_col, gridsize, explodecollections, where_post)


def _compose(
    df1: DataFrame,
    df2: DataFrame,
    need: tuple[bool, bool, bool],
    res: int | None,
    geom_col: str,
    id_col: str,
    gridsize: float,
    explodecollections: bool,
    where_post: str | None,
    subdivide_coords: int | None,
) -> DataFrame:
    """The composite overlays as one plan: the union by name (missing
    columns NULL) of the branches ``need`` asks for — intersection(1,2),
    difference(1,2) with l1_-prefixed columns, difference(2,1) with
    l2_-prefixed columns — each through the shared :func:`_postprocess`.

    Plain inputs: one :func:`_pair_pieces` pass is persisted and shared
    by every branch. The inter branch is a free projection of the
    pieces; the diff sides subtract the FULL other-side geometries of
    the piece-bearing pairs. Subtracting the pieces instead
    (``A \\ ∪B_i == A \\ ∪(A∩B_i)``) was measured 1.4x SLOWER — a piece's
    boundary partially coincides with the subject's own boundary by
    construction, which drives every subtraction into the clipper's
    degenerate coincident-edge handling. Boundary-touch-only pairs
    (piece NULL) subtract nothing, so their subjects pass through
    verbatim.

    ``subdivide_coords``: the branches run like the reference's
    sequential plan over subdivided inputs (``_geoops_sql.py:2770,2931,
    3107``), each bounding its per-pair kernel cost independently. Each
    layer is subdivided ONCE and reused by both difference branches: as
    the subject directly, as the blade via a geometry-only projection.
    Finer-than-asked blade parts are harmless — blade_union welds the
    candidates back together before the single subtraction. The
    intersection branch keeps its own subdivide (its parts carry
    attributes and re-union per pair, a different shape)."""
    inter = d12 = d21 = None
    if subdivide_coords is None:
        matched = cache.track(_pair_pieces(df1, df2, res, geom_col).persist())
        g1, g2 = f"l1_{geom_col}", f"l2_{geom_col}"
        if need[0]:
            inter = matched.withColumn(geom_col, F.col("_piece")).drop(g1, g2, "_piece")
        if need[1]:
            d12 = _subtract(
                df1, _blade_lists(matched, f"l1_{id_col}", g2, id_col),
                id_col, geom_col, "difference",
            )
        if need[2]:
            d21 = _subtract(
                df2, _blade_lists(matched, f"l2_{id_col}", g1, id_col),
                id_col, geom_col, "difference",
            )
    else:
        if need[0]:
            inter = intersection(
                df1, df2, res=res, geom_col=geom_col, id_col=id_col,
                subdivide_coords=subdivide_coords,
            )
        s1, s2 = (
            cache.track(
                _subdivide_subject(df, subdivide_coords, geom_col, id_col).persist()
            )
            for df in (df1, df2)
        )
        # plan per branch, decided on the RAW scans (the subdivided
        # frames hide size statistics from Catalyst's estimator)
        if need[1]:
            d12 = _difference_of_parts(
                s1, s2.select(geom_col), res, geom_col, id_col,
                pairing.choose("combine", df2, df1).path,
            )
        if need[2]:
            d21 = _difference_of_parts(
                s2, s1.select(geom_col), res, geom_col, id_col,
                pairing.choose("combine", df1, df2).path,
            )
    out = None
    for branch, prefix in ((inter, None), (d12, "l1_"), (d21, "l2_")):
        if branch is None:
            continue
        branch = _postprocess(branch, geom_col, gridsize, explodecollections, where_post)
        if prefix:
            branch = prefix_columns(branch, prefix, exclude=(geom_col,))
        out = branch if out is None else out.unionByName(branch, allowMissingColumns=True)
    return out


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
    Both branches share one pair-pieces pass (see :func:`_compose`)."""
    return _compose(
        df1, df2, (True, True, False), res, geom_col, id_col, gridsize,
        explodecollections, where_post, subdivide_coords,
    )


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
    2914-3086``). Both branches share one pair-pieces pass (see
    :func:`_compose`)."""
    return _compose(
        df1, df2, (False, True, True), res, geom_col, id_col, gridsize,
        explodecollections, where_post, subdivide_coords,
    )


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
    3089-3292``). The reference runs the three ops sequentially; here
    all three branches share ONE pair-pieces pass (see
    :func:`_compose`)."""
    return _compose(
        df1, df2, (True, True, True), res, geom_col, id_col, gridsize,
        explodecollections, where_post, subdivide_coords,
    )
