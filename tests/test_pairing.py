"""The broadcast-grid pairing module (index/pairing.py): the plan
decision, path equivalence of every pairwise operator, broadcast release
in a long session, the id and argument guards of the probes, and the
small tables the library builds on the driver.

Paths are forced the way an operator call would see them: by
monkeypatching the one budget (``pairing.BROADCAST_BYTES``) or the row
cap (``pairing.MAX_ROWS``) around the fixtures' real scan sizes."""

from __future__ import annotations

import logging
import re
import struct
from decimal import Decimal

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geofileops_spark import cache
from geofileops_spark import geoops as G
from geofileops_spark.geometry import kernels as K
from geofileops_spark.geometry import wkb as W
from geofileops_spark.index import pairing
from geofileops_spark.operators import dissolve as D
from geofileops_spark.operators import join as J
from geofileops_spark.operators import overlay as O
from geofileops_spark.operators import union_full as UF
from geofileops_spark.sources.pages import synth_zones
from tests import fixtures as FX

MB = 1024 * 1024
DEFAULT_BUDGET = pairing.BROADCAST_BYTES


@pytest.fixture(scope="module")
def layers(spark):
    parcels = FX.to_spark_layer(
        spark, FX.parcels_rows(),
        "fid long; wkt string; OIDN long; UIDN long; GEWASGROEP string; "
        "LENGTE double; OPPERVL double",
    ).cache()
    zones = FX.to_spark_layer(
        spark, FX.zones_rows(), "fid long; naam string; wkt string; OIDN long"
    ).cache()
    points = FX.to_spark_layer(
        spark, FX.points_rows(), "fid long; wkt string; type string"
    ).cache()
    parcels.count(), zones.count(), points.count()
    yield parcels, zones, points
    for df in (parcels, zones, points):
        df.unpersist(blocking=True)


@pytest.fixture(scope="module")
def blobs(spark):
    """Four 200-vertex near-circles over the parcels: complex enough that
    ``subdivide_coords=SUBDIVIDE`` splits every one into parts."""
    from geofileops_spark.functions.st import st_geomfromtext

    rows = []
    for i, (cx, cy) in enumerate(((900, 900), (2600, 2500), (3600, 1100), (1500, 3800))):
        a = np.linspace(0, 2 * np.pi, 200, endpoint=False)
        r = 420 * (1 + 0.05 * np.sin(7 * a))
        pts = [(cx + r[k] * np.cos(a[k]), cy + r[k] * np.sin(a[k])) for k in range(200)]
        wkt = "POLYGON ((" + ", ".join(f"{x:.6f} {y:.6f}" for x, y in pts + pts[:1]) + "))"
        rows.append((i, wkt))
    df = spark.createDataFrame(rows, "fid long, wkt string").withColumn(
        "geom_wkb", st_geomfromtext(F.col("wkt"))
    ).drop("wkt").cache()
    df.count()
    yield df
    df.unpersist(blocking=True)


SUBDIVIDE = 64


def irregular_polygons(spark, n: int, seed: int = 5):
    """``n`` random triangles (never rectangles) with long ids."""
    from geofileops_spark.functions.st import st_geomfromtext

    rng = np.random.RandomState(seed)
    rows = []
    for i in range(n):
        cx, cy = rng.uniform(0, 1000, 2)
        r = rng.uniform(20, 80)
        pts = [(cx + r * np.cos(a + 0.3), cy + r * np.sin(a + 0.3))
               for a in (0.0, 2.1, 4.2)]
        wkt = "POLYGON ((" + ", ".join(f"{x} {y}" for x, y in pts + [pts[0]]) + "))"
        rows.append((i, wkt))
    return spark.createDataFrame(rows, "fid long, wkt string").withColumn(
        "geom_wkb", st_geomfromtext(F.col("wkt"))
    ).drop("wkt")


def random_points(spark, n: int, seed: int = 6):
    rng = np.random.RandomState(seed)
    rows = [(i, float(x), float(y))
            for i, (x, y) in enumerate(rng.uniform(0, 1000, size=(n, 2)))]
    return spark.createDataFrame(rows, "pt long, lon double, lat double"), rows


# ------------------------------------------------------------- decision
def expected_path(shape, budget, s2, s1=None):
    """The per-shape rules and limits each operator applied on its own
    before ``choose()`` existed, as shares of the default 256 MB budget:
    pairs 256 MB / 4M rows, kNN 32 MB / 2M rows, combine-forward 64 MB
    (16 MB outright), reverse 256 MB. The row caps are the bounded
    collects' (``build``'s for pairs, ``_broadcast_knn``'s for kNN), so
    ``choose`` applies only the bytes, whatever ``MAX_ROWS`` is."""
    if shape == "pairs":
        return "broadcast" if 0 < s2 <= budget else "cell"
    if shape == "knn":
        return "broadcast" if 0 < s2 <= budget // 8 else "cell"
    if shape == "combine":
        if s1 * 4 <= s2 and s1 <= budget:
            return "reverse"
        if s2 <= budget // 4 and (s2 * 4 <= s1 or s2 <= budget // 16):
            return "forward"
        return "cell"
    raise AssertionError(shape)


def test_choose_keeps_the_per_shape_limits(layers, monkeypatch, caplog):
    parcels, zones, _ = layers
    assert pairing.MAX_ROWS == 4_000_000
    # the default budget reproduces every absolute per-shape limit
    default = DEFAULT_BUDGET
    assert default == 256 * MB
    assert (default // 4, default // 8, default // 16) == (64 * MB, 32 * MB, 16 * MB)
    assert pairing.MAX_ROWS // 2 == 2_000_000

    sp = pairing.scan_size_bytes(parcels)
    sz = pairing.scan_size_bytes(zones)
    assert 0 < sz * 4 <= sp  # the fixtures' shape: few small zones
    budgets = sorted({
        default, 0, sz - 1, sz, 4 * sz - 1, 4 * sz, 8 * sz - 1, 8 * sz,
        16 * sz, sp - 1, sp, 4 * sp, 8 * sp,
    })
    seen = set()
    for budget in budgets:
        monkeypatch.setattr(pairing, "BROADCAST_BYTES", budget)
        for max_rows in (4, 5, 9, 10, 4_000_000):
            monkeypatch.setattr(pairing, "MAX_ROWS", max_rows)
            for shape in ("pairs", "knn"):
                d = pairing.choose(shape, zones)
                assert d.path == expected_path(shape, budget, sz), (
                    shape, budget, max_rows, d)
                assert d.budget == budget and d.scan_bytes == sz
                assert d.rows is None  # no count
                seen.add((shape, d.path))
        for build, stream in ((zones, parcels), (parcels, zones)):
            d = pairing.choose("combine", build, stream)
            s2 = sz if build is zones else sp
            s1 = sp if build is zones else sz
            assert d.path == expected_path("combine", budget, s2, s1), (budget, d)
            assert d.rows is None  # the combine decision never counts
            seen.add(("combine", d.path))
    # every path of every shape was reached across the boundaries
    assert seen == {
        ("pairs", "broadcast"), ("pairs", "cell"),
        ("knn", "broadcast"), ("knn", "cell"),
        ("combine", "forward"), ("combine", "reverse"), ("combine", "cell"),
    }
    # the pairs row cap: build's bounded collect answers OVER_CAP past
    # MAX_ROWS rows (5 zone rows), logged as a cell Decision
    monkeypatch.setattr(pairing, "BROADCAST_BYTES", default)
    builds = (zones.select("geom_wkb"), zones)
    for max_rows in (4, 5, 9, 10, 4_000_000):
        monkeypatch.setattr(pairing, "MAX_ROWS", max_rows)
        with caplog.at_level(logging.DEBUG, logger=pairing.__name__):
            caplog.clear()
            for layer in builds:
                bc = pairing.build(layer, "geom_wkb")
                over = 5 > max_rows
                assert (bc is pairing.OVER_CAP) == over, (max_rows, layer.columns)
                if not over:
                    assert len(bc.value.bb) == 5
        logged = [r.args[0] for r in caplog.records if r.name == pairing.__name__]
        if over:
            assert [(d.path, d.rows, d.scan_bytes) for d in logged] == [
                ("cell", max_rows + 1, pairing.scan_size_bytes(b)) for b in builds]
        else:
            assert logged == []
    cache.release_caches()
    with pytest.raises(ValueError, match="unknown pairing shape"):
        pairing.choose("sphere", zones)


def test_intersection_plan_runs_one_jvm_only_job(layers, count_jobs):
    """Building (not running) intersection runs exactly one Spark job,
    ``build``'s bounded collect of layer 2: no ``count()`` of any frame
    and no ``_bounds_udf`` Python stage."""
    from unittest import mock

    parcels, zones, _ = layers
    cache.release_caches()  # no grid of zones left from earlier calls
    counted = []
    orig = type(zones).count

    def spy(self):
        counted.append(self)
        return orig(self)

    with mock.patch.object(type(zones), "count", spy), mock.patch.object(
        pairing, "_bounds_udf", wraps=pairing._bounds_udf
    ) as bounds_udf:
        n_jobs = count_jobs(lambda: O.intersection(parcels, zones))
    assert counted == []
    bounds_udf.assert_not_called()
    assert n_jobs == 1


CITIES = [(1, "POINT (4.35 50.85)"), (2, "POINT (2.35 48.86)")]  # Brussels, Paris
TOWNS = [(10, "POINT (4.40 51.22)"), (11, "POINT (5.57 50.63)"), (12, "POINT (3.72 51.05)")]

KNN_CALLS = {
    "join_nearest": lambda L: J.join_nearest(
        L["points"], L["zones"], nb_nearest=2, distance=3000.0),
    "join_nearest-sphere": lambda L: J.join_nearest(
        L["cities"], L["towns"], nb_nearest=2, distance=1000.0, metric="sphere"),
    "export_by_distance-sphere": lambda L: J.export_by_distance(
        L["cities"], L["towns"], max_distance=60_000.0, metric="sphere"),
}


@pytest.fixture(scope="module")
def knn_layers(layers, wkt_layer):
    """The planar kNN runs on the cached fixtures; the lon/lat sphere
    layers stay unsized (no cache), as the sphere plan reads no byte
    estimate."""
    _, zones, points = layers
    return dict(
        zones=zones, points=points,
        cities=wkt_layer(CITIES, cached=False), towns=wkt_layer(TOWNS, cached=False),
    )


@pytest.mark.parametrize("op", sorted(KNN_CALLS))
def test_knn_plans_run_no_count(knn_layers, op):
    """Building a kNN plan counts no frame: ``choose("knn")`` decides on
    bytes alone (a sphere call does not ask it), and the broadcast
    probe's bounded collect enforces the row cap (a count would scan
    layer 2 a second time)."""
    from unittest import mock

    counted = []
    frame = type(knn_layers["zones"])
    orig = frame.count

    def spy(self):
        counted.append(self)
        return orig(self)

    with mock.patch.object(frame, "count", spy):
        out = KNN_CALLS[op](knn_layers)
    assert counted == []
    assert len(out.collect()) > 0


def test_knn_row_cap_is_the_collects(knn_layers, monkeypatch):
    """A layer 2 within the kNN byte share but over ``MAX_ROWS // 2``
    rows: ``_broadcast_knn``'s bounded collect answers None, planar
    ``join_nearest`` returns the ring path's rows and both sphere entry
    points refuse. At the cap itself the sphere probe still runs, on a
    layer 2 whose size Catalyst cannot estimate (``choose`` says cell):
    the row cap alone gates the sphere plan."""
    zones, towns = knn_layers["zones"], knn_layers["towns"]

    def rows(df):
        return sorted(
            (r["l1_fid"], r["pos"], r["l2_fid"], round(r["distance"], 9))
            for r in df.select("l1_fid", "pos", "l2_fid", "distance").collect()
        )

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    call = KNN_CALLS["join_nearest"]
    fast = call(knn_layers)
    monkeypatch.setattr(pairing, "BROADCAST_BYTES", 0)
    ring = rows(call(knn_layers))
    monkeypatch.undo()
    assert rows(fast) == ring and ring
    assert "Exchange hashpartitioning" not in plan(fast)

    monkeypatch.setattr(pairing, "MAX_ROWS", 9)  # zones has 5 rows > 9 // 2
    assert pairing.choose("knn", zones).path == "broadcast"
    assert J._broadcast_knn(
        knn_layers["points"], zones, 2, 3000.0, True, "geom_wkb", "fid") is None
    capped = call(knn_layers)
    assert "Exchange hashpartitioning" in plan(capped)  # the ring path
    assert rows(capped) == ring

    monkeypatch.setattr(pairing, "MAX_ROWS", 5)  # towns has 3 rows > 5 // 2
    assert pairing.choose("knn", towns).path == "cell"  # unsized
    for op in ("join_nearest-sphere", "export_by_distance-sphere"):
        with pytest.raises(ValueError, match="sphere"):
            KNN_CALLS[op](knn_layers)
    monkeypatch.setattr(pairing, "MAX_ROWS", 6)  # 3 rows == 6 // 2
    for op in ("join_nearest-sphere", "export_by_distance-sphere"):
        assert len(KNN_CALLS[op](knn_layers).collect()) > 0


# ------------------------------------------------ build / decode bounds
def _big_endian_polygon(ring):
    out = struct.pack(">BIII", 0, 3, 1, len(ring))
    return out + b"".join(struct.pack(">dd", x, y) for x, y in ring)


MIXED_WKBS = [
    None,
    W.dumps(W.from_wkt("POINT EMPTY")),
    W.dumps(W.from_wkt("POLYGON EMPTY")),
    W.dumps(W.from_wkt(
        "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))")),
    W.dumps(W.from_wkt(
        "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)), ((5 5, 6.5 5, 6 7.25, 5 5)))")),
    _big_endian_polygon([(-3.5, 1), (2, 1), (2, 4.125), (-3.5, 1)]),
    W.dumps(W.from_wkt("LINESTRING (0 0, 3 -4, 7 2)")),
    W.dumps(W.from_wkt("POLYGON ((0.1 0.2, 3.3 0.2, 3.3 9.7, 0.1 0.2))")),
    W.dumps(W.from_wkt("POINT (1.5 -2.5)")),
    None,
]


def row_loop_decode(col):
    """The per-row decode ``pairing.decode`` replaced."""
    geoms, B = [None] * len(col), np.full((len(col), 4), np.nan)
    for i, b in enumerate(col):
        if b is None:
            continue
        g = W.loads(bytes(b))
        if g.is_empty():
            continue
        geoms[i] = g
        B[i] = K.bounds(g)
    return geoms, B


def test_build_and_decode_bounds_match_the_udf_and_the_row_loop(spark):
    """``build`` takes its bboxes on the driver: bit-identical to the
    ``_bounds_udf`` stage it replaced; ``pairing.decode`` gives the None
    mask and bboxes of the per-row loop."""
    df = spark.createDataFrame(
        list(enumerate(MIXED_WKBS)), "fid long, geom_wkb binary"
    ).repartition(3)
    udf = np.array(
        [tuple(r) for r in df.orderBy("fid").select(
            pairing._bounds_udf(F.col("geom_wkb")).alias("b")).select("b.*").collect()],
        dtype=np.float64,
    )
    valid = np.isfinite(udf[:, 0])
    assert valid.sum() == 6
    index = pairing.build(df, "geom_wkb").value
    ids = index.rows.column("fid").to_numpy()
    assert sorted(ids) == list(np.nonzero(valid)[0])
    assert index.bb.tobytes() == udf[ids].tobytes()
    cache.release_caches()

    geoms, B = pairing.decode(pd.Series(MIXED_WKBS, dtype=object))
    old_geoms, old_B = row_loop_decode(MIXED_WKBS)
    assert [g is None for g in geoms] == [g is None for g in old_geoms]
    assert [g is None for g in geoms] == list(~valid)
    assert np.array_equal(np.isnan(B), np.isnan(old_B))
    assert B[valid].tobytes() == old_B[valid].tobytes() == udf[valid].tobytes()
    assert all(
        g is None or W.dumps(g) == W.dumps(o) for g, o in zip(geoms, old_geoms)
    )


def test_decode_raises_on_corrupt_wkb_like_the_cell_plan(spark):
    good = MIXED_WKBS[3]
    corrupt = good[:-5]  # truncated ring: the vectorized bounds give NaN
    assert np.isnan(W.bounds_from_wkb_batch([corrupt])).all()
    with pytest.raises(ValueError) as err:
        pairing.decode([good, corrupt])
    pairs = spark.createDataFrame([(corrupt, good)], "g1 binary, g2 binary")
    with pytest.raises(Exception, match=re.escape(str(err.value))):
        pairs.select(O._pair_intersection_udf(F.col("g1"), F.col("g2"))).collect()


def loop_bounds(blobs):
    """The per-row loop ``estimate_res`` and ``_pick_res`` each ran
    before one ``bounds_from_wkb_batch`` call replaced it."""
    out = []
    for b in blobs:
        if b is None:
            continue
        try:
            g = W.loads(bytes(b))
        except ValueError:
            continue
        b0, b1, b2, b3 = K.bounds(g)
        if np.isfinite(b0):
            out.append((b0, b1, b2, b3))
    return out


def loop_estimate_res(blobs):
    from geofileops_spark.index import cells as X

    bbs = loop_bounds(blobs)
    if not bbs:
        return 20
    med = float(np.median([max(b2 - b0, b3 - b1) for b0, b1, b2, b3 in bbs]))
    if med <= 0:
        xs = [v for b in bbs for v in (b[0], b[2])]
        ys = [v for b in bbs for v in (b[1], b[3])]
        ext = max(max(xs) - min(xs), max(ys) - min(ys))
        if ext <= 0:
            return 20
        size = ext / max(4.0, float(np.sqrt(len(bbs))))
        return int(np.clip(np.floor(np.log2(2.0 * X.WORLD / size)), 0, X.MAX_RES))
    return X.res_for_extent(med, 2.0)


def loop_pick_res(blobs):
    from geofileops_spark.index import cells as X

    bbs = loop_bounds(blobs)
    if not bbs:
        return 8
    xs = [v for b in bbs for v in (b[0], b[2])]
    ys = [v for b in bbs for v in (b[1], b[3])]
    extent = max(max(xs) - min(xs), max(ys) - min(ys))
    if extent <= 0:
        return 8
    return int(np.clip(np.ceil(np.log2(2.0 * X.WORLD / (extent / 16.0))), 2, X.MAX_RES))


SAMPLES = {
    "mixed": MIXED_WKBS + [MIXED_WKBS[3][:-5]],
    "points": [
        W.dumps(W.from_wkt("POINT (1.5 -2.5)")), None,
        W.dumps(W.from_wkt("POINT (100 40)")),
        MIXED_WKBS[3][:-5], W.dumps(W.from_wkt("POINT EMPTY")),
    ],
    "none-valid": [None, MIXED_WKBS[3][:-5]],
}


@pytest.mark.parametrize("sample", sorted(SAMPLES))
def test_planning_resolutions_match_the_row_loop(spark, sample):
    """``celljoin.estimate_res`` and ``dissolve._pick_res`` take their
    sample's bboxes in one vectorized pass and skip its NaN rows (NULL,
    EMPTY, truncated): the same resolutions as the per-row loop."""
    from geofileops_spark.operators.celljoin import estimate_res
    from geofileops_spark.operators.dissolve import _pick_res

    blobs = SAMPLES[sample]
    df = spark.createDataFrame(list(enumerate(blobs)), "fid long, geom_wkb binary")
    assert estimate_res(df) == loop_estimate_res(blobs)
    assert _pick_res(df, "geom_wkb") == loop_pick_res(blobs)


# ------------------------------------------------------ path equivalence
def norm(df, geom_col="geom_wkb"):
    """Order-free row multiset: every non-geometry column plus the
    result geometry's area and bbox, rounded."""
    cols = sorted(c for c in df.columns if c != geom_col)
    out = []
    for r in df.collect():
        g = r[geom_col]
        gg = None if g is None else W.loads(bytes(g))
        if gg is None or gg.is_empty():
            geo = None if gg is None else "EMPTY"
        else:
            geo = (round(K.area(gg), 4),
                   tuple(round(float(v), 6) for v in K.bounds(gg)))
        out.append(tuple(repr(r[c]) for c in cols) + (geo,))
    return sorted(out, key=repr)


def budget_for(path, zones):
    """The budget that takes ``path`` on the fixtures: the default, none
    at all, or one that fits zones for the pairs probe but not a quarter
    of it for the combine forward."""
    return {
        "default": DEFAULT_BUDGET,
        "cell": 0,
        "pairs": 2 * pairing.scan_size_bytes(zones),
    }[path]


PATHS = [
    # (operator, (layer 1, layer 2), paths, the decision that proves it)
    ("difference", ("parcels", "zones"), ("default", "cell"), ("combine", "forward")),
    ("difference", ("zones", "parcels"), ("default", "cell"), ("combine", "reverse")),
    ("clip", ("parcels", "zones"), ("default", "pairs", "cell"), ("combine", "forward")),
    ("intersection", ("parcels", "zones"), ("default", "cell"), ("pairs", "broadcast")),
    ("identity", ("parcels", "zones"), ("default", "cell"), ("pairs", "broadcast")),
    ("symmetric_difference", ("parcels", "zones"), ("default", "cell"), ("pairs", "broadcast")),
    ("union", ("parcels", "zones"), ("default", "cell"), ("pairs", "broadcast")),
    ("export_by_location", ("parcels", "zones"), ("default", "cell"), ("pairs", "broadcast")),
    ("union_full_self", ("parcels", "parcels"), ("default", "cell"), ("pairs", "broadcast")),
    ("difference_subdivided", ("blobs", "parcels"), ("default", "cell"), ("combine", "forward")),
]


def run_op(op, df1, df2):
    if op == "export_by_location":
        return J.export_by_location(df1, df2)
    if op == "union_full_self":
        from geofileops_spark.operators.union_full import union_full_self

        return union_full_self(df1.select("fid", "geom_wkb"))
    if op == "difference_subdivided":
        return O.difference(df1, df2, subdivide_coords=SUBDIVIDE)
    return getattr(O, op)(df1, df2)


@pytest.mark.parametrize(
    "op,sides,paths,default_path", PATHS,
    ids=[f"{p[0]}-{p[1][0]}" for p in PATHS],
)
def test_every_path_gives_the_same_rows(
    layers, blobs, monkeypatch, op, sides, paths, default_path
):
    named = dict(zip(("parcels", "zones", "points"), layers), blobs=blobs)
    df1, df2 = named[sides[0]], named[sides[1]]
    results = {}
    for path in paths:
        monkeypatch.setattr(pairing, "BROADCAST_BYTES", budget_for(path, layers[1]))
        shape, want = default_path
        d = pairing.choose(shape, df2, df1)
        if path == "default":
            assert d.path == want, d
        elif path == "pairs":
            assert d.path == "cell" and pairing.choose("pairs", df2).path == "broadcast"
        else:
            assert d.path == "cell" and pairing.choose("pairs", df2).path == "cell"
        results[path] = norm(run_op(op, df1, df2))
    first = results[paths[0]]
    assert len(first) > 0
    for path in paths[1:]:
        assert results[path] == first, (op, path)


EXPORT_QUERIES = [
    ("intersects is False", None),
    ("within is True", None),
    ("T*F**F*** is True", None),
    ("intersects is True", 50_000.0),
]


@pytest.mark.parametrize(
    "query,min_area", EXPORT_QUERIES,
    ids=["intersects-False", "within", "T*F**F***", "min_area"],
)
def test_export_by_location_plans_agree(layers, monkeypatch, query, min_area):
    """The broadcast probe (default budget) and the cell join (no
    budget) of export_by_location keep the same rows for the for-all,
    EXISTS, DE-9IM and min-area shapes of the refine."""
    parcels, zones, _ = layers
    results = {}
    for path, want in (("default", "broadcast"), ("cell", "cell")):
        monkeypatch.setattr(pairing, "BROADCAST_BYTES", budget_for(path, zones))
        assert pairing.choose("pairs", zones).path == want
        results[path] = norm(J.export_by_location(
            parcels, zones, query, min_area_intersect=min_area))
    assert 0 < len(results["default"]) < parcels.count()
    assert results["cell"] == results["default"]


@pytest.mark.parametrize("query", ["intersects is False", "disjoint is True"])
def test_min_area_with_a_for_all_query_raises(layers, monkeypatch, query):
    """An area threshold on a query that holds for disjoint geometries
    has no settled meaning (the broadcast probe and the cell join used
    to keep different rows): both budgets refuse it before a plan runs."""
    parcels, zones, _ = layers
    for path, want in (("default", "broadcast"), ("cell", "cell")):
        monkeypatch.setattr(pairing, "BROADCAST_BYTES", budget_for(path, zones))
        assert pairing.choose("pairs", zones).path == want
        with pytest.raises(ValueError, match="min_area_intersect"):
            J.export_by_location(parcels, zones, query, min_area_intersect=1.0)


OVER_CAP_RUNS = {
    "intersection": lambda df1, df2: O.intersection(df1, df2),
    "export_by_location": lambda df1, df2: J.export_by_location(df1, df2),
    # the disjoint form keeps the l1 rows that intersect no l2 row
    "export_by_location-disjoint": lambda df1, df2: J.export_by_location(
        df1, df2, "intersects is False"),
}


@pytest.mark.parametrize("op", sorted(OVER_CAP_RUNS))
def test_over_cap_layer2_takes_the_cell_plan(layers, monkeypatch, op):
    """A layer 2 within the byte budget but past the row cap gets
    ``OVER_CAP`` from ``build``: the call takes the distributed cell
    join and returns the broadcast plan's rows — never ``df1`` or an
    empty frame, as reading it like an empty layer 2 would."""
    parcels, zones, _ = layers
    run = OVER_CAP_RUNS[op]
    assert pairing.choose("pairs", zones).path == "broadcast"
    fast = run(parcels, zones)
    monkeypatch.setattr(pairing, "MAX_ROWS", 4)  # zones has 5 rows
    capped = run(parcels, zones)
    assert pairing.build(zones, "geom_wkb") is pairing.OVER_CAP

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    assert "Exchange hashpartitioning" not in plan(fast)
    assert "Exchange hashpartitioning" in plan(capped)  # the cell join
    got = norm(capped)
    assert got == norm(fast)
    assert 0 < len(got) < parcels.count()


def test_points_in_100_irregular_polygons_grid_probe(spark):
    """64..256 irregular polygons (the range the all-polygon scan used
    to serve) take the grid probe; every (point, polygon) pair must
    match a numpy points_in_multipolygon recount."""
    polys = irregular_polygons(spark, 100)
    points, rows = random_points(spark, 4000)
    got = sorted(
        (r["pt"], r["fid"])
        for r in J.join_points_in_polygons(points, polys, "lon", "lat", "fid").collect()
    )
    P = np.asarray([(x, y) for _, x, y in rows])
    exp = []
    for r in polys.collect():
        inside = K.points_in_multipolygon(P, W.loads(bytes(r["geom_wkb"]))) >= 1
        exp.extend((int(i), r["fid"]) for i in np.nonzero(inside)[0])
    assert got == sorted(exp) and len(got) > 100


@pytest.mark.parametrize("n", [10, 100])
def test_points_in_string_id_triangles_grid_probe(spark, n):
    """String polygon ids reach the output through the grid probe, whose
    hit lists carry the id column's own type; every (point, polygon)
    pair matches a numpy points_in_multipolygon recount."""
    polys = irregular_polygons(spark, n).withColumn(
        "fid", F.concat(F.lit("t"), F.col("fid").cast("string")))
    points, rows = random_points(spark, 2000)
    out = J.join_points_in_polygons(points, polys, "lon", "lat", "fid")
    assert out.schema["fid"].dataType.simpleString() == "string"
    got = sorted((r["pt"], r["fid"]) for r in out.collect())
    P = np.asarray([(x, y) for _, x, y in rows])
    exp = []
    for r in polys.collect():
        inside = K.points_in_multipolygon(P, W.loads(bytes(r["geom_wkb"]))) >= 1
        exp.extend((int(i), r["fid"]) for i in np.nonzero(inside)[0])
    assert got == sorted(exp) and len(got) > n


def test_join_points_in_polygons_collect_is_bounded(spark, monkeypatch):
    """The polygon side is collected through ``limit(max_polys + 1)``:
    an oversized layer never lands whole on the driver, and still
    raises."""
    polys = irregular_polygons(spark, 100)
    points, _ = random_points(spark, 10)
    collected = []
    orig = type(polys).collect

    def spy(self):
        rows = orig(self)
        collected.append(len(rows))
        return rows

    monkeypatch.setattr(type(polys), "collect", spy)
    with pytest.raises(ValueError, match="more than 10 rows"):
        J.join_points_in_polygons(points, polys, "lon", "lat", "fid", max_polys=10)
    assert collected == [11]


# ------------------------------------------------------- probe driver
DRIVER_RUNS = {
    # operator path: (call, the functions that must reach pairing.probe)
    "join_by_location": (
        lambda L: J.join_by_location(L["parcels"], L["zones"]),
        {"_join_broadcast_pairs"}),
    "export_by_location-exists": (
        lambda L: J.export_by_location(L["parcels"], L["zones"]),
        {"_export_broadcast"}),
    "export_by_location-for_all": (
        lambda L: J.export_by_location(
            L["parcels"], L["zones"], "intersects is False"),
        {"_export_broadcast"}),
    "join_points_in_polygons": (
        lambda L: J.join_points_in_polygons(
            L["points"], L["triangles"], "lon", "lat", "fid"),
        {"join_points_in_polygons"}),
    "intersection": (
        lambda L: O.intersection(L["parcels"], L["zones"]),
        {"_broadcast_pairs_matched"}),
    "union_full_self": (
        lambda L: UF.union_full_self(L["parcels"].select("fid", "geom_wkb")),
        {"_broadcast_pairs_matched", "_attach_hits_fast"}),
    "clip-forward": (
        lambda L: O.clip(L["parcels"], L["zones"], _plan="forward"),
        {"_broadcast_combine"}),
    "difference-forward": (
        lambda L: O.difference(L["parcels"], L["zones"], _plan="forward"),
        {"_broadcast_combine"}),
    "difference-reverse": (
        lambda L: O.difference(L["zones"], L["parcels"], _plan="reverse"),
        {"_reverse_collect_candidates"}),
}


@pytest.mark.parametrize("path", sorted(DRIVER_RUNS))
def test_every_broadcast_grid_path_reaches_the_driver(
    spark, layers, monkeypatch, path
):
    """Every broadcast-grid operator path builds its probe through the
    one driver, ``pairing.probe``: a spy records which function called
    it while the plan is built."""
    import sys

    parcels, zones, _ = layers
    points, _ = random_points(spark, 200)
    named = dict(parcels=parcels, zones=zones, points=points,
                 triangles=irregular_polygons(spark, 20))
    callers = []
    orig = pairing.probe

    def spy(*a, **k):
        callers.append(sys._getframe(1).f_code.co_name)
        return orig(*a, **k)

    monkeypatch.setattr(pairing, "probe", spy)
    run, want = DRIVER_RUNS[path]
    run(named)
    assert set(callers) == want, callers


# ------------------------------------------------------- long session
def test_long_session_releases_every_broadcast(spark, layers, blobs, monkeypatch):
    """Every public pairwise operator, three times each in one session:
    after release_caches() every broadcast made was released and no RDD
    the operators persisted or checkpointed is left in executor storage."""
    from pyspark import Broadcast, SparkContext

    from geofileops_spark.operators.dissolve import dissolve_within_distance
    from geofileops_spark.operators.union_full import union_full_self

    parcels, zones, points = layers
    made, released = [], set()
    orig_bc = SparkContext.broadcast
    orig_unpersist, orig_destroy = Broadcast.unpersist, Broadcast.destroy

    def rec_broadcast(self, value):
        b = orig_bc(self, value)
        made.append(b)
        return b

    def rec_unpersist(self, blocking=False):
        released.add(id(self))
        return orig_unpersist(self, blocking)

    def rec_destroy(self, blocking=False):
        released.add(id(self))
        return orig_destroy(self, blocking)

    monkeypatch.setattr(SparkContext, "broadcast", rec_broadcast)
    monkeypatch.setattr(Broadcast, "unpersist", rec_unpersist)
    monkeypatch.setattr(Broadcast, "destroy", rec_destroy)
    polys = irregular_polygons(spark, 100)
    pts, _ = random_points(spark, 500)
    cache.release_caches()

    def stored():
        return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    # other test modules may have left cached frames in this session
    before = stored()
    runs = [
        lambda: J.join_by_location(parcels, zones),
        lambda: J.export_by_location(parcels, zones),
        lambda: O.intersection(parcels, zones),
        lambda: O.difference(parcels, zones),
        lambda: O.difference(zones, parcels),
        lambda: O.clip(parcels, zones),
        lambda: J.join_nearest(points, zones, nb_nearest=1, distance=500.0),
        lambda: union_full_self(parcels.select("fid", "geom_wkb")),
        lambda: J.join_points_in_polygons(pts, polys, "lon", "lat", "fid"),
        lambda: O.identity(parcels, zones),
        lambda: O.symmetric_difference(parcels, zones),
        lambda: O.union(parcels, zones),
        lambda: O.difference(blobs, parcels, subdivide_coords=SUBDIVIDE),
        lambda: O.intersection(blobs, parcels, subdivide_coords=SUBDIVIDE),
        lambda: dissolve_within_distance(zones.where("fid = 4").select("geom_wkb"), 10.0),
    ]
    for _ in range(3):
        for run in runs:
            assert run().count() > 0
    cache.release_caches()
    assert len(made) >= len(runs) - 1  # every probe broadcast something
    assert all(id(b) in released for b in made)
    assert stored() == before


# --------------------------------------------- data and argument guards
@pytest.mark.parametrize("pid", ["a\\nb", "x\\"])
def test_rect_path_keeps_backslash_ids(spark, pid):
    """String ids with backslashes survive the rect table verbatim (they
    once went through SQL text, whose parser reads a backslash as an
    escape)."""
    from geofileops_spark.functions.st import st_geomfromtext

    polys = spark.createDataFrame(
        [(pid, "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"),
         ("it's", "POLYGON ((20 0, 30 0, 30 10, 20 10, 20 0))")],
        "zid string, wkt string",
    ).withColumn("geom_wkb", st_geomfromtext(F.col("wkt"))).drop("wkt")
    points = spark.createDataFrame(
        [(1, 5.0, 5.0), (2, 25.0, 5.0)], "pt long, lon double, lat double"
    )
    out = J.join_points_in_polygons(points, polys, "lon", "lat", "zid")
    assert sorted((r["pt"], r["zid"]) for r in out.collect()) == [
        (1, pid), (2, "it's")]


PIP_IDS = {
    "int": [7, -3, None],
    "decimal(38,0)": [Decimal(2**70), Decimal(-(2**63) - 1), None],
    "string": ["a\\nb", "it's", None],
}


@pytest.mark.parametrize("id_type", sorted(PIP_IDS))
def test_pip_ids_keep_their_type_on_both_branches(spark, id_type):
    """Rect side (BNLJ) and triangle side (grid probe) return the polygon
    id column's own type and values: ints past int64, quotes,
    backslashes and a NULL id included."""
    from geofileops_spark.functions.st import st_geomfromtext

    ids = PIP_IDS[id_type]
    points = spark.createDataFrame(
        [(i, 20.0 * i + 3, 3.0) for i in range(len(ids))],
        "pt long, lon double, lat double",
    )
    shapes = {
        "rect": "POLYGON (({0} 0, {1} 0, {1} 10, {0} 10, {0} 0))",
        "triangle": "POLYGON (({0} 0, {1} 0, {0} 10, {0} 0))",
    }
    for side, shape in shapes.items():
        polys = spark.createDataFrame(
            [(pid, shape.format(20 * i, 20 * i + 10)) for i, pid in enumerate(ids)],
            f"zid {id_type}, wkt string",
        ).withColumn("geom_wkb", st_geomfromtext(F.col("wkt"))).drop("wkt")
        out = J.join_points_in_polygons(points, polys, "lon", "lat", "zid")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert ("BroadcastNestedLoopJoin" in plan) == (side == "rect"), side
        assert out.schema["zid"].dataType == polys.schema["zid"].dataType, side
        got = sorted(((r["pt"], r["zid"]) for r in out.collect()), key=repr)
        assert got == sorted(enumerate(ids), key=repr), side


# ------------------------------------------------- driver-built tables
def tile_grid():
    from geofileops_spark.operators.dissolve import _squarish_grid

    return _squarish_grid((0.1, 0.2, 1234.5678, 98.7654321), 7) + [
        (1e-7, -1e22, 3.3e21, 5e-324)]


DRIVER_TABLES = {
    # each builds (and, but for the PIP join, collects) a table the
    # library writes on the driver
    "join_points_in_polygons-rect": lambda spark: J.join_points_in_polygons(
        spark.range(10).select(F.col("id").cast("double").alias("lon"),
                               F.col("id").cast("double").alias("lat")),
        synth_zones(spark), "lon", "lat", "fid"),
    "synth_zones": lambda spark: synth_zones(spark).collect(),
    "clip_by_geometry-blade": lambda spark: G._literal_layer(
        spark, "POLYGON ((0 0, 1 0, 0 1, 0 0))", "geom_wkb").collect(),
    "dissolve-tiles": lambda spark: D._tile_table(spark, tile_grid()).collect(),
}


@pytest.mark.parametrize("table", sorted(DRIVER_TABLES))
def test_driver_built_tables_run_no_job(spark, count_jobs, table):
    """Driver-built tables are LocalRelations: building them, and
    collecting them, launches no Spark job."""
    DRIVER_TABLES[table](spark)  # the first pandas build of a fresh JVM
    assert count_jobs(lambda: DRIVER_TABLES[table](spark)) == 0


def test_tile_wkb_is_the_wkt_parse_it_replaced(spark):
    """The tile rectangles written on the driver are byte-identical to
    the Spark-side parse of the tiles' WKT (doubles cast to text and
    read by ``st_geomfromtext``) that built them before."""
    from geofileops_spark.functions.st import st_geomfromtext

    tiles = tile_grid()
    tdf = spark.createDataFrame(
        [(i, *map(float, t)) for i, t in enumerate(tiles)],
        "tile_id long, _tx0 double, _ty0 double, _tx1 double, _ty1 double",
    )
    s = lambda c: F.col(c).cast("string")  # noqa: E731
    wkt = F.concat(
        F.lit("POLYGON (("),
        s("_tx0"), F.lit(" "), s("_ty0"), F.lit(", "),
        s("_tx1"), F.lit(" "), s("_ty0"), F.lit(", "),
        s("_tx1"), F.lit(" "), s("_ty1"), F.lit(", "),
        s("_tx0"), F.lit(" "), s("_ty1"), F.lit(", "),
        s("_tx0"), F.lit(" "), s("_ty0"), F.lit("))"),
    )
    parsed = {r[0]: bytes(r[1]) for r in tdf.select(
        "tile_id", st_geomfromtext(wkt)).collect()}
    written = {r["tile_id"]: bytes(r["_tile_geom"])
               for r in D._tile_table(spark, tiles).collect()}
    assert len(written) == len(tiles) and written == parsed
    assert D._tile_table(spark, []).collect() == []  # dissolve(tiles=[])


def test_literal_blades_are_sized_and_every_plan_agrees(wkt_layer, monkeypatch):
    """A one-geometry blade is a sized LocalRelation: ``choose`` picks
    ``forward`` for the clip_by_geometry blade and ``broadcast`` for the
    export_by_bounds one, and both give the rows of the cell plan."""
    boxes = wkt_layer([
        (i, f"POLYGON (({x} 0, {x + 120} 0, {x + 120} 150, {x} 150, {x} 0))")
        for i, x in enumerate(range(0, 1200, 200))])
    calls = {
        "clip_by_geometry": (lambda: G.clip_by_geometry(
            boxes, "POLYGON ((100 0, 500 0, 500 150, 100 150, 100 0))"), "forward"),
        "export_by_bounds": (lambda: G.export_by_bounds(
            boxes, (100, 0, 500, 150)), "broadcast"),
    }
    paths = []
    orig = pairing.choose

    def spy(*a, **k):
        d = orig(*a, **k)
        paths.append(d.path)
        return d

    monkeypatch.setattr(pairing, "choose", spy)
    for name, (call, want) in calls.items():
        results = {}
        for budget, path in ((DEFAULT_BUDGET, want), (0, "cell")):
            monkeypatch.setattr(pairing, "BROADCAST_BYTES", budget)
            paths.clear()
            results[path] = norm(call())
            assert set(paths) == {path}, (name, paths)
        assert results[want] == results["cell"] and results["cell"], name


def test_union_full_attach_collect_is_bounded(layers, monkeypatch):
    """The face-point attach follows the byte budget and the row cap: at
    budget 0 it collects nothing, and past ``MAX_ROWS`` face points it
    collects ``MAX_ROWS + 1`` rows at most; either way it hands over to
    the cell join, which gives the default budget's rows."""
    layer = layers[0].select("fid", "geom_wkb")
    want = norm(UF.union_full_self(layer))

    attached, collected = [], []
    frame = type(layer)
    orig_attach, orig_to_arrow = UF._attach_hits_fast, frame.toArrow

    def attach(*a, **k):
        attached.append(orig_attach(*a, **k))
        return attached[-1]

    def to_arrow(self):
        table = orig_to_arrow(self)
        if "_ip" in self.columns:
            collected.append(table.num_rows)
        return table

    monkeypatch.setattr(UF, "_attach_hits_fast", attach)
    monkeypatch.setattr(frame, "toArrow", to_arrow)
    with monkeypatch.context() as m:
        m.setattr(pairing, "BROADCAST_BYTES", 0)
        assert norm(UF.union_full_self(layer)) == want
    assert attached == [None] and collected == []
    monkeypatch.setattr(pairing, "MAX_ROWS", 5)
    got = norm(UF.union_full_self(layer))
    assert attached == [None, None]
    assert collected == [pairing.MAX_ROWS + 1]
    assert got == want and len(want) > pairing.MAX_ROWS


# ------------------------------------------- layer-2 rows on the probe
def sized_layer(spark, rows, schema):
    """A cached, materialized layer from ``(…, wkt)`` rows: the planner
    sees its real size, so it fits the default budget."""
    from geofileops_spark.functions.st import st_geomfromtext

    df = spark.createDataFrame(rows, schema).withColumn(
        "geom_wkb", st_geomfromtext(F.col("wkt"))).drop("wkt").cache()
    df.count()
    return df


def box(x0, y0, x1, y1):
    return f"POLYGON (({x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}, {x0} {y0}))"


def pair_rows(df, cols):
    """Order-free rows of ``cols``, plus the geometry's area when there
    is one."""
    out = []
    for r in df.collect():
        g = r["geom_wkb"]
        area = None if g is None else round(K.area(W.loads(bytes(g))), 6)
        out.append(repr(tuple(r[c] for c in cols)) + f" {area}")
    return sorted(out)


PAIR_OPS = {
    "intersection": lambda a, b: O.intersection(a, b),
    "join_by_location": lambda a, b: J.join_by_location(a, b),
}


def on_both_budgets(monkeypatch, call):
    """``call()`` at the default budget and at budget 0 (the cell plan)."""
    fast = call()
    with monkeypatch.context() as m:
        m.setattr(pairing, "BROADCAST_BYTES", 0)
        slow = call()
    return fast, slow


def runs_the_broadcast_probe(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "MapInArrow" in plan and "Exchange" not in plan


@pytest.mark.parametrize("op", sorted(PAIR_OPS))
def test_layer2_rows_attach_by_position(spark, monkeypatch, op):
    """The probe takes each pair's layer-2 columns from the build row it
    paired with, not by id: two layer-2 rows sharing ``fid`` 7 give one
    row per pair, each with its own ``name``, on both budgets. String
    and NULL ids need no key either: they take the broadcast plan, with
    the cell plan's rows."""
    l1 = sized_layer(spark, [(1, box(0, 0, 10, 10)), (2, box(20, 0, 30, 10))],
                     "fid long, wkt string")
    cols = ["l1_fid", "l2_fid", "l2_name"]
    want = [
        repr((1, 7, "a")) + (" 50.0" if op == "intersection" else " 100.0"),
        repr((2, 7, "b")) + (" 50.0" if op == "intersection" else " 100.0"),
    ]
    for fids, fid_type in (((7, 7), "long"), (("s7", None), "string")):
        l2 = sized_layer(
            spark, [(fids[0], "a", box(5, 0, 15, 10)), (fids[1], "b", box(25, 0, 35, 10))],
            f"fid {fid_type}, name string, wkt string")
        assert pairing.choose("pairs", l2).path == "broadcast"
        fast, slow = on_both_budgets(monkeypatch, lambda: PAIR_OPS[op](l1, l2))
        assert pair_rows(fast, cols) == pair_rows(slow, cols), fids
        if fid_type == "long":
            assert pair_rows(fast, cols) == want
        else:
            assert [r.split(", ")[1] for r in pair_rows(fast, cols)] == ["'s7'", "None"]
        assert runs_the_broadcast_probe(fast), fids
        assert not runs_the_broadcast_probe(slow), fids
        l2.unpersist()
    l1.unpersist()
    cache.release_caches()


@pytest.mark.parametrize("op", sorted(PAIR_OPS))
def test_layer2_attribute_types_survive_the_probe(spark, monkeypatch, op):
    """Layer-2 columns of every kind, NULLs included, reach the output
    with the same values and types on the broadcast probe (Arrow arrays
    taken from the collected table) and on the cell plan."""
    import datetime as dt

    l1 = sized_layer(spark, [(1, box(0, 0, 10, 10)), (2, box(20, 0, 30, 10))],
                     "fid long, wkt string")
    l2 = sized_layer(spark, [
        (1, "é'\\", Decimal(2**100), dt.date(2020, 2, 29),
         dt.datetime(2021, 3, 4, 5, 6, 7, 891011), [1, None, 3], (4, "x"),
         {"k": 5, "n": None}, box(5, 0, 15, 10)),
        (2, None, None, None, None, None, None, None, box(25, 0, 35, 10)),
        (3, "", Decimal(-1), dt.date(1, 1, 1), dt.datetime(1970, 1, 1), [],
         (None, None), {}, box(8, 2, 22, 4)),
    ], "fid long, s string, d decimal(38,0), dt date, ts timestamp, "
       "a array<int>, st struct<a:int,b:string>, m map<string,int>, wkt string")
    assert pairing.choose("pairs", l2).path == "broadcast"
    fast, slow = on_both_budgets(monkeypatch, lambda: PAIR_OPS[op](l1, l2))
    assert runs_the_broadcast_probe(fast)
    types = {f.name: f.dataType for f in fast.schema.fields}
    assert types == {f.name: f.dataType for f in slow.schema.fields}
    for f in l2.schema.fields:
        if f.name != "geom_wkb":
            assert types[f"l2_{f.name}"] == f.dataType, f.name
    cols = sorted(c for c in fast.columns if c != "geom_wkb")
    got = pair_rows(fast, cols)
    assert got == pair_rows(slow, cols) and len(got) == 4
    l1.unpersist()
    l2.unpersist()
    cache.release_caches()


def test_intersection_runs_no_attribute_job(layers, count_jobs, tmp_path):
    """Building and writing ``intersection`` on a broadcast-size layer 2
    runs two Spark jobs: the bounded collect of layer 2 and the write.
    No ``BroadcastExchange`` job rescans layer 2 for its attributes."""
    parcels, zones, _ = layers
    assert pairing.choose("pairs", zones).path == "broadcast"
    cache.release_caches()  # no grid of zones left from earlier calls
    n_jobs = count_jobs(
        lambda: O.intersection(parcels, zones).write.parquet(str(tmp_path / "out")))
    assert n_jobs == 2
    cache.release_caches()


def test_truncated_point_is_a_value_error(spark):
    """A POINT blob cut short raises ``ValueError`` in ``W.loads``, like
    any other truncated blob: the batch bounds give it a NaN row, the
    probe's stream decode raises ``ValueError`` and the planning sample
    skips it."""
    from geofileops_spark.operators.celljoin import estimate_res

    pt = W.dumps(W.from_wkt("POINT (7 8)"))
    for cut in (pt[:-3], pt[:5], pt[:1], b""):
        with pytest.raises(ValueError):
            W.loads(cut)
    B = W.bounds_from_wkb_batch([pt[:-3], pt])
    assert np.isnan(B[0]).all() and B[1].tolist() == [7.0, 8.0, 7.0, 8.0]
    with pytest.raises(ValueError):
        pairing.decode([pt, pt[:-3]])
    blobs = [pt, pt[:-3], W.dumps(W.from_wkt("POINT (100 40)"))]
    df = spark.createDataFrame(list(enumerate(blobs)), "fid long, geom_wkb binary")
    assert estimate_res(df) == estimate_res(df.where("fid != 1")) == loop_estimate_res(blobs)
