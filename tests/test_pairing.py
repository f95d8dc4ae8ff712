"""The broadcast-grid pairing module (index/pairing.py): the plan
decision, path equivalence of every pairwise operator, broadcast release
in a long session, and the id-literal / argument guards of the probes.

Paths are forced the way an operator call would see them: by
monkeypatching the one budget (``pairing.BROADCAST_BYTES``) or the row
cap (``pairing.MAX_ROWS``) around the fixtures' real scan sizes."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from geofileops_spark import cache
from geofileops_spark.geometry import kernels as K
from geofileops_spark.geometry import wkb as W
from geofileops_spark.index import pairing
from geofileops_spark.operators import join as J
from geofileops_spark.operators import overlay as O
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
def expected_path(shape, budget, max_rows, s2, rows2, s1=None):
    """The per-shape rules and limits each operator applied on its own
    before ``choose()`` existed, as shares of the default 256 MB budget:
    pairs 256 MB / 4M rows, kNN 32 MB / 2M rows, combine-forward 64 MB
    (16 MB outright), reverse 256 MB."""
    if shape == "pairs":
        return "broadcast" if 0 < s2 <= budget and rows2 <= max_rows else "cell"
    if shape == "knn":
        ok = 0 < s2 <= budget // 8 and rows2 <= max_rows // 2
        return "broadcast" if ok else "cell"
    if shape == "combine":
        if s1 * 4 <= s2 and s1 <= budget:
            return "reverse"
        if s2 <= budget // 4 and (s2 * 4 <= s1 or s2 <= budget // 16):
            return "forward"
        return "cell"
    raise AssertionError(shape)


def test_choose_keeps_the_per_shape_limits(layers, monkeypatch):
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
                assert d.path == expected_path(shape, budget, max_rows, sz, 5), (
                    shape, budget, max_rows, d)
                assert d.budget == budget and d.scan_bytes == sz
                seen.add((shape, d.path))
        for build, stream in ((zones, parcels), (parcels, zones)):
            d = pairing.choose("combine", build, stream)
            s2 = sz if build is zones else sp
            s1 = sp if build is zones else sz
            assert d.path == expected_path("combine", budget, 0, s2, 0, s1), (budget, d)
            assert d.rows is None  # the combine decision never counts
            seen.add(("combine", d.path))
    # every path of every shape was reached across the boundaries
    assert seen == {
        ("pairs", "broadcast"), ("pairs", "cell"),
        ("knn", "broadcast"), ("knn", "cell"),
        ("combine", "forward"), ("combine", "reverse"), ("combine", "cell"),
    }
    monkeypatch.setattr(pairing, "MAX_ROWS", 9)
    assert pairing.choose("sphere", zones).path == "cell"
    monkeypatch.setattr(pairing, "MAX_ROWS", 10)
    d = pairing.choose("sphere", zones)
    assert d.path == "broadcast" and d.rows == 5


def test_intersection_plan_counts_layer2_at_most_once(layers):
    """Building (not running) intersection may count layer 2 once — the
    row-cap guard that keeps the driver collect safe — and nothing else."""
    from unittest import mock

    parcels, zones, _ = layers
    seen = []
    orig = type(zones).count

    def spy(self):
        seen.append(self)
        return orig(self)

    with mock.patch.object(type(zones), "count", spy):
        O.intersection(parcels, zones)
    assert sum(df is zones for df in seen) <= 1
    assert all(df is zones for df in seen), seen


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
]


@pytest.mark.parametrize(
    "op,sides,paths,default_path", PATHS,
    ids=[f"{p[0]}-{p[1][0]}" for p in PATHS],
)
def test_every_path_gives_the_same_rows(layers, monkeypatch, op, sides, paths, default_path):
    named = dict(zip(("parcels", "zones", "points"), layers))
    df1, df2 = named[sides[0]], named[sides[1]]
    fn = getattr(J if op == "export_by_location" else O, op)
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
        results[path] = norm(fn(df1, df2))
    first = results[paths[0]]
    assert len(first) > 0
    for path in paths[1:]:
        assert results[path] == first, (op, path)


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


# ------------------------------------------------------- long session
def test_long_session_releases_every_broadcast(spark, layers, monkeypatch):
    """Every public pairwise operator, three times each in one session:
    after release_caches() every broadcast made was released and no RDD
    the operators persisted or checkpointed is left in executor storage."""
    from pyspark import Broadcast, SparkContext

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
    """String ids with backslashes survive the inline-VALUES rect table
    verbatim: Spark's parser reads a backslash as an escape."""
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


def test_sql_id_literal_out_of_int64_takes_row_fallback():
    assert J._sql_id_literal(7) == "CAST(7 AS BIGINT)"
    assert J._sql_id_literal(-(2**63)) == f"CAST({-(2**63)} AS BIGINT)"
    assert J._sql_id_literal(2**63) is None
    assert J._sql_id_literal(-(2**63) - 1) is None


def test_self_half_uid_needs_layer2_ids(layers):
    parcels, _, _ = layers
    with pytest.raises(ValueError, match="with_l2"):
        O._broadcast_pairs_matched(
            parcels, parcels, "geom_wkb", "fid", with_l2=False,
            self_half_uid="fid",
        )
