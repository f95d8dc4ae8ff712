"""End-to-end spatial join tests on the fixture twins, validated against
the brute-force local oracle (independent code path: no cells, no Spark
plan — mirrors the reference's golden-count strategy, SURVEY.md §5)."""

import pytest
from pyspark.sql import functions as F

from tests import fixtures as FX

from geofileops_spark.index import pairing
from geofileops_spark.operators import join as J

PARCEL_SCHEMA = "fid long; OIDN long; UIDN long; GEWASGROEP string; LENGTE double; OPPERVL double; wkt string"
ZONE_SCHEMA = "fid long; naam string; wkt string; OIDN long"
POINT_SCHEMA = "fid long; wkt string; type string"


@pytest.fixture(scope="module")
def layers(spark):
    parcels = FX.to_spark_layer(
        spark,
        FX.parcels_rows(),
        "fid long; wkt string; OIDN long; UIDN long; GEWASGROEP string; LENGTE double; OPPERVL double",
    ).cache()
    zones = FX.to_spark_layer(
        spark, FX.zones_rows(), "fid long; naam string; wkt string; OIDN long"
    ).cache()
    points = FX.to_spark_layer(
        spark, FX.points_rows(), "fid long; wkt string; type string"
    ).cache()
    parcels.count(), zones.count(), points.count()
    return parcels, zones, points


def spark_pairs(df, id1="l1_fid", id2="l2_fid"):
    return sorted((r[0], r[1]) for r in df.select(id1, id2).collect())


def test_join_by_location_intersects(layers):
    parcels, zones, points = layers
    out = J.join_by_location(parcels, zones, "intersects is True")
    expected = FX.brute_force_pairs(FX.parcels_rows(), FX.zones_rows(), "intersects")
    assert spark_pairs(out) == expected
    assert len(expected) > 5  # sanity: fixture overlaps exist
    # output schema: geometry from layer1 + prefixed attrs
    assert "geom_wkb" in out.columns
    assert "l1_GEWASGROEP" in out.columns and "l2_naam" in out.columns


def test_join_by_location_keep_nonmatching(layers):
    parcels, zones, _ = layers
    out = J.join_by_location(
        parcels, zones, "intersects is True", discard_nonmatching=False
    )
    matched = J.join_by_location(parcels, zones, "intersects is True")
    n_match = matched.count()
    matched_l1 = matched.select("l1_fid").distinct().count()
    # every parcel appears; unmatched get NULL l2 cols. EMPTY-geom parcel 47
    # produces no cells so it lands in the unmatched branch too.
    assert out.count() == n_match + (48 - matched_l1)
    nulls = out.where(F.col("l2_fid").isNull()).count()
    assert nulls == 48 - matched_l1


def test_join_by_location_within(layers):
    parcels, zones, _ = layers
    out = J.join_by_location(parcels, zones, "within is True")
    expected = FX.brute_force_pairs(FX.parcels_rows(), FX.zones_rows(), "within")
    assert spark_pairs(out) == expected


def test_join_by_location_complex_query(layers):
    parcels, zones, _ = layers
    q = "intersects is True and touches is False"
    out = J.join_by_location(parcels, zones, q)
    from geofileops_spark.geometry import predicates as P

    expected = FX.brute_force_pairs(
        FX.parcels_rows(),
        FX.zones_rows(),
        lambda a, b: P.intersects(a, b) and not P.touches(a, b),
    )
    assert spark_pairs(out) == expected


def test_join_by_location_min_area(layers):
    parcels, zones, _ = layers
    out_all = J.join_by_location(
        parcels, zones, "intersects is True", area_inters_column_name="area_inters"
    )
    rows = out_all.select("l1_fid", "l2_fid", "area_inters").collect()
    assert all(r["area_inters"] >= 0 for r in rows)
    big = [r for r in rows if r["area_inters"] >= 50000]
    out_min = J.join_by_location(
        parcels, zones, "intersects is True", min_area_intersect=50000.0
    )
    assert out_min.count() == len(big)


def test_points_in_zones(layers):
    _, zones, points = layers
    out = J.join_by_location(points, zones, "intersects is True")
    expected = FX.brute_force_pairs(FX.points_rows(), FX.zones_rows(), "intersects")
    assert spark_pairs(out) == expected


def test_export_by_location(layers):
    parcels, zones, _ = layers
    out = J.export_by_location(parcels, zones, "intersects is True")
    expected = {p for p, _z in FX.brute_force_pairs(FX.parcels_rows(), FX.zones_rows(), "intersects")}
    got = {r[0] for r in out.select("fid").collect()}
    assert got == expected
    # schema is unchanged layer1
    assert set(out.columns) == set(parcels.columns)


def test_export_by_location_disjoint(layers):
    parcels, zones, _ = layers
    out = J.export_by_location(parcels, zones, "disjoint is True")
    inter = {p for p, _z in FX.brute_force_pairs(FX.parcels_rows(), FX.zones_rows(), "intersects")}
    got = {r[0] for r in out.select("fid").collect()}
    # rows disjoint from ALL zones = everything not intersecting any zone
    # (incl. the EMPTY row which intersects nothing)
    assert got == set(range(1, 49)) - inter


def test_export_grid_cache_reuse_and_release(layers):
    from geofileops_spark import cache as gfo_cache

    parcels, zones, _ = layers
    gfo_cache.release_caches()
    pairing._GRID_CACHE.clear()
    a = {r[0] for r in
         J.export_by_location(parcels, zones, "intersects is True",
                              broadcast=True).select("fid").collect()}
    assert len(pairing._GRID_CACHE) == 1
    key = next(iter(pairing._GRID_CACHE))
    # same layer again: the built grid broadcast is reused (same entry)
    b = {r[0] for r in
         J.export_by_location(parcels, zones, "disjoint is True",
                              broadcast=True).select("fid").collect()}
    assert next(iter(pairing._GRID_CACHE)) == key
    assert not (a & b)
    gfo_cache.release_caches()
    assert len(pairing._GRID_CACHE) == 0


def test_export_by_distance(layers):
    parcels, zones, _ = layers
    d = 300.0
    out = J.export_by_distance(parcels, zones, max_distance=d)
    from geofileops_spark.geometry import kernels as K

    expected = {
        p
        for p, _z in FX.brute_force_pairs(
            FX.parcels_rows(), FX.zones_rows(), lambda a, b: K.distance(a, b) <= d
        )
    }
    got = {r[0] for r in out.select("fid").collect()}
    assert got == expected


def test_join_nearest_ring_path_matches_broadcast(layers):
    # the ring-expansion plan (big-x-big shape) and the broadcast kNN
    # kernel (dimension-sized l2 shape) must produce identical results
    _, zones, points = layers

    def norm(df):
        return sorted(
            (r["l1_fid"], r["pos"], r["l2_fid"], round(r["distance"], 9))
            for r in df.select("l1_fid", "pos", "l2_fid", "distance").collect()
        )

    for expand in (True, False):
        out_b = J.join_nearest(
            points, zones, nb_nearest=2, distance=3000.0,
            expand=expand, broadcast=True,
        )
        out_r = J.join_nearest(
            points, zones, nb_nearest=2, distance=3000.0,
            expand=expand, broadcast=False,
        )
        assert norm(out_b) == norm(out_r), f"expand={expand}"


def test_join_nearest_expand_past_initial_distance(spark):
    # reference semantics (geoops.py:3190): `distance` is only the
    # INITIAL radius when expand=True — a far row still gets k results;
    # expand=False caps hard and the far row gets nothing
    from geofileops_spark.functions.st import st_geomfromtext

    def layer(rows):
        df = spark.createDataFrame(rows, "fid long, wkt string")
        return df.select(
            "fid", st_geomfromtext(F.col("wkt")).alias("geom_wkb")
        )

    l1 = layer([(1, "POINT (0 0)"), (2, "POINT (100000 100000)")])
    l2 = layer([(10, "POINT (1 0)"), (11, "POINT (2 0)"), (12, "POINT (3 0)")])
    for broadcast in (True, False):
        out = J.join_nearest(
            l1, l2, nb_nearest=2, distance=5.0, expand=True, broadcast=broadcast
        ).collect()
        by_fid = {}
        for r in out:
            by_fid.setdefault(r["l1_fid"], []).append((r["pos"], r["l2_fid"]))
        assert sorted(by_fid[1]) == [(1, 10), (2, 11)]
        # far row found its 2 nearest despite initial radius 5
        assert sorted(by_fid[2]) == [(1, 12), (2, 11)]
        out_capped = J.join_nearest(
            l1, l2, nb_nearest=2, distance=5.0, expand=False, broadcast=broadcast
        ).collect()
        fids = {r["l1_fid"] for r in out_capped}
        assert fids == {1}
        # distance_crs mirrors distance (planar engine)
        assert all(r["distance_crs"] == r["distance"] for r in out)


def test_join_nearest(layers):
    _, zones, points = layers
    k = 2
    out = J.join_nearest(points, zones, nb_nearest=k, distance=3000.0)
    rows = out.select("l1_fid", "l2_fid", "pos", "distance").collect()
    # oracle: for each point, k nearest zones within 3000
    from geofileops_spark.geometry import kernels as K
    from geofileops_spark.geometry import wkb as W

    zg = [(z["fid"], W.from_wkt(z["wkt"])) for z in FX.zones_rows()]
    expected = {}
    for p in FX.points_rows():
        pg = W.from_wkt(p["wkt"])
        ds = sorted(
            ((K.distance(pg, g), zfid) for zfid, g in zg),
        )
        near = [(zfid, d) for d, zfid in ds if d <= 3000.0][:k]
        if near:
            expected[p["fid"]] = near
    got = {}
    for r in rows:
        got.setdefault(r["l1_fid"], []).append((r["pos"], r["l2_fid"], r["distance"]))
    assert set(got) == set(expected)
    for fid, lst in expected.items():
        got_sorted = sorted(got[fid])
        assert len(got_sorted) == len(lst)
        for (pos, zfid, dist), (exp_zfid, exp_d) in zip(got_sorted, lst):
            assert zfid == exp_zfid
            assert dist == pytest.approx(exp_d, rel=1e-9)


def test_equi_join(layers):
    parcels, zones, _ = layers
    out = J.join(parcels, zones.withColumnRenamed("OIDN", "OIDN2"), on=[("fid", "fid")])
    assert out.count() == 5
    assert "geom_wkb" in out.columns


def test_delete_duplicate_geometries(spark):
    rows = (
        [{"fid": i, "wkt": "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))", "prio": i} for i in range(1, 4)]
        + [{"fid": 4, "wkt": "POLYGON ((20 0, 30 0, 30 10, 20 10, 20 0))", "prio": 4}]
        # same square, different start vertex -> still a duplicate
        + [{"fid": 5, "wkt": "POLYGON ((10 0, 10 10, 0 10, 0 0, 10 0))", "prio": 0}]
    )
    df = FX.to_spark_layer(spark, rows, "fid long; wkt string; prio long")
    out = J.delete_duplicate_geometries(df, priority_column="prio")
    got = sorted(r[0] for r in out.select("fid").collect())
    assert got == [4, 5]  # fid 5 has prio 0 -> kept over 1..3


def test_join_nearest_sphere(spark):
    # geodesic kNN (metric="sphere"): distance is haversine METERS,
    # distance_crs the planar degree distance — the reference's
    # geographic-CRS split (geoops.py:3216-3224)
    import math

    from geofileops_spark.functions.st import st_geomfromtext

    def layer(rows):
        df = spark.createDataFrame(rows, "fid long, wkt string")
        return df.select(
            "fid", st_geomfromtext(F.col("wkt")).alias("geom_wkb")
        )

    pts1 = {1: (4.35, 50.85), 2: (2.35, 48.86)}  # Brussels, Paris
    pts2 = {10: (4.40, 51.22), 11: (5.57, 50.63), 12: (3.72, 51.05)}
    l1 = layer([(f, f"POINT ({lo} {la})") for f, (lo, la) in pts1.items()])
    l2 = layer([(f, f"POINT ({lo} {la})") for f, (lo, la) in pts2.items()])

    def hav(lon1, lat1, lon2, lat2):
        R = 6_371_008.8
        p1, p2 = math.radians(lat1), math.radians(lat2)
        dl = math.radians(lon2 - lon1)
        h = (
            math.sin((p2 - p1) / 2) ** 2
            + math.cos(p1) * math.cos(p2) * math.sin(dl / 2) ** 2
        )
        return 2 * R * math.asin(math.sqrt(min(h, 1.0)))

    out = J.join_nearest(
        l1, l2, nb_nearest=2, distance=1000.0, expand=True,
        broadcast=True, metric="sphere",
    ).collect()
    exp = {
        f1: sorted((hav(lo, la, *pts2[f2]), f2) for f2 in pts2)[:2]
        for f1, (lo, la) in pts1.items()
    }
    by = {}
    for r in out:
        by.setdefault(r["l1_fid"], []).append(
            (r["pos"], r["l2_fid"], r["distance"], r["distance_crs"])
        )
    assert set(by) == {1, 2}
    for f1, lst in by.items():
        lst.sort()
        for (pos, f2, d, dcrs), (ed, ef2) in zip(lst, exp[f1]):
            assert f2 == ef2
            assert abs(d - ed) < 0.5  # meters
            lo, la = pts1[f1]
            lo2, la2 = pts2[f2]
            assert abs(dcrs - math.hypot(lo - lo2, la - la2)) < 1e-9

    # expand=False: `distance` caps in METERS (60 km keeps only
    # Brussels->Antwerp/Ghent; Paris is >200 km from every l2 point)
    out_cap = J.join_nearest(
        l1, l2, nb_nearest=2, distance=60_000.0, expand=False,
        broadcast=True, metric="sphere",
    ).collect()
    assert {r["l1_fid"] for r in out_cap} == {1}
    assert all(r["distance"] <= 60_000.0 for r in out_cap)

    # the distributed ring path is planar-only: sphere must refuse
    with pytest.raises(ValueError, match="sphere"):
        J.join_nearest(
            l1, l2, nb_nearest=1, distance=10.0, broadcast=False,
            metric="sphere",
        )

    # non-point geometries refuse loudly inside the kernel
    poly = layer([(1, "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")])
    with pytest.raises(Exception, match="POINT"):
        J.join_nearest(
            poly, l2, nb_nearest=1, distance=10.0, broadcast=True,
            metric="sphere",
        ).collect()


def test_export_by_distance_sphere(spark):
    # range semi-join in haversine METERS over lon/lat points
    from geofileops_spark.functions.st import st_geomfromtext

    def layer(rows):
        df = spark.createDataFrame(rows, "fid long, wkt string")
        return df.select(
            "fid", st_geomfromtext(F.col("wkt")).alias("geom_wkb")
        )

    l1 = layer([
        (1, "POINT (4.35 50.85)"),   # Brussels: ~41 km to Antwerp
        (2, "POINT (2.35 48.86)"),   # Paris: >200 km to every l2 point
    ])
    l2 = layer([(10, "POINT (4.40 51.22)"), (11, "POINT (5.57 50.63)")])
    out = J.export_by_distance(l1, l2, max_distance=60_000.0, metric="sphere")
    assert sorted(r["fid"] for r in out.collect()) == [1]
    # schema is layer 1 verbatim (semi-join contract)
    assert out.columns == ["fid", "geom_wkb"]
    far = J.export_by_distance(l1, l2, max_distance=10_000.0, metric="sphere")
    assert far.count() == 0


def test_join_points_in_polygons_grid_path_matches_scan(spark):
    """>63 irregular (non-rect) polygons engage the grid-indexed probe;
    its (point, polygon) pairs must equal a driver-side per-polygon scan."""
    import numpy as np

    from geofileops_spark.functions.st import st_geomfromtext
    from geofileops_spark.operators.join import join_points_in_polygons

    rng = np.random.RandomState(11)
    n_poly = 400
    tris = []
    for i in range(n_poly):
        cx, cy = rng.uniform(0, 1000, 2)
        r = rng.uniform(5, 25)
        pts = [(cx + r * np.cos(a + 0.3), cy + r * np.sin(a + 0.3))
               for a in (0.0, 2.1, 4.2)]
        wkt = "POLYGON ((" + ", ".join(f"{x} {y}" for x, y in pts + [pts[0]]) + "))"
        tris.append((i, wkt))
    polys = spark.createDataFrame(tris, "fid long, wkt string").withColumn(
        "geom_wkb", st_geomfromtext(F.col("wkt"))
    ).drop("wkt")
    pts_rows = [(int(i), float(x), float(y)) for i, (x, y) in
                enumerate(rng.uniform(0, 1000, size=(3000, 2)))]
    points = spark.createDataFrame(pts_rows, "pt long, lon double, lat double")

    got = sorted(
        (r["pt"], r["fid"])
        for r in join_points_in_polygons(points, polys, "lon", "lat", "fid").collect()
    )

    # oracle: brute-force bbox+PIP over every polygon, driver-side
    from geofileops_spark.geometry import kernels as K
    from geofileops_spark.geometry import wkb as W

    geoms = {r["fid"]: W.loads(bytes(r["geom_wkb"])) for r in polys.collect()}
    P = np.asarray([(x, y) for _, x, y in pts_rows])
    exp = []
    for fid in sorted(geoms):
        inside = K.points_in_multipolygon(P, geoms[fid]) >= 1
        exp.extend((int(i), fid) for i in np.nonzero(inside)[0])
    assert got == sorted(exp) and len(got) > 0


def test_join_broadcast_pairs_row_cap_falls_back(layers, monkeypatch):
    """A layer 2 under the byte budget but over the row cap must NOT be
    collected for the broadcast grid (a 256MB parquet of point rows can
    be tens of millions of rows); the join routes to the distributed
    cell plan instead — same rows, Exchange present in the plan."""
    parcels, zones, _ = layers
    monkeypatch.setattr(pairing, "MAX_ROWS", 1)
    capped = J.join_by_location(parcels, zones, "intersects is True")
    p = capped._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" in p  # distributed cell join
    monkeypatch.undo()
    fast = J.join_by_location(parcels, zones, "intersects is True")
    assert spark_pairs(capped) == spark_pairs(fast)


def test_join_broadcast_pairs_matches_distributed(layers):
    """The zero-shuffle broadcast-grid pairs plan (auto for a small
    layer 2) must produce the exact row set of the distributed cell
    join (broadcast_right=False pins the old plan) across simple,
    negated, DE-9IM and left-join queries, and its physical plan must
    contain no shuffle before the attribute attach."""
    parcels, zones, _ = layers
    for query in (
        "intersects is True",
        "within is True",
        "intersects is False",
        "T*F**F*** is True",
        "intersects is True or touches is True",
    ):
        fast = J.join_by_location(parcels, zones, query)
        slow = J.join_by_location(parcels, zones, query, broadcast_right=False)
        assert spark_pairs(fast) == spark_pairs(slow), query
        assert sorted(fast.columns) == sorted(slow.columns), query
    # left-join variant keeps unmatched l1 rows on both plans
    fast = J.join_by_location(
        parcels, zones, "within is True", discard_nonmatching=False
    )
    slow = J.join_by_location(
        parcels, zones, "within is True", discard_nonmatching=False,
        broadcast_right=False,
    )
    assert spark_pairs(fast) == spark_pairs(slow)
    # plan shape: one mapInPandas + BroadcastHashJoin, no Exchange in
    # the matched branch (the left-anti union adds its own)
    p = (
        J.join_by_location(parcels, zones, "intersects is True")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in p and "MapInPandas" in p
    assert "Exchange hashpartitioning" not in p


def test_join_broadcast_pairs_point_subjects(layers, spark):
    """POINT subjects route through the vectorized per-blade PIP path
    inside the broadcast-pairs probe; results must equal the distributed
    cell join exactly — including points ON zone boundaries/corners,
    where intersects/within/touches/coveredby all differ."""
    _, zones, points = layers
    # augment with points exactly on the first zone's boundary: a corner
    # and an edge midpoint (zone wkt is a polygon; vertex 0 and the
    # 0-1 edge midpoint are certainly on the boundary)
    import re

    wkt0 = FX.zones_rows()[0]["wkt"]
    nums = re.findall(r"(-?\d+(?:\.\d+)?) (-?\d+(?:\.\d+)?)", wkt0)
    (x0, y0), (x1, y1) = [(float(a), float(b)) for a, b in nums[:2]]
    extra = [
        {"fid": 9001, "wkt": f"POINT ({x0} {y0})", "type": "corner"},
        {"fid": 9002, "wkt": f"POINT ({(x0 + x1) / 2} {(y0 + y1) / 2})",
         "type": "edge_mid"},
    ]
    pts = points.unionByName(
        FX.to_spark_layer(spark, extra, "fid long; wkt string; type string")
    )
    for query in (
        "intersects is True",
        "within is True",
        "touches is True",
        "coveredby is True",
        "intersects is False",
    ):
        fast = J.join_by_location(pts, zones, query)
        slow = J.join_by_location(pts, zones, query, broadcast_right=False)
        assert spark_pairs(fast) == spark_pairs(slow), query
