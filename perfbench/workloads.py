"""The benchmark's workloads: inputs, the timed job, its output check and
the layer probes of the traced run.

Each job is what one client request costs end to end: the operator call
plus consuming its result (a collect, or a parquet write as in the
reference's file-out contract), followed by ``release_caches()``.

The probes time calls into single layers. A traced run probes every
layer, on the inputs of both input families, so each per-layer metric is
measured on every workload; which layers a workload's own job uses shows
in the job's engine counters.
"""
from __future__ import annotations

import glob
import os
import statistics
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import inputs as I

# relative tolerance of the Monte-Carlo area checksums (their seed-to-seed
# spread measures about 3e-4)
AREA_RTOL = 5e-3
# layer probes run this many times in a traced run and the median is
# kept (two keep a traced run at about 80 s plus input generation)
PROBE_REPS = 2
# parcels in the driver-side kernel probes
SAMPLE = 5_000


def _median_time(fn, reps: int = PROBE_REPS) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    # the input family; workloads of one family share their inputs
    inputs = ""
    n = 0

    def __init__(self, seed: int, cache_dir: str, out_dir: str):
        self.seed = seed
        self.cache_dir = cache_dir
        self.out_dir = out_dir
        self.out = os.path.join(out_dir, self.name)

    @property
    def key(self) -> str:
        return f"{self.inputs}-n{self.n}-s{self.seed}"

    def prepare(self, procs: int) -> float:
        """Materialize (or reuse) the inputs; returns generation seconds."""
        self.dir, self.expected, gen_s = I.cached(self.cache_dir, self.key, lambda d: self.build(d, procs))
        return gen_s

    def finish(self, spark, result) -> dict:
        """End a job: note what it left persisted, then release it."""
        from geofileops_spark.cache import release_caches

        persisted = sum(
            r.memSize() + r.diskSize() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        )
        release_caches()
        return {"result": result, "persisted_bytes": persisted}


class PagesZones(Workload):
    """Common-Crawl-style pages -> geotag extract -> broadcast PIP join
    against five hotspot zones -> per-zone rollup, collected."""

    name = "pages_zones"
    inputs = "pages"
    n = 1_200_000
    rows = n

    def build(self, d, procs):
        I.write_pages(os.path.join(d, "pages"), self.seed, self.n, files=16, procs=procs)
        return {"zones": I.expected_zone_rollup(self.seed, self.n)}

    def register(self, spark):
        from geofileops_spark.sources.pages import synth_zones

        self.pages = spark.read.parquet(os.path.join(self.dir, "pages"))
        self.zones = synth_zones(spark).withColumnRenamed("fid", "zone_fid")

    def points(self):
        from geofileops_spark.sources.pages import extract_points

        return extract_points(self.pages, res=12, with_geom=False)

    def joined(self):
        from geofileops_spark.operators.join import join_points_in_polygons

        return join_points_in_polygons(
            self.points(), self.zones, x_col="lon", y_col="lat", poly_id_col="zone_fid"
        )

    def job(self, spark):
        out = self.joined().groupBy("zone_fid").agg(
            F.count("*").alias("n_pages"),
            F.min("lon").alias("minx"),
            F.max("lon").alias("maxx"),
            F.min("lat").alias("miny"),
            F.max("lat").alias("maxy"),
        )
        return self.finish(spark, sorted([list(r) for r in out.collect()]))

    def check(self, result) -> bool:
        return result["result"] == self.expected["zones"]

    def probes(self, spark, tracer) -> dict:
        """sources.pages and operators.join: the extract alone, then the
        extract plus the join, each written to the noop sink. The bytes the
        extract scans are what the JVM read during its call; the smallest
        of the calls is kept (a first call also reads classes)."""
        from spans import jvm_read_bytes

        scans = []
        for _ in range(PROBE_REPS):
            read0 = jvm_read_bytes(spark)
            with tracer.span("sources.extract"):
                _noop(self.points())
            scans.append(jvm_read_bytes(spark) - read0)
            with tracer.span("join.extract_join"):
                _noop(self.joined())
        extracted = self.points().count()
        matched = sum(z[1] for z in self.expected["zones"])
        extract_s = statistics.median(tracer.durations("sources.extract"))
        return {
            "sources.extract_s": extract_s,
            "sources.scan_bytes": float(min(scans)),
            "join.pip_s": statistics.median(tracer.durations("join.extract_join")) - extract_s,
            "join.match_ratio": matched / extracted,
        }


class Parcels(Workload):
    """Two seeded star-parcel layers (layer 1 offset half a cell)."""

    inputs = "parcels"
    n = 10_000

    def build(self, d, procs):
        s0, s1 = I.Stars(self.seed, self.n, 0), I.Stars(self.seed, self.n, 1)
        I.write_parcels(s0, os.path.join(d, "p0"), 0, files=8)
        I.write_parcels(s1, os.path.join(d, "p1"), self.n, files=8)
        return {"intersection": I.expected_intersection(s0, s1, self.seed),
                "dissolve": I.expected_dissolve(s0, self.seed),
                "layer_area": float(s0.areas().sum() + s1.areas().sum())}

    def register(self, spark):
        self.p0 = spark.read.parquet(os.path.join(self.dir, "p0"))
        self.p1 = spark.read.parquet(os.path.join(self.dir, "p1"))

    # The file-out contract: a job ends when its parquet is written; the
    # check reads it back, untimed.
    def intersection_job(self, spark, out: str) -> dict:
        from geofileops_spark.operators.overlay import intersection

        intersection(self.p0, self.p1).write.mode("overwrite").parquet(out)
        return self.finish(spark, out)

    def dissolve_job(self, spark, out: str) -> dict:
        from geofileops_spark.operators.dissolve import dissolve

        dissolve(
            self.p0, ["grp"],
            agg_columns={"columns": [{"column": "fid", "agg": "count", "as": "n"}]},
        ).write.mode("overwrite").parquet(out)
        return self.finish(spark, out)

    def intersection_ok(self, result) -> bool:
        t, e = pq.read_table(result["result"]), self.expected["intersection"]
        return e["rows_min"] <= t.num_rows <= e["rows_max"] and self.area_ok(t, e)

    def dissolve_ok(self, result) -> bool:
        t, e = pq.read_table(result["result"]), self.expected["dissolve"]
        n = t.column("n").to_pylist()
        return (t.num_rows == e["rows"] and sum(n) == e["count_sum"]
                and max(n) == e["count_max"] and self.area_ok(t, e))

    @staticmethod
    def area_ok(table, expected) -> bool:
        area = sum(I.wkb_area(b) for b in table.column("geom_wkb").to_pylist())
        return abs(area - expected["area"]) <= AREA_RTOL * expected["area"]

    def probes(self, spark, tracer) -> dict:
        """index, celljoin, geometry, functions.st, the overlay and the
        dissolve operators and the cache, on the parcel layers."""
        from geofileops_spark.functions.st import st_area
        from geofileops_spark.geometry import wkb
        from geofileops_spark.geometry.batchclip import batch_intersection
        from geofileops_spark.geometry.clip import union_geoms
        from geofileops_spark.index.cells import cover_geometry
        from geofileops_spark.operators.celljoin import candidate_pairs

        out = {}
        probe_dir = os.path.join(self.out_dir, "probe")
        for _ in range(PROBE_REPS):
            with tracer.span("overlay.intersection"):
                res = self.intersection_job(spark, os.path.join(probe_dir, "intersection"))
            if not self.intersection_ok(res):
                raise RuntimeError("intersection probe: wrong output")
        n_out = sum(pq.read_metadata(f).num_rows for f in glob.glob(os.path.join(res["result"], "*.parquet")))
        for _ in range(PROBE_REPS):
            with tracer.span("dissolve.dissolve"):
                res = self.dissolve_job(spark, os.path.join(probe_dir, "dissolve"))
            if not self.dissolve_ok(res):
                raise RuntimeError("dissolve probe: wrong output")
        out["cache.persisted_mb"] = res["persisted_bytes"] / 2**20
        areas = []
        for _ in range(PROBE_REPS):
            with tracer.span("st.area"):
                areas.append(self.p0.unionByName(self.p1)
                             .agg(F.sum(st_area("geom_wkb"))).first()[0])
        if abs(areas[-1] - self.expected["layer_area"]) > 1e-9 * self.expected["layer_area"]:
            raise RuntimeError("st_area probe: wrong output")
        counts = []
        for _ in range(PROBE_REPS):
            with tracer.span("celljoin.candidate_pairs"):
                pairs, cell_res = candidate_pairs(self.p0, self.p1)
                counts.append(pairs.count())
        out["overlay.intersection_s"] = statistics.median(tracer.durations("overlay.intersection"))
        out["dissolve.dissolve_s"] = statistics.median(tracer.durations("dissolve.dissolve"))
        out["celljoin.candidate_pairs_s"] = statistics.median(tracer.durations("celljoin.candidate_pairs"))
        out["celljoin.candidates"] = float(counts[0])
        out["celljoin.refine_ratio"] = n_out / counts[0]

        # driver-side kernels on a fixed seeded sample
        s0, s1 = I.Stars(self.seed, self.n, 0), I.Stars(self.seed, self.n, 1)
        blobs0, blobs1 = s0.wkb(), s1.wkb()
        idx = np.random.default_rng([self.seed, 3]).choice(self.n, min(SAMPLE, self.n), replace=False)
        sample = [blobs0[i] for i in idx]
        out["geometry.wkb_loads_s"] = _median_time(lambda: [wkb.loads(b) for b in sample])
        geoms = [wkb.loads(b) for b in sample]
        covers = []
        # one pass: the Python loop over the sample takes seconds, far above timer noise
        out["index.cover_s"] = _median_time(
            lambda: covers.append([len(cover_geometry(g, cell_res)) for g in geoms]), reps=1
        )
        out["index.cells_per_geom"] = float(np.mean(covers[0]))
        ia, ib = I._neighbours(s0, s1, [(-1, -1), (-1, 0), (0, -1), (0, 0)])
        pick = np.random.default_rng([self.seed, 4]).choice(len(ia), min(SAMPLE, len(ia)), replace=False)
        g1 = [wkb.loads(blobs0[i]) for i in ia[pick]]
        g2 = [wkb.loads(blobs1[j]) for j in ib[pick]]
        out["geometry.batch_intersection_s"] = _median_time(lambda: batch_intersection(g1, g2))
        # one full GRP_BLOCK x GRP_BLOCK dissolve group
        group = [wkb.loads(blobs0[i]) for i in np.flatnonzero(s0.grp == s0.grp[0])]
        out["geometry.union_s"] = _median_time(lambda: union_geoms(group))
        return out


class ParcelsOverlay(Parcels):
    """intersection(layer0, layer1) written to parquet."""

    name = "parcels_overlay"
    rows = 2 * Parcels.n

    def job(self, spark):
        return self.intersection_job(spark, self.out)

    def check(self, result) -> bool:
        return self.intersection_ok(result)


class ParcelsDissolve(Parcels):
    """dissolve(layer0, ["grp"]) with a count aggregate, written to parquet."""

    name = "parcels_dissolve"
    rows = Parcels.n

    def job(self, spark):
        return self.dissolve_job(spark, self.out)

    def check(self, result) -> bool:
        return self.dissolve_ok(result)


WORKLOADS = {w.name: w for w in (PagesZones, ParcelsOverlay, ParcelsDissolve)}
# one workload per input family: together their probes cover every layer
PROBED = (PagesZones, ParcelsOverlay)
