"""Common-Crawl-style pages table: deterministic synthesis + geotext
extraction (BASELINE.json input_hint).

Input shape: ``(url string, warc_ts timestamp, html binary, text string,
lang string)``. Geotagged locations are embedded in ``text`` as
``geo:<lat>,<lon>`` tokens; the extractor parses them **without ever
rewriting text** (byte-identical ``text`` per ``url`` is the hard
per-row invariant).

Synthesis is a pure function of the row id (splitmix64 bit-mixing), so
it is deterministic at any scale and generates distributed via
``spark.range`` — no driver-side materialization, no external data.
Skew is intentional: 80% of geotagged pages land in a few dense
clusters, exercising the hot-cell handling the north rule requires.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..functions.st import st_point

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)

# dense clusters (lon, lat, spread_deg, weight) — a few metro hotspots
CLUSTERS = [
    (4.35, 50.85, 0.5, 0.30),   # Brussels-ish
    (-74.0, 40.7, 0.4, 0.20),   # NYC-ish
    (139.7, 35.7, 0.4, 0.15),   # Tokyo-ish
    (2.35, 48.85, 0.3, 0.10),   # Paris-ish
    (-0.13, 51.5, 0.3, 0.05),   # London-ish
]
_BG_WEIGHT = 0.20
LANGS = ["en", "fr", "de", "nl", "ja", "es", "pt", "it"]
_WORDS = (
    "the quick brown fox jumps over lazy dog lorem ipsum dolor sit amet "
    "consectetur adipiscing elit sed do eiusmod tempor incididunt labore"
).split()


def _splitmix64(x: np.ndarray) -> np.ndarray:
    x = (x + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _u01(ids: np.ndarray, salt: int) -> np.ndarray:
    h = _splitmix64(ids.astype(np.uint64) ^ np.uint64(salt * 0x9E3779B9))
    return (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def _row_coords(ids: np.ndarray):
    """Deterministic (lon, lat, has_geo) per id."""
    u_sel = _u01(ids, 1)
    lon = np.empty(len(ids))
    lat = np.empty(len(ids))
    # background uniform
    lon[:] = _u01(ids, 2) * 360.0 - 180.0
    lat[:] = _u01(ids, 3) * 170.0 - 85.0
    acc = _BG_WEIGHT
    for ci, (clon, clat, spread, w) in enumerate(CLUSTERS):
        mask = (u_sel >= acc) & (u_sel < acc + w)
        n = int(mask.sum())
        if n:
            lon[mask] = clon + (_u01(ids[mask], 10 + ci) - 0.5) * 2 * spread
            lat[mask] = clat + (_u01(ids[mask], 20 + ci) - 0.5) * 2 * spread
        acc += w
    # every selected page has a geotag; 10% of pages have none
    has_geo = _u01(ids, 4) >= 0.10
    return np.round(lon, 6), np.round(lat, 6), has_geo


def _gen_batch(ids: np.ndarray) -> pd.DataFrame:
    lon, lat, has_geo = _row_coords(ids)
    lang_idx = (_u01(ids, 5) * len(LANGS)).astype(int)
    n_words = (_u01(ids, 6) * 30 + 10).astype(int)
    urls = [
        f"https://site{int(i) % 997}.example.com/page/{int(i)}" for i in ids
    ]
    ts = pd.to_datetime(
        1_500_000_000 + (ids.astype(np.int64) * 97) % 200_000_000, unit="s"
    )
    # vectorized word selection: column j of the (16, n) index matrix
    # reproduces the original per-row _u01(ids[k], 100+j) draw exactly
    nw = n_words % 12 + 4
    widx = np.stack(
        [(_u01(ids, 100 + j) * len(_WORDS)).astype(int) for j in range(16)]
    )
    warr = np.array(_WORDS)
    texts = []
    for k in range(len(ids)):
        body = " ".join(warr[widx[: nw[k], k]])
        if has_geo[k]:
            texts.append(f"{body} geo:{lat[k]:.6f},{lon[k]:.6f} {body}")
        else:
            texts.append(body)
    htmls = [f"<html><body>{t}</body></html>".encode() for t in texts]
    return pd.DataFrame(
        {
            "url": urls,
            "warc_ts": ts,
            "html": htmls,
            "text": texts,
            "lang": [LANGS[j] for j in lang_idx],
        }
    )


def synth_pages(spark: SparkSession, n_rows: int, partitions: int | None = None) -> DataFrame:
    """Deterministic pages table, generated distributed."""
    parts = partitions or max(8, spark.sparkContext.defaultParallelism)
    base = spark.range(0, n_rows, numPartitions=parts)

    def gen(iterator):
        for pdf in iterator:
            yield _gen_batch(pdf["id"].to_numpy())

    return base.mapInPandas(gen, schema=PAGES_SCHEMA)


GEO_RE = r"geo:(-?\d+\.\d+),(-?\d+\.\d+)"
GEO_RE_TOKEN = r"geo:(-?\d+\.\d+,-?\d+\.\d+)"


def extract_points(pages: DataFrame, res: int = 12, with_geom: bool = True) -> DataFrame:
    """pages -> points layer (url, fid, lon, lat[, geom_wkb], cell).

    The geotag parse is JVM-side ``regexp_extract`` (whole-stage codegen;
    no Python in the hot path) — only WKB encoding is a pandas UDF, and
    ``with_geom=False`` skips even that (zero Python runners in the
    extraction stage; downstream xy-native operators consume lon/lat
    directly). ``text`` is passed through untouched (byte-identical
    invariant). fid = xxhash64(url): stable, join-preserving row identity
    (SURVEY.md §1.2 fid mapping).
    """
    # cheap substring prefilter first, then ONE regex per row. The bare
    # formulation does NOT achieve one eval: filter pushdown substitutes
    # the token expression into every pushed predicate (`_t != ''` plus
    # the isnotnull constraints a downstream join infers), and the
    # measured plan evaluated regexp_extract up to 4x per row — ~40% of
    # the whole pages->zones rollup at 2 cores. Wrapping the token in a
    # value-identical CASE over spark_partition_id() marks the expression
    # nondeterministic, which Catalyst may not duplicate or push filters
    # through (guide §4.4, same trick as .asNondeterministic() for
    # UDFs): the plan then carries exactly one regexp_extract, and the
    # pushed-down predicates evaluate against the materialized token
    # column instead. Measured (16M pages, min-of-3 warm, local[2]):
    # full rollup 24.0 s -> 11.8 s. Cell id is pure JVM arithmetic
    # (cell_expr), so with_geom=False runs with ZERO Python.
    from ..operators.celljoin import cell_expr

    tok = F.when(
        F.spark_partition_id() >= 0,
        F.regexp_extract("text", GEO_RE_TOKEN, 1),
    )
    df = (
        pages.select("url", "text")
        .where(F.col("text").contains("geo:"))
        .select("url", tok.alias("_t"))
        .where(F.col("_t") != "")
        .select(
            "url",
            # substring_index, not split: split allocates a 2-element
            # array per row (and project-collapsing evaluates it once per
            # consumer) — on a bandwidth-ceilinged box every avoided
            # allocation is measurable at full width
            F.substring_index(F.col("_t"), ",", 1).cast("double").alias("lat"),
            F.substring_index(F.col("_t"), ",", -1).cast("double").alias("lon"),
        )
        .withColumn("fid", F.xxhash64(F.col("url")))
    )
    df = df.withColumn("cell", cell_expr(F.col("lon"), F.col("lat"), res))
    if with_geom:
        df = df.withColumn("geom_wkb", st_point(F.col("lon"), F.col("lat")))
        return df.select("url", "fid", "lon", "lat", "geom_wkb", "cell")
    return df.select("url", "fid", "lon", "lat", "cell")


def zones_wkt() -> list[tuple[int, str, str]]:
    """Five deterministic zone polygons over the cluster hotspots
    (fixture-twin of polygon-zone, FIXTURES.md §3)."""
    out = []
    for i, (clon, clat, spread, _w) in enumerate(CLUSTERS, start=1):
        s = spread * 1.2
        wkt = (
            f"POLYGON (({clon - s} {clat - s}, {clon + s} {clat - s}, "
            f"{clon + s} {clat + s}, {clon - s} {clat + s}, {clon - s} {clat - s}))"
        )
        out.append((i, f"zone_{i}", wkt))
    return out


def synth_zones(spark: SparkSession) -> DataFrame:
    """5-row zone dim table, WKB built driver-side.

    A driver-built LocalRelation (``session.local_frame``), not a
    pandas-UDF parse of the WKT: join_points_in_polygons collects the
    zone geometries to build its broadcast payload, and a UDF stage
    would run a Python-worker Spark job on every such collect. Here the
    collect is a driver-side read: no job, no task, no Python worker."""
    from ..geometry import wkb as _wkb
    from ..geometry.geom import Geometry
    from ..session import local_frame

    rows = []
    for i, (clon, clat, spread, _w) in enumerate(CLUSTERS, start=1):
        s = spread * 1.2
        blob = _wkb.dumps(Geometry.box(clon - s, clat - s, clon + s, clat + s))
        rows.append((i, f"zone_{i}", blob))
    return local_frame(spark, rows, "fid long, naam string, geom_wkb binary")
