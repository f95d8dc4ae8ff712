"""Synthetic parcel layers — the reference-comparable polygon workload.

The reference's published benchmark numbers are all measured on the
Flanders agricultural-parcel layers (~515k / ~521k irregular polygons,
``/root/reference/benchmark/results/benchmark_results.csv:76-96``).
This module synthesizes a workload of the same SHAPE so buffer /
dissolve / intersection / join_by_location can be benchmarked at the
same row count with reference-hard geometry:

- one concave "parcel" per grid cell: a star-shaped polygon around the
  jittered cell centre with 10..40 vertices and per-vertex radius noise
  (deterministic integer hashing — no RNG state, same output at any
  partitioning);
- ``layer=1`` is the same grid shifted by half a cell, so every parcel
  overlaps ~4 parcels of layer 0 — the all-pairs-local join/overlay
  pattern of two national parcel registrations;
- a ``grp`` column groups parcels into 16x16-cell blocks
  ("municipalities") for dissolve groupby.

Generation is distributed (mapInPandas over ``spark.range``) and is NOT
part of any timed benchmark — callers materialize the layers to parquet
once (:func:`materialize_parcels`), like the reference pre-builds its input
GeoPackage.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StructField,
    StructType,
)

from ..geometry import geom as G
from ..geometry import wkb as W

PARCEL_SCHEMA = StructType(
    [
        StructField("fid", LongType()),
        StructField("grp", LongType()),
        StructField("geom_wkb", BinaryType()),
    ]
)


def _u01(ids: np.ndarray, salt: int) -> np.ndarray:
    """Deterministic uniform [0,1) from int64 ids (splitmix-style)."""
    x = (ids.astype(np.uint64) + np.uint64(salt)) * np.uint64(0x9E3779B97F4A7C15)
    x ^= x >> np.uint64(29)
    x *= np.uint64(0xBF58476D1CE4E5B9)
    x ^= x >> np.uint64(32)
    return (x >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def synth_parcels(
    spark: SparkSession,
    n_rows: int,
    layer: int = 0,
    spacing: float = 100.0,
    partitions: int = 64,
) -> DataFrame:
    grid_w = int(np.ceil(np.sqrt(n_rows)))
    half = spacing / 2.0

    def _gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy(np.int64)
            gx = ids % grid_w
            gy = ids // grid_w
            cx = gx * spacing + half + (_u01(ids, 11 + layer) - 0.5) * 0.3 * spacing
            cy = gy * spacing + half + (_u01(ids, 23 + layer) - 0.5) * 0.3 * spacing
            if layer == 1:
                cx = cx + half
                cy = cy + half
            nv = (10 + (_u01(ids, 37 + layer) * 31).astype(np.int64)).astype(int)
            blobs = []
            for r in range(len(ids)):
                k = nv[r]
                j = np.arange(k, dtype=np.int64)
                theta = 2.0 * np.pi * j / k
                radius = half * (0.55 + 0.40 * _u01(ids[r] * 64 + j, 57 + layer))
                xs = cx[r] + radius * np.cos(theta)
                ys = cy[r] + radius * np.sin(theta)
                ring = np.empty((k + 1, 2), dtype=np.float64)
                ring[:k, 0] = xs
                ring[:k, 1] = ys
                ring[k] = ring[0]
                blobs.append(W.dumps(G.Geometry(G.POLYGON, [ring])))
            yield pd.DataFrame(
                {
                    "fid": ids,
                    "grp": (gx // 16) * 4096 + gy // 16,
                    "geom_wkb": blobs,
                }
            )

    return (
        spark.range(n_rows)
        .repartition(partitions)
        .mapInPandas(_gen, schema=PARCEL_SCHEMA)
    )


def materialize_parcels(
    spark: SparkSession, n_rows: int, layer: int, path: str, partitions: int = 64
) -> str:
    """Write the layer to parquet once (cached across bench runs)."""
    if not _complete(path):
        synth_parcels(spark, n_rows, layer, partitions=partitions).write.mode(
            "overwrite"
        ).parquet(path)
    return path


def _complete(path: str) -> bool:
    """A parquet dir counts as materialized only when its _SUCCESS marker
    exists — a bare exists() check mistakes the debris of an interrupted
    write for a finished one."""
    import os

    return os.path.exists(os.path.join(path, "_SUCCESS"))


def synth_complex_polys(
    spark: SparkSession,
    n_rows: int,
    n_multis: int = 3,
    parts_per_multi: int = 4,
    coords_per_ring: int = 300_000,
    spacing: float = 100.0,
) -> DataFrame:
    """The reference benchmark's "3 multipolys of 4 * 300k coords" layer
    (benchmark_results.csv:84: export_by_location_intersects_complexpoly,
    94.4 s on 12 cores): a few huge, very dense star-shaped rings spread
    over the parcel grid's extent. Deterministic (same integer-hash noise
    as :func:`synth_parcels`); built driver-side — the layer is 3 rows.
    ``n_rows`` is the PARCEL count whose grid extent the rings cover."""
    grid_w = int(np.ceil(np.sqrt(n_rows)))
    extent = grid_w * spacing
    rows = []
    # centers on a fixed coarse grid with pitch > 2 * max radius so the
    # member rings NEVER overlap: a multipolygon with overlapping members
    # is invalid geometry (the real Flanders complex polys are valid),
    # and overlapping subjects break the distributivity that lets
    # subdivide re-union parts exactly
    n_rings = n_multis * parts_per_multi
    cols = int(np.ceil(np.sqrt(n_rings)))
    rows_n = int(np.ceil(n_rings / cols))
    pitch_x = 0.8 / cols
    pitch_y = 0.8 / rows_n
    radius_frac = 0.45 * min(pitch_x, pitch_y)  # max rad factor is 1.0
    for mi in range(n_multis):
        polys = []
        for pi in range(parts_per_multi):
            k = mi * parts_per_multi + pi
            cx = extent * (0.1 + pitch_x * ((k % cols) + 0.5))
            cy = extent * (0.1 + pitch_y * ((k // cols) + 0.5))
            radius = extent * radius_frac
            j = np.arange(coords_per_ring, dtype=np.int64)
            theta = 2.0 * np.pi * j / coords_per_ring
            # SMOOTH radius variation (a few harmonics, deterministic
            # phases): adjacent vertices stay ~circumference/coords
            # apart like a real digitized boundary — independent
            # per-vertex noise would make every edge a ~0.3*radius
            # radial chord and the layer a 300k-spike star
            ph = _u01(np.int64(k) + np.arange(3), 307) * 2.0 * np.pi
            rad = radius * (
                0.80
                + 0.12 * np.sin(5.0 * theta + ph[0])
                + 0.05 * np.sin(11.0 * theta + ph[1])
                + 0.03 * np.sin(23.0 * theta + ph[2])
            )
            ring = np.empty((coords_per_ring + 1, 2), dtype=np.float64)
            ring[:coords_per_ring, 0] = cx + rad * np.cos(theta)
            ring[:coords_per_ring, 1] = cy + rad * np.sin(theta)
            ring[coords_per_ring] = ring[0]
            polys.append([ring])
        rows.append(
            (mi, 0, W.dumps(G.Geometry(G.MULTIPOLYGON, polys)))
        )
    return spark.createDataFrame(rows, schema=PARCEL_SCHEMA)

