"""Seeded synthetic inputs and the engine-independent answers to check
the benchmark jobs against.

Every input is a pure function of ``(input family, size, seed)`` and is
written to parquet under the cache directory once; a cache entry counts
only when its ``_SUCCESS`` marker exists, so the debris of an interrupted
write is regenerated instead of read. The cache keeps the CACHE_KEEP
most recently used entries. Generation time is reported on its own and
never enters ``setup_s``.

The expected answers are computed here with numpy straight from the
generator's coordinates, without Spark and without the geometry code of
``geofileops_spark``:

- pages: a per-zone recount of the geotagged points (count and bounds);
- parcels: exact pair / group counts from star-polygon geometry, and the
  area checksum by exact shoelace areas plus a seeded Monte-Carlo
  estimate of the pairwise overlap areas.
"""
from __future__ import annotations

import json
import multiprocessing
import os
import shutil
import struct
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SPACING = 100.0
MIN_VERTS, MAX_VERTS = 10, 40
# the dissolve groups are GRP_BLOCK x GRP_BLOCK grid blocks
GRP_BLOCK = 16
# stratified Monte-Carlo samples per overlapping pair (MC_SIDE x MC_SIDE
# jittered grid over the pair's bbox intersection)
MC_SIDE = 12
MC_SAMPLES = MC_SIDE * MC_SIDE
# overlap depth below which a pair's intersection counts as a sliver
SLIVER = 1e-4 * SPACING
_PAGE_ID_STRIDE = 1 << 32
# input sets kept in the cache (a pages set takes about 130 MB)
CACHE_KEEP = 4


# ------------------------------------------------------------ cache
def cached(cache_dir: str, key: str, build) -> tuple[str, dict, float]:
    """Return ``(entry_dir, expected, gen_s)`` for a cache entry.

    ``build(entry_dir)`` writes the inputs into ``entry_dir`` and returns
    the expected answers (JSON-able); ``gen_s`` is 0.0 on a cache hit."""
    entry = os.path.join(cache_dir, key)
    marker = os.path.join(entry, "_SUCCESS")
    if os.path.exists(marker):
        os.utime(entry)
        with open(os.path.join(entry, "expected.json")) as f:
            return entry, json.load(f), 0.0
    t0 = time.perf_counter()
    os.makedirs(cache_dir, exist_ok=True)
    older = sorted((os.path.join(cache_dir, e) for e in os.listdir(cache_dir)), key=os.path.getmtime)
    for old in older[:max(0, len(older) - CACHE_KEEP + 1)] + [entry]:
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(entry)
    expected = build(entry)
    with open(os.path.join(entry, "expected.json"), "w") as f:
        json.dump(expected, f)
    open(marker, "w").close()
    # write the new files back now: runs on fresh inputs were ~40 % slower
    # while the write-back overlapped their set-ups and jobs
    os.sync()
    return entry, expected, time.perf_counter() - t0


# ------------------------------------------------------------ pages
def page_ids(seed: int, n: int) -> np.ndarray:
    """Row ids of the seeded pages table: a seed-selected window of the
    generator's id space (the pages generator is a pure function of id)."""
    start = (seed % (1 << 20) + 1) * _PAGE_ID_STRIDE
    return np.arange(start, start + n, dtype=np.int64)


def write_pages(path: str, seed: int, n: int, files: int, procs: int) -> None:
    """The pages table of ``sources.pages`` over the seeded id window, one
    parquet file per id chunk, written by ``procs`` worker processes."""
    os.makedirs(path)
    chunks = np.array_split(page_ids(seed, n), files)
    jobs = [(os.path.join(path, f"part-{i:05d}.parquet"), int(c[0]), len(c))
            for i, c in enumerate(chunks)]
    with multiprocessing.get_context("spawn").Pool(procs) as pool:
        pool.starmap(_write_pages_file, jobs)
    open(os.path.join(path, "_SUCCESS"), "w").close()


def _write_pages_file(path: str, start: int, n: int) -> None:
    from geofileops_spark.sources.pages import _gen_batch

    df = _gen_batch(np.arange(start, start + n, dtype=np.int64))
    # microsecond timestamps: Spark does not read parquet nanosecond ones
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path,
                   coerce_timestamps="us", allow_truncated_timestamps=True)


def expected_zone_rollup(seed: int, n: int) -> list[list]:
    """Per zone ``[zone_fid, n_pages, minx, maxx, miny, maxy]`` recounted
    from the generator's coordinates; zones are the closed boxes of
    ``sources.pages.zones_wkt``."""
    from geofileops_spark.sources.pages import CLUSTERS, _row_coords

    lon, lat, has_geo = _row_coords(page_ids(seed, n))
    lon, lat = lon[has_geo], lat[has_geo]
    out = []
    for zid, (clon, clat, spread, _w) in enumerate(CLUSTERS, start=1):
        s = spread * 1.2
        m = (lon >= clon - s) & (lon <= clon + s) & (lat >= clat - s) & (lat <= clat + s)
        if m.any():
            out.append([zid, int(m.sum()), float(lon[m].min()), float(lon[m].max()),
                        float(lat[m].min()), float(lat[m].max())])
    return out


# ------------------------------------------------------------ parcels
class Stars:
    """One layer of star-shaped parcels on a jittered grid, the polygon
    shape of ``sources.parcels``: vertex j of parcel i sits at angle
    ``2*pi*j/k_i`` and radius ``r[i, j]`` around ``(cx[i], cy[i])``.
    Layer 1 is shifted by half a cell, so each parcel overlaps about four
    parcels of the other layer."""

    def __init__(self, seed: int, n: int, layer: int):
        rng = np.random.default_rng([seed, layer])
        self.n = n
        self.grid_w = int(np.ceil(np.sqrt(n)))
        ids = np.arange(n, dtype=np.int64)
        self.gx, self.gy = ids % self.grid_w, ids // self.grid_w
        half = SPACING / 2.0
        shift = half * (1 + layer)
        self.cx = self.gx * SPACING + shift + (rng.random(n) - 0.5) * 0.3 * SPACING
        self.cy = self.gy * SPACING + shift + (rng.random(n) - 0.5) * 0.3 * SPACING
        self.k = rng.integers(MIN_VERTS, MAX_VERTS + 1, size=n)
        # radii padded to MAX_VERTS; only the first k[i] are used
        self.r = half * (0.55 + 0.40 * rng.random((n, MAX_VERTS)))
        j = np.arange(MAX_VERTS)
        theta = 2.0 * np.pi * j[None, :] / self.k[:, None]
        self.vx = self.cx[:, None] + self.r * np.cos(theta)
        self.vy = self.cy[:, None] + self.r * np.sin(theta)
        valid = j[None, :] < self.k[:, None]
        # bbox over the used vertices
        self.minx = np.where(valid, self.vx, np.inf).min(1)
        self.maxx = np.where(valid, self.vx, -np.inf).max(1)
        self.miny = np.where(valid, self.vy, np.inf).min(1)
        self.maxy = np.where(valid, self.vy, -np.inf).max(1)
        self.grp = (self.gx // GRP_BLOCK) * 4096 + self.gy // GRP_BLOCK

    def areas(self) -> np.ndarray:
        """Exact shoelace areas (the polygons are star-shaped, so the
        area is the sum of the k centre triangles)."""
        nxt = (np.arange(MAX_VERTS)[None, :] + 1) % self.k[:, None]
        rows = np.arange(self.n)[:, None]
        x0 = self.vx - self.cx[:, None]
        y0 = self.vy - self.cy[:, None]
        x1, y1 = x0[rows, nxt], y0[rows, nxt]
        tri = 0.5 * (x0 * y1 - x1 * y0)
        return np.where(np.arange(MAX_VERTS)[None, :] < self.k[:, None], tri, 0.0).sum(1)

    def wkb(self) -> list[bytes]:
        """Little-endian WKB polygons, one closed ring each."""
        out = []
        for i in range(self.n):
            k = int(self.k[i])
            ring = np.empty((k + 1, 2))
            ring[:k, 0] = self.vx[i, :k]
            ring[:k, 1] = self.vy[i, :k]
            ring[k] = ring[0]
            out.append(struct.pack("<BIII", 1, 3, 1, k + 1) + ring.tobytes())
        return out

    def contains(self, idx: np.ndarray, px: np.ndarray, py: np.ndarray,
                 margin: float = 0.0) -> np.ndarray:
        """Point-in-parcel for parcel ``idx[m]`` and point m: the point is
        inside iff it lies left of the edge of its angular sector (each
        sector triangle contains the centre), by more than ``margin``."""
        k = self.k[idx]
        phi = np.arctan2(py - self.cy[idx], px - self.cx[idx]) % (2.0 * np.pi)
        j0 = np.minimum((phi * k / (2.0 * np.pi)).astype(np.int64), k - 1)
        j1 = (j0 + 1) % k
        ax, ay = self.vx[idx, j0], self.vy[idx, j0]
        bx, by = self.vx[idx, j1], self.vy[idx, j1]
        return (bx - ax) * (py - ay) - (by - ay) * (px - ax) > margin * np.hypot(bx - ax, by - ay)

    def edges(self, idx: np.ndarray):
        """(x0, y0, x1, y1) of every edge, padded to MAX_VERTS by
        repeating the closing edge (a repeated edge adds no crossing)."""
        j = np.arange(MAX_VERTS)[None, :]
        k = self.k[idx][:, None]
        j0 = np.minimum(j, k - 1)
        j1 = (j0 + 1) % k
        rows = idx[:, None]
        return self.vx[rows, j0], self.vy[rows, j0], self.vx[rows, j1], self.vy[rows, j1]


def write_parcels(stars: Stars, path: str, fid_base: int, files: int) -> None:
    os.makedirs(path, exist_ok=True)
    table = pa.table(
        {
            "fid": pa.array(np.arange(stars.n, dtype=np.int64) + fid_base, pa.int64()),
            "grp": pa.array(stars.grp, pa.int64()),
            "geom_wkb": pa.array(stars.wkb(), pa.binary()),
        }
    )
    per = -(-stars.n // files)
    for f in range(files):
        pq.write_table(table.slice(f * per, per), os.path.join(path, f"part-{f:05d}.parquet"))
    open(os.path.join(path, "_SUCCESS"), "w").close()


def _any_vertex_inside(a: Stars, ia: np.ndarray, b: Stars, ib: np.ndarray,
                       margin: float) -> np.ndarray:
    """Per pair: some vertex of a[ia] lies inside b[ib] by more than margin."""
    hit = np.zeros(len(ia), dtype=bool)
    for j in range(MAX_VERTS):
        m = j < a.k[ia]
        hit[m] |= b.contains(ib[m], a.vx[ia[m], j], a.vy[ia[m], j], margin)
    return hit


def _edges_cross(a: Stars, ia: np.ndarray, b: Stars, ib: np.ndarray,
                 margin: float) -> np.ndarray:
    """Per pair: some edge of a[ia] crosses some edge of b[ib], with every
    endpoint more than margin off the other edge's line."""
    out = np.zeros(len(ia), dtype=bool)
    step = 2048
    for s in range(0, len(ia), step):
        ax0, ay0, ax1, ay1 = (e[:, :, None] for e in a.edges(ia[s:s + step]))
        bx0, by0, bx1, by1 = (e[:, None, :] for e in b.edges(ib[s:s + step]))

        def side(px, py, qx, qy, rx, ry):
            """+1 / -1 when r is more than margin left / right of p->q."""
            d = ((qx - px) * (ry - py) - (qy - py) * (rx - px)) / np.hypot(qx - px, qy - py)
            return (d > margin).astype(np.int8) - (d < -margin).astype(np.int8)

        o1 = side(ax0, ay0, ax1, ay1, bx0, by0)
        o2 = side(ax0, ay0, ax1, ay1, bx1, by1)
        o3 = side(bx0, by0, bx1, by1, ax0, ay0)
        o4 = side(bx0, by0, bx1, by1, ax1, ay1)
        cross = (o1 * o2 < 0) & (o3 * o4 < 0)
        out[s:s + step] = cross.any(axis=(1, 2))
    return out


def overlapping_pairs(a: Stars, ia: np.ndarray, b: Stars, ib: np.ndarray,
                      margin: float = 0.0) -> np.ndarray:
    """Mask of the candidate pairs whose interiors intersect: a vertex of
    one inside the other, or two edges properly crossing. With margin 0
    this is exact for polygons in general position (random coordinates
    make touching boundaries a probability-zero event); with a margin it
    keeps only the pairs that overlap by more than that depth."""
    box = (a.minx[ia] < b.maxx[ib]) & (b.minx[ib] < a.maxx[ia]) & (
        a.miny[ia] < b.maxy[ib]) & (b.miny[ib] < a.maxy[ia])
    hit = np.zeros(len(ia), dtype=bool)
    c = np.flatnonzero(box)
    hit[c] = (_any_vertex_inside(a, ia[c], b, ib[c], margin)
              | _any_vertex_inside(b, ib[c], a, ia[c], margin))
    rest = c[~hit[c]]
    # circumscribed circles must meet for any edge pair to cross
    reach = a.r[ia[rest]].max(1) + b.r[ib[rest]].max(1)
    rest = rest[np.hypot(a.cx[ia[rest]] - b.cx[ib[rest]], a.cy[ia[rest]] - b.cy[ib[rest]]) < reach]
    hit[rest] = _edges_cross(a, ia[rest], b, ib[rest], margin)
    return hit


def overlap_area(a: Stars, ia: np.ndarray, b: Stars, ib: np.ndarray, seed: int) -> float:
    """Monte-Carlo estimate of sum(area(a[ia] & b[ib])) over the pairs:
    one seeded point per cell of an MC_SIDE x MC_SIDE grid over each
    pair's bbox intersection."""
    rng = np.random.default_rng([seed, 7])
    x0 = np.maximum(a.minx[ia], b.minx[ib])
    x1 = np.minimum(a.maxx[ia], b.maxx[ib])
    y0 = np.maximum(a.miny[ia], b.miny[ib])
    y1 = np.minimum(a.maxy[ia], b.maxy[ib])
    cell = np.arange(MC_SAMPLES)
    gu, gv = (cell % MC_SIDE)[None, :], (cell // MC_SIDE)[None, :]
    total = 0.0
    step = 4096
    for s in range(0, len(ia), step):
        sl = slice(s, s + step)
        m = len(ia[sl])
        u = (gu + rng.random((m, MC_SAMPLES))) / MC_SIDE
        v = (gv + rng.random((m, MC_SAMPLES))) / MC_SIDE
        px = (x0[sl, None] + u * (x1 - x0)[sl, None]).ravel()
        py = (y0[sl, None] + v * (y1 - y0)[sl, None]).ravel()
        pa_ = np.repeat(ia[sl], MC_SAMPLES)
        pb_ = np.repeat(ib[sl], MC_SAMPLES)
        both = (a.contains(pa_, px, py) & b.contains(pb_, px, py)).reshape(m, MC_SAMPLES)
        total += float((both.mean(1) * (x1 - x0)[sl] * (y1 - y0)[sl]).sum())
    return total


def _neighbours(a: Stars, b: Stars, offsets) -> tuple[np.ndarray, np.ndarray]:
    """All (i in a, j in b) with b's grid cell at a's cell + offset."""
    ia, ib = [], []
    for dx, dy in offsets:
        gx, gy = a.gx + dx, a.gy + dy
        j = gy * b.grid_w + gx
        ok = (gx >= 0) & (gx < b.grid_w) & (gy >= 0) & (j < b.n)
        ia.append(np.flatnonzero(ok))
        ib.append(j[ok])
    return np.concatenate(ia), np.concatenate(ib)


def expected_intersection(s0: Stars, s1: Stars, seed: int) -> dict:
    """Row-count range and area checksum of ``intersection(layer0,
    layer1)``. A layer-1 parcel sits half a cell up-right of its grid
    cell, so only the four cells (-1|0, -1|0) can reach a layer-0 parcel.
    Pairs overlapping by less than SLIVER may be dropped by a clipper's
    tolerance, so they bound the row count from above only."""
    ia, ib = _neighbours(s0, s1, [(-1, -1), (-1, 0), (0, -1), (0, 0)])
    hit = overlapping_pairs(s0, ia, s1, ib)
    sure = hit.copy()
    sure[hit] = overlapping_pairs(s0, ia[hit], s1, ib[hit], margin=SLIVER)
    return {"rows_min": int(sure.sum()), "rows_max": int(hit.sum()),
            "area": overlap_area(s0, ia[hit], s1, ib[hit], seed)}


def expected_dissolve(s0: Stars, seed: int) -> dict:
    """Groups, per-group counts and area checksum of ``dissolve(layer0,
    ["grp"])``. Only 4-neighbours can overlap (diagonal centres are at
    least 99 apart, radii at most 47.5), so no point is covered three
    times and the union area is the area sum minus the pair overlaps."""
    ia, ib = _neighbours(s0, s0, [(1, 0), (0, 1)])
    same = s0.grp[ia] == s0.grp[ib]
    ia, ib = ia[same], ib[same]
    hit = overlapping_pairs(s0, ia, s0, ib)
    area = float(s0.areas().sum()) - overlap_area(s0, ia[hit], s0, ib[hit], seed)
    grps, counts = np.unique(s0.grp, return_counts=True)
    return {"rows": int(len(grps)), "count_sum": int(counts.sum()),
            "count_max": int(counts.max()), "area": area}


# ------------------------------------------------------------ WKB checks
def wkb_area(buf: bytes) -> float:
    """Area of a little- or big-endian WKB (Multi)Polygon or collection
    of them, parsed here without the program's geometry code."""
    return _wkb_area(memoryview(buf), 0)[0]


def _wkb_area(mv: memoryview, off: int) -> tuple[float, int]:
    bo = "<" if mv[off] == 1 else ">"
    (typ,) = struct.unpack_from(bo + "I", mv, off + 1)
    off += 5
    typ %= 1000
    if typ == 3:
        (nrings,) = struct.unpack_from(bo + "I", mv, off)
        off += 4
        area = 0.0
        for r in range(nrings):
            (npts,) = struct.unpack_from(bo + "I", mv, off)
            off += 4
            xy = np.frombuffer(mv, dtype=bo + "f8", count=2 * npts, offset=off).reshape(-1, 2)
            off += 16 * npts
            x, y = xy[:, 0] - xy[0, 0], xy[:, 1] - xy[0, 1]
            ring = 0.5 * abs(float(np.dot(x[:-1], y[1:]) - np.dot(x[1:], y[:-1])))
            area += ring if r == 0 else -ring
        return area, off
    if typ in (6, 7):
        (nparts,) = struct.unpack_from(bo + "I", mv, off)
        off += 4
        area = 0.0
        for _ in range(nparts):
            a, off = _wkb_area(mv, off)
            area += a
        return area, off
    raise ValueError(f"unexpected WKB type {typ} in an areal result")
