"""Broadcast-grid pairing: the Spark twin of the reference's per-worker
rtree, and the one place that decides when to use it.

geofileops pairs two layers by letting every worker process hold layer
2's rtree and probe it (``_geoops_sql.py:2185-2342``). Here the small
side is collected once, grid-indexed on the driver and broadcast; the
other side streams through one ``mapInPandas`` that asks the grid for
bbox-overlap candidates. Every operator that pairs this way goes
through this module:

- :class:`Index` is the broadcast value: a flat sorted grid over the
  build rows' bboxes, optionally with their WKBs packed into one buffer
  and their ids;
- :func:`build` collects, indexes and broadcasts layer 2 of a pairwise
  operator, reusing the broadcast for repeat calls on the same plan;
- :func:`broadcast` is the one ``sparkContext.broadcast`` of the
  pairing paths; ``cache.release_caches()`` releases everything it made;
- :class:`Probe` is the per-task side: candidates for a batch of stream
  bboxes and a decode cache over the build geometries;
- :func:`choose` decides between the broadcast shapes and the
  distributed cell join from one byte budget, ``GFO_BROADCAST_BYTES``.
"""

from __future__ import annotations

import logging
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, StructField, StructType

from .. import cache
from ..geometry import kernels as K
from ..geometry import wkb as W

_log = logging.getLogger(__name__)

# Bytes of a raw layer scan that may be collected on the driver and
# broadcast to every executor. The per-shape limits in choose() are
# fixed shares of it.
BROADCAST_BYTES = int(os.environ.get("GFO_BROADCAST_BYTES", str(256 << 20)))
# Rows of a broadcast side: a byte budget alone under-guards point
# layers (tiny rows), and the driver-side grid build is O(rows).
MAX_ROWS = 4_000_000
# Partitions per core for the reverse combine's kernel rows (see
# overlay.difference).
REVERSE_SPREAD = 16


# ------------------------------------------------------------- decision
@dataclass(frozen=True)
class Decision:
    """Which pairing plan an operator call takes, and why.

    ``path`` is ``broadcast`` (layer 2 broadcast, layer 1 streamed),
    ``forward`` / ``reverse`` (the blade-combine broadcast of layer 2 /
    of the subjects' bboxes) or ``cell`` (the distributed cell join).
    ``scan_bytes`` and ``rows`` describe the side the path broadcasts
    (``rows`` is None when no count was needed)."""

    path: str
    scan_bytes: int | None
    rows: int | None
    budget: int
    reason: str


def scan_size_bytes(df: DataFrame):
    """Catalyst's size estimate of the UN-transformed plan (for a parquet
    scan this is file-size based — unlike post-UDF/explode estimates,
    which misjudge wildly on this engine's plans). None when unavailable."""
    try:
        jstats = df._jdf.queryExecution().optimizedPlan().stats()
        return int(str(jstats.sizeInBytes()))
    except Exception:  # pragma: no cover - py4j detail
        return None


def choose(shape: str, build: DataFrame, stream: DataFrame | None = None) -> Decision:
    """Pick the pairing plan of one operator call from the raw scan size
    of ``build`` (the side a broadcast would collect) and, for
    ``combine``, of ``stream``. Shapes:

    - ``pairs``: layer 2 is grid-indexed and probed by layer 1 (the
      location joins, the overlay pairs). Broadcast when it scans within
      the budget and has at most ``MAX_ROWS`` rows.
    - ``knn``: every task scans all of layer 2 (join_nearest), so it
      gets an eighth of the budget and half the rows.
    - ``sphere``: the haversine probe of export_by_distance has no cell
      path; only the row count guards the driver collect, and ``cell``
      means the caller must refuse.
    - ``combine``: difference/clip. ``reverse`` broadcasts the subjects'
      bboxes when they scan at most a quarter of the blades and within
      the budget; ``forward`` broadcasts the blades when they fit a
      quarter of the budget and scan at most a quarter of the subjects
      (or fit a sixteenth of it outright); otherwise ``cell``.

    Only ``pairs`` and ``knn`` count rows, and only once the bytes fit:
    Catalyst sizes UDF-built binary columns at ~100 B/row, so the count
    keeps a byte misestimate from collecting a huge layer."""
    budget = BROADCAST_BYTES
    s2 = scan_size_bytes(build)
    if shape == "sphere":
        rows = build.count()
        ok = rows <= MAX_ROWS // 2
        d = Decision(
            "broadcast" if ok else "cell", s2, rows, budget,
            f"{rows} rows {'<=' if ok else '>'} {MAX_ROWS // 2}",
        )
    elif shape == "combine":
        s1 = scan_size_bytes(stream)
        sizes = f"subjects {s1} B, blades {s2} B"
        if s1 is None or s2 is None or s1 <= 0 or s2 <= 0:
            d = Decision("cell", s2, None, budget, f"no size estimate ({sizes})")
        elif s1 * 4 <= s2 and s1 <= budget:
            d = Decision("reverse", s1, None, budget, f"few subjects ({sizes})")
        elif s2 <= budget // 4 and (s2 * 4 <= s1 or s2 <= budget // 16):
            d = Decision("forward", s2, None, budget, f"small blades ({sizes})")
        else:
            d = Decision("cell", s2, None, budget, f"comparable sizes ({sizes})")
    elif shape in ("pairs", "knn"):
        byte_cap, row_cap = (
            (budget, MAX_ROWS) if shape == "pairs" else (budget // 8, MAX_ROWS // 2)
        )
        if s2 is None or s2 <= 0:
            d = Decision("cell", s2, None, budget, "no size estimate")
        elif s2 > byte_cap:
            d = Decision("cell", s2, None, budget, f"{s2} B > {byte_cap} B")
        else:
            rows = build.count()
            if rows > row_cap:
                d = Decision("cell", s2, rows, budget, f"{rows} rows > {row_cap}")
            else:
                d = Decision(
                    "broadcast", s2, rows, budget, f"{s2} B <= {byte_cap} B"
                )
    else:
        raise ValueError(f"unknown pairing shape: {shape!r}")
    _log.debug("pairing %s: %s", shape, d)
    return d


# ------------------------------------------------------------ grid index
_BOUNDS_SCHEMA = StructType(
    [StructField(n, DoubleType()) for n in ("minx", "miny", "maxx", "maxy")]
)


@pandas_udf(_BOUNDS_SCHEMA)
def _bounds_udf(wkb: pd.Series) -> pd.DataFrame:
    # whole-batch vectorized decode (bit-identical to per-row
    # loads+bounds; corrupt rows yield NaN like before)
    bb = W.bounds_from_wkb_batch(wkb.tolist())
    return pd.DataFrame(
        {"minx": bb[:, 0], "miny": bb[:, 1], "maxx": bb[:, 2],
         "maxy": bb[:, 3]}
    )


_bounds_udf = _bounds_udf.asNondeterministic()


def _grid_index(bb: np.ndarray, cellsz: float, gx0: float, gy0: float,
                cap: int = 4096):
    """Flat sorted grid index over bboxes, built with pure numpy (no
    per-row Python): returns (ukey, starts, ends, srow, big_rows). Rows
    whose cover would exceed ``cap`` cells go to the ``big_rows``
    always-check list instead of flooding the grid."""
    ix0 = np.floor((bb[:, 0] - gx0) / cellsz).astype(np.int64)
    iy0 = np.floor((bb[:, 1] - gy0) / cellsz).astype(np.int64)
    ix1 = np.floor((bb[:, 2] - gx0) / cellsz).astype(np.int64)
    iy1 = np.floor((bb[:, 3] - gy0) / cellsz).astype(np.int64)
    w = ix1 - ix0 + 1
    h = iy1 - iy0 + 1
    counts = w * h
    big = counts > cap
    small = ~big
    rows = np.nonzero(small)[0]
    counts = counts[small]
    total = int(counts.sum())
    row_ids = np.repeat(rows, counts)
    block_start = np.concatenate(([0], np.cumsum(counts)[:-1]))
    offs = np.arange(total, dtype=np.int64) - np.repeat(block_start, counts)
    wrep = np.repeat(w[small], counts)
    cx = np.repeat(ix0[small], counts) + offs % wrep
    cy = np.repeat(iy0[small], counts) + offs // wrep
    key = cx * np.int64(1) * (np.int64(1) << np.int64(32)) + cy
    order = np.argsort(key, kind="stable")
    skey = key[order]
    srow = row_ids[order]
    ukey, starts = np.unique(skey, return_index=True)
    ends = np.concatenate((starts[1:], [len(skey)]))
    return ukey, starts, ends, srow, np.nonzero(big)[0]


def _flat_ranges(lo: np.ndarray, hi: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Flatten many [lo_i, hi_i) integer ranges into one array plus the
    owning range's index per element — pure numpy (the repeat/arange
    trick used throughout the batched kernels)."""
    counts = np.maximum(hi - lo, 0)
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    start = np.concatenate(([0], np.cumsum(counts)[:-1]))
    owner = np.repeat(np.arange(len(lo), dtype=np.int64), counts)
    vals = np.arange(total, dtype=np.int64) - np.repeat(start, counts) + np.repeat(lo, counts)
    return vals, owner


def _batch_candidates(B: np.ndarray, ukey, starts, ends, srow, big_rows,
                      cellsz: float, gx0: float, gy0: float,
                      bbv: np.ndarray):
    """Bbox-overlap candidate (row, l2) pairs for a WHOLE batch of probe
    bboxes ``B`` (n, 4; NaN rows skipped) against the broadcast grid —
    fully vectorized (no per-row searchsorted/unique/concat calls).
    Returns (pair_rows, pair_l2), deduped, bbox-filtered, sorted by row.
    """
    alive = np.isfinite(B[:, 0])
    rows = np.nonzero(alive)[0]
    if len(rows) == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    kx0 = np.floor((B[rows, 0] - gx0) / cellsz).astype(np.int64)
    ky0 = np.floor((B[rows, 1] - gy0) / cellsz).astype(np.int64)
    kx1 = np.floor((B[rows, 2] - gx0) / cellsz).astype(np.int64)
    ky1 = np.floor((B[rows, 3] - gy0) / cellsz).astype(np.int64)
    # flatten (row, kx) pairs
    kxs, owner = _flat_ranges(kx0, kx1 + 1)
    shift = np.int64(1) << np.int64(32)
    base = kxs * shift
    lo = np.searchsorted(ukey, base + ky0[owner])
    hi = np.searchsorted(ukey, base + ky1[owner], side="right")
    # flatten matched grid-cell positions
    ps, cell_owner = _flat_ranges(lo, hi)
    row_of_cell = owner[cell_owner]
    # flatten each cell's stored row slice
    ent, ent_owner = _flat_ranges(starts[ps], ends[ps])
    pr = rows[row_of_cell[ent_owner]]
    pl = srow[ent]
    if len(big_rows):
        big_pr = np.repeat(rows, len(big_rows))
        big_pl = np.tile(big_rows, len(rows))
        pr = np.concatenate((pr, big_pr))
        pl = np.concatenate((pl, big_pl))
    if len(pr) == 0:
        return pr, pl
    # dedup (row, l2) pairs spanning several cells
    key = pr * np.int64(len(bbv) + 1) + pl
    key = np.unique(key)
    pr = key // np.int64(len(bbv) + 1)
    pl = key % np.int64(len(bbv) + 1)
    # exact bbox-overlap filter
    m = (
        (bbv[pl, 0] <= B[pr, 2])
        & (bbv[pl, 2] >= B[pr, 0])
        & (bbv[pl, 1] <= B[pr, 3])
        & (bbv[pl, 3] >= B[pr, 1])
    )
    return pr[m], pl[m]


class Index:
    """The broadcast value: a grid over ``bb`` (n, 4 finite bboxes), the
    build rows' WKBs packed into one buffer (optional) and their ids
    (optional, aligned to ``bb``).

    The grid cell is ``per_extent`` median bbox extents (``span /
    point_cells`` for point sides), floored so an axis has at most ~4k
    cells. WKBs travel as ONE bytes buffer + offsets: unpickling a
    single blob is a memcpy, while 500k separate bytes objects cost
    seconds per Python worker (measured 55 s cold vs 13 s warm)."""

    def __init__(self, bb: np.ndarray, wkbs=None, ids=None,
                 per_extent: float = 2.0, point_cells: int = 4096):
        bb = np.ascontiguousarray(bb, dtype=np.float64)
        ext = np.maximum(bb[:, 2] - bb[:, 0], bb[:, 3] - bb[:, 1])
        med = float(np.median(ext))
        span = max(
            float(bb[:, 2].max() - bb[:, 0].min()),
            float(bb[:, 3].max() - bb[:, 1].min()),
            1e-9,
        )
        self.cellsz = max(
            per_extent * med if med > 0 else span / point_cells, span / 4096.0
        )
        self.x0 = float(bb[:, 0].min())
        self.y0 = float(bb[:, 1].min())
        self.grid = _grid_index(bb, self.cellsz, self.x0, self.y0)
        self.bb = bb
        self.ids = ids
        self.buf = self.offs = None
        if wkbs is not None:
            lens = np.fromiter(
                (len(w) for w in wkbs), dtype=np.int64, count=len(wkbs)
            )
            self.offs = np.concatenate(([0], np.cumsum(lens)))
            self.buf = b"".join(bytes(w) for w in wkbs)


# ------------------------------------------------------------ broadcasts
def broadcast(spark, value):
    """Broadcast ``value``; :func:`cache.release_caches` unpersists it."""
    bc = spark.sparkContext.broadcast(value)
    cache.track_release(bc.unpersist)
    return bc


# one (layer-2 plan, geom col, id col) -> built grid broadcast; repeat
# probes of the same layer (common: several export/extract calls
# against one registry) skip the collect+index+broadcast build (~60% of
# a warm call at 500k rows). Released via cache.release_caches().
_GRID_CACHE: dict = {}


def build(df: DataFrame, geom_col: str, id_col: str | None = None):
    """Collect, grid-index and broadcast layer 2 (or reuse the broadcast
    of the same plan). Returns the Broadcast of an :class:`Index` with
    WKBs, or None when layer 2 has no valid geometry. With ``id_col``
    the index carries the int64 ids (the pairs paths attach layer-2
    attributes by them); a NULL id also returns None, so the caller
    takes the distributed plan."""
    try:
        key = (df.semanticHash(), geom_col, id_col)
    except Exception:  # pragma: no cover - exotic plans
        key = None
    if key is not None and key in _GRID_CACHE:
        return _GRID_CACHE[key]
    sel = [
        _bounds_udf(F.col(geom_col)).alias("_b"),
        F.col(geom_col).alias("_wkb"),
    ]
    if id_col is not None:
        sel.append(F.col(id_col).cast("long").alias("_id"))
    pdf = (
        df.select(*sel)
        .select(
            "_b.minx", "_b.miny", "_b.maxx", "_b.maxy", "_wkb",
            *(["_id"] if id_col is not None else []),
        )
        .toPandas()
    )
    bb = pdf[["minx", "miny", "maxx", "maxy"]].to_numpy(np.float64)
    valid = np.isfinite(bb[:, 0])
    ids = pdf["_id"][valid] if id_col is not None else None
    if not valid.any() or (ids is not None and ids.isna().any()):
        bc = None
    else:
        index = Index(
            bb[valid],
            wkbs=pdf["_wkb"].to_numpy(object)[valid],
            ids=None if ids is None else ids.to_numpy(np.int64),
        )
        bc = broadcast(df.sparkSession, index)
    if key is not None:
        _GRID_CACHE.clear()
        _GRID_CACHE[key] = bc
        cache.track_release(lambda k=key: _GRID_CACHE.pop(k, None))
    return bc


# ----------------------------------------------------------------- probe
class Probe:
    """Per-task side of a broadcast :class:`Index`. The geometry decode
    cache lives for one task: a worker-lifetime cache (one Geometry per
    build row in every worker) measured SLOWER at 500k rows —
    allocator/GC pressure beat the saved decodes."""

    def __init__(self, bc):
        self.index = bc.value
        self.ids = self.index.ids
        self.bb = self.index.bb
        self._geoms: dict[int, object] = {}

    def pairs(self, B: np.ndarray):
        """(stream row, build row) bbox-overlap pairs, sorted by row."""
        ix = self.index
        return _batch_candidates(B, *ix.grid, ix.cellsz, ix.x0, ix.y0, ix.bb)

    def geom(self, j):
        """Decoded build geometry ``j`` (needs an index with WKBs)."""
        j = int(j)
        g = self._geoms.get(j)
        if g is None:
            ix = self.index
            g = W.loads(ix.buf[ix.offs[j]:ix.offs[j + 1]])
            self._geoms[j] = g
        return g

    @staticmethod
    def decode(col) -> tuple[list, np.ndarray]:
        """Stream-side geometries and bboxes of a WKB column; NULL and
        EMPTY rows stay None with NaN bboxes (no candidates)."""
        n = len(col)
        geoms: list = [None] * n
        B = np.full((n, 4), np.nan)
        for i, b in enumerate(col):
            if b is None:
                continue
            g = W.loads(bytes(b))
            if g.is_empty():
                continue
            geoms[i] = g
            B[i] = K.bounds(g)
        return geoms, B
