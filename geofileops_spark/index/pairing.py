"""Broadcast-grid pairing: the Spark twin of the reference's per-worker
rtree, and the one place that decides when to use it.

geofileops pairs two layers by letting every worker process hold layer
2's rtree and probe it, one SELECT per batch writing finished rows
with both layers' attributes (``_geoops_sql.py:2185-2342``). Here the
small side is collected once, grid-indexed on the driver and
broadcast; the other side streams through one ``mapInArrow`` that asks
the grid for bbox-overlap candidates and emits finished rows. Every
operator that pairs this way goes through this module:

- :class:`Index` is the broadcast value: a flat sorted grid over the
  build rows' bboxes and, optionally, the build rows as one Arrow
  record batch (geometry and attributes);
- :func:`build` collects layer 2 of a pairwise operator in one
  JVM-only Arrow collect bounded at ``MAX_ROWS + 1`` rows, computes its
  bboxes on the driver, indexes and broadcasts it (or answers
  :data:`OVER_CAP`), reusing the result for repeat calls on the same
  plan;
- :func:`broadcast` is the one ``sparkContext.broadcast`` of the
  pairing paths; ``cache.release_caches()`` releases everything it made;
- :func:`probe` is the one probe driver. It streams a frame against a
  broadcast index and owns the stream decode, the candidates, the
  self-half filter and the output batches, whose layer-2 columns it
  takes from the index rows by position. Each operator passes only its
  per-batch step (a refine, a piece kernel, a row combine) over a
  :class:`Batch`;
- :func:`choose` decides between the broadcast shapes and the
  distributed cell join from one byte budget, ``GFO_BROADCAST_BYTES``.
  It runs no Spark job; a broadcast side's row cap, ``MAX_ROWS``, is
  enforced by the collect that builds it (:func:`build`, or the kNN
  probe's own collect), which answers "over the cap" past it. No
  operator takes an argument that overrides the two.

A broadcast-probe job thus runs one Python stage, the probe: the build
side crosses no Python UDF and is not counted first. Each Python task
still pays a start-up before its first batch. On a reused worker it
is 0.03-0.10 s from task launch to the UDF's first line, because
``_worker.py`` stops every task re-reading ``pyspark.zip``. A fresh
worker's first task pays 2-2.6 s for the fork, the imports and that
re-read, and its second task reads each archive once more (4 tasks on
4 vCPUs, ``parcels_overlay`` seed 7).
"""

from __future__ import annotations

import logging
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.functions import pandas_udf
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import DoubleType, StructField, StructType

from .. import cache
from ..geometry import wkb as W

_log = logging.getLogger(__name__)

# Bytes of a raw layer scan that may be collected on the driver and
# broadcast to every executor. The per-shape limits in choose() are
# fixed shares of it.
BROADCAST_BYTES = int(os.environ.get("GFO_BROADCAST_BYTES", str(256 << 20)))
# Rows of a broadcast side: a byte budget alone under-guards point
# layers (tiny rows), and the driver-side grid build is O(rows). build()
# bounds its collect at MAX_ROWS + 1 rows, the kNN probe at
# MAX_ROWS // 2 + 1 (every kNN task scans all of layer 2).
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
    ``scan_bytes`` and ``rows`` describe the side the path broadcasts.
    No count is ever run: ``rows`` is None except in :func:`build`'s
    over-cap record, where it is the rows its bounded collect returned,
    ``MAX_ROWS + 1``, a lower bound."""

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
      the budget.
    - ``knn``: every task scans all of layer 2 (planar join_nearest),
      so it gets an eighth of the budget. A sphere kNN has no other plan
      and does not ask.
    - ``combine``: difference/clip. ``reverse`` broadcasts the subjects'
      bboxes when they scan at most a quarter of the blades and within
      the budget; ``forward`` broadcasts the blades when they fit a
      quarter of the budget and scan at most a quarter of the subjects
      (or fit a sixteenth of it outright); otherwise ``cell``.

    It runs no Spark job. The row caps are the collects': :func:`build`
    (``pairs``, ``forward``) answers :data:`OVER_CAP` past ``MAX_ROWS``
    rows and the kNN probe returns None past ``MAX_ROWS // 2``, so a
    byte misestimate (Catalyst sizes UDF-built binary columns at ~100
    B/row) never collects a huge layer.

    A frame built by ``createDataFrame`` from a Python list is an RDD
    scan with no size estimate (``Long.MaxValue`` bytes): as ``build``
    it always takes the cell plan, until it is cached and materialized.
    A frame built from a pandas frame (``session.local_frame``) is a
    LocalRelation, sized from its real bytes."""
    budget = BROADCAST_BYTES
    s2 = scan_size_bytes(build)
    if shape == "combine":
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
        byte_cap = budget if shape == "pairs" else budget // 8
        if s2 is None or s2 <= 0:
            d = Decision("cell", s2, None, budget, "no size estimate")
        elif s2 > byte_cap:
            d = Decision("cell", s2, None, budget, f"{s2} B > {byte_cap} B")
        else:
            d = Decision("broadcast", s2, None, budget, f"{s2} B <= {byte_cap} B")
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
    # loads+bounds; corrupt rows yield NaN like before). One caller:
    # overlay._reverse_collect_candidates, which collects only the
    # subjects' bboxes, never their WKBs.
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
    """The broadcast value: a grid over ``bb`` (n, 4 finite bboxes) and
    the build rows themselves, ``rows``: one Arrow record batch aligned
    to ``bb`` (optional), as the JVM collected it. Its column ``geom``
    (one value buffer plus offsets) is what :meth:`Batch.geom2` decodes;
    any of its columns is what :func:`probe` emits for a pair's build
    row, by position.

    The grid cell is ``per_extent`` median bbox extents (``span /
    point_cells`` for point sides), floored so an axis has at most ~4k
    cells. Arrow arrays unpickle as a few buffers, while 500k separate
    bytes objects cost seconds per Python worker (measured 55 s cold vs
    13 s warm)."""

    def __init__(self, bb: np.ndarray, rows: pa.Table | None = None,
                 geom: str | None = None,
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
        self.geom = geom
        self.rows = None
        if rows is not None:
            # one chunk per column, for take(); 64-bit geometry offsets,
            # so a layer past 2 GiB of WKB still concatenates
            cols = [
                c.cast(pa.large_binary()) if n == geom else c
                for n, c in zip(rows.column_names, rows.columns)
            ]
            self.rows = pa.RecordBatch.from_arrays(
                [c.combine_chunks() for c in cols], names=rows.column_names
            )


# ------------------------------------------------------------ broadcasts
def broadcast(spark, value):
    """Broadcast ``value``; :func:`cache.release_caches` unpersists it."""
    bc = spark.sparkContext.broadcast(value)
    cache.track_release(bc.unpersist)
    return bc


# build()'s answer for a layer 2 with more than MAX_ROWS rows: the
# caller takes the distributed cell plan
OVER_CAP = object()

# one (layer-2 plan, geom col, row cap) -> build() result; repeat
# probes of the same layer (common: several export/extract calls
# against one registry) skip the collect+index+broadcast build (~60% of
# a warm call at 500k rows). Released via cache.release_caches().
_GRID_CACHE: dict = {}


def build(df: DataFrame, geom_col: str):
    """Collect, grid-index and broadcast layer 2 (or reuse the result of
    the same plan). Returns the Broadcast of an :class:`Index` whose
    ``rows`` are ``df``'s rows with a valid geometry, every column of
    ``df`` (the caller selects what its probe emits),
    :data:`OVER_CAP` when layer 2 has more than ``MAX_ROWS`` rows, or
    None when it has no valid geometry.

    The collect is ONE JVM-only Arrow collect (``toArrow``) bounded at
    ``MAX_ROWS + 1`` rows, so the row cap costs no count and the
    attributes keep their Spark types as Arrow types. The bboxes come
    from the driver-side whole-batch decode (``W.bounds_from_wkb_batch``,
    the same function :func:`_bounds_udf` runs), so no Python stage runs
    before the probe. An over-cap result is logged as a ``cell``
    :class:`Decision`."""
    try:
        key = (df.semanticHash(), geom_col, MAX_ROWS)
    except Exception:  # pragma: no cover - exotic plans
        key = None
    if key is not None and key in _GRID_CACHE:
        return _GRID_CACHE[key]
    table = df.limit(MAX_ROWS + 1).toArrow()
    if table.num_rows > MAX_ROWS:
        d = Decision(
            "cell", scan_size_bytes(df), table.num_rows, BROADCAST_BYTES,
            f"more than {MAX_ROWS} rows",
        )
        _log.debug("pairing build: %s", d)
        bc = OVER_CAP
    else:
        bb = W.bounds_from_wkb_batch(table.column(geom_col).to_pylist())
        valid = np.isfinite(bb[:, 0])
        bc = None
        if valid.any():
            index = Index(bb[valid], table.filter(valid), geom=geom_col)
            bc = broadcast(df.sparkSession, index)
    if key is not None:
        _GRID_CACHE.clear()
        _GRID_CACHE[key] = bc
        cache.track_release(lambda k=key: _GRID_CACHE.pop(k, None))
    return bc


# ----------------------------------------------------------------- probe
def decode(col) -> tuple[list, np.ndarray]:
    """Stream-side geometries and bboxes of a WKB column; NULL and EMPTY
    rows stay None with NaN bboxes (no candidates). The bboxes come from
    the whole-batch decode; every non-NULL row is still loaded, so
    corrupt WKB raises as it does on the cell plan."""
    blobs = list(col)
    B = W.bounds_from_wkb_batch(blobs)
    alive = np.isfinite(B[:, 0])
    geoms = [None if b is None else W.loads(bytes(b)) for b in blobs]
    return [g if ok else None for g, ok in zip(geoms, alive)], B


def _wkb_reader(arr: pa.Array):
    """``j -> WKB of row j`` over a large_binary Arrow array (an
    :class:`Index`'s geometry column), reading its offsets and value
    buffer in place."""
    _, offs, data = arr.buffers()
    offs = np.frombuffer(offs, np.int64)[arr.offset:arr.offset + len(arr) + 1]
    mv = memoryview(data if data is not None else b"")
    return lambda j: mv[offs[j]:offs[j + 1]]


class Batch:
    """One Arrow batch of the stream as a probe step sees it: its row
    count ``n``, geometries ``g1s`` (None on a bbox-only or point-column
    probe), bboxes ``B1`` and points ``pts`` (point-column probe only),
    the bbox-overlap (stream row, build row) pairs ``pr``/``pl`` sorted
    by row, and the build rows' bboxes ``B2``. :meth:`column` is a
    stream column as numpy; :meth:`geom1`/:meth:`geom2` decode a
    stream/build geometry once."""

    def __init__(self, rb, g1s, B1, pts, pr, pl, B2, col, wkb2, built):
        self.n, self.g1s, self.B1, self.pts = rb.num_rows, g1s, B1, pts
        self.pr, self.pl, self.B2 = pr, pl, B2
        self._rb, self._col, self._g1 = rb, col, {}
        self._wkb2, self._g2 = wkb2, built

    def column(self, name):
        return self._rb.column(name).to_numpy(zero_copy_only=False)

    def geom1(self, i):
        if self.g1s is not None:
            return self.g1s[i]
        if i not in self._g1:
            self._g1[i] = W.loads(bytes(self._col[i]))
        return self._g1[i]

    def geom2(self, j):
        j = int(j)
        if j not in self._g2:
            self._g2[j] = W.loads(self._wkb2(j))
        return self._g2[j]


def probe(
    stream: DataFrame, bc, step, geom, *, load: bool = True,
    rows: bool = False, columns: dict | None = None, l2: dict | None = None,
    payload: StructField | None = None, self_half_uid: str | None = None,
) -> DataFrame:
    """The one probe driver: ``stream`` flows through ONE mapInArrow
    against the broadcast :class:`Index` ``bc``, and ``step(batch)``
    settles each :class:`Batch`. Each output batch is built with Arrow
    ``take``: what leaves the probe is finished rows, with no join
    after it. Each task keeps one decode cache over the build
    geometries (a worker-lifetime cache measured SLOWER at 500k rows:
    allocator/GC pressure beat the saved decodes).

    - ``geom`` is a WKB column, decoded by :func:`decode` or, with
      ``load=False``, only bboxed; or an ``(x, y)`` pair of point
      columns.
    - ``self_half_uid`` (an int64 column of both the stream and the
      index rows) keeps only the ``uid1 < uid2`` pairs of a
      self-pairing, before the step runs.
    - ``step`` returns a selection ``sel`` (None: all) or ``(sel,
      values)``. ``sel`` picks pairs: the output holds the stream rows
      ``pr[sel]`` and, for each ``name: field`` of ``l2``, the index
      rows' column ``field.name`` at ``pl[sel]`` as ``name``. With
      ``rows=True`` it picks stream rows. ``values`` fill the
      ``payload`` field, which replaces a stream column of its name.
    - ``columns`` maps the stream columns to keep to their output names
      (default all, unrenamed). Renames cost no Spark call: they are the
      output schema's names."""
    fields = stream.schema.fields
    at = {f.name: i for i, f in enumerate(fields)}
    columns = columns if columns is not None else dict(zip(at, at))
    pos = [at[c] for c in columns]
    out_fields = [
        StructField(n, fields[at[c]].dataType, fields[at[c]].nullable)
        for c, n in columns.items()
    ]
    l2 = l2 or {}
    out_fields += [StructField(n, f.dataType, f.nullable) for n, f in l2.items()]
    put = None  # the payload's output position
    if payload is not None:
        put = next((k for k, f in enumerate(out_fields) if f.name == payload.name),
                   len(out_fields))
        out_fields[put:put + 1] = [payload]
    names = [f.name for f in out_fields]
    src2 = [f.name for f in l2.values()]
    payload_type = None if payload is None else to_arrow_type(payload.dataType)
    xy = geom if isinstance(geom, tuple) else None

    def _run(batches):
        ix, built = bc.value, {}  # one build-geometry cache per task
        wkb2 = None if ix.geom is None else _wkb_reader(ix.rows.column(ix.geom))
        uid2 = None if self_half_uid is None else ix.rows.column(self_half_uid).to_numpy()
        for rb in batches:
            if rb.num_rows == 0:
                continue
            g1s = pts = col = None
            if xy is not None:
                pts = np.column_stack([
                    np.asarray(rb.column(c).to_numpy(zero_copy_only=False), np.float64)
                    for c in xy
                ])
                B = np.column_stack([pts, pts])  # degenerate point bboxes
            elif load:
                g1s, B = decode(rb.column(geom).to_pylist())
            else:
                col = rb.column(geom).to_numpy(zero_copy_only=False)
                B = W.bounds_from_wkb_batch(col.tolist())
            pr, pl = _batch_candidates(B, *ix.grid, ix.cellsz, ix.x0, ix.y0, ix.bb)
            if uid2 is not None and len(pr):
                m = rb.column(self_half_uid).to_numpy()[pr] < uid2[pl]
                pr, pl = pr[m], pl[m]
            got = step and step(Batch(rb, g1s, B, pts, pr, pl, ix.bb, col, wkb2, built))
            sel, values = got if isinstance(got, tuple) else (got, None)
            if sel is None:
                sel = slice(None)
            take1 = np.arange(rb.num_rows)[sel] if rows else pr[sel]
            if len(take1) == 0:
                continue
            out = [None if k == put else rb.column(p).take(take1)
                   for k, p in enumerate(pos)]
            if l2:
                take2 = pl[sel]
                out += [ix.rows.column(c).take(take2) for c in src2]
            if put is not None:
                out[put:put + 1] = [pa.array(values, payload_type)]
            yield pa.RecordBatch.from_arrays(out, names=names)

    return stream.mapInArrow(_run, schema=StructType(out_fields))
