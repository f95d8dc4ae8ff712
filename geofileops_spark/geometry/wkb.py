"""WKB / WKT codecs (from scratch, 2-D).

The reference carries geometry across every UDF boundary as WKB bytes
(geofileops ``util/_sqlite_userdefined.py:15-97``). We do the same:
``geom_wkb: binary`` columns in Spark, decoded to :class:`Geometry`
only inside Arrow-batched pandas UDFs.

Little-endian WKB, OGC type codes 1..7, XY only.
"""

from __future__ import annotations

import struct

import numpy as np

from .geom import (
    GEOMETRYCOLLECTION,
    LINESTRING,
    MULTILINESTRING,
    MULTIPOINT,
    MULTIPOLYGON,
    NAME_TO_TYPE,
    POINT,
    POLYGON,
    Geometry,
)

_HDR = struct.Struct("<BI")
_U32 = struct.Struct("<I")
_D2 = struct.Struct("<2d")


# ------------------------------------------------------- vectorized points
def points_from_wkb_list(blobs) -> "np.ndarray | None":
    """Vectorized decode of a batch of little-endian 2-D POINT WKBs
    (fixed 21-byte layout: 1 byte order + 4 type + 16 coords).
    Returns an (n, 2) float64 array, or None if any row is not such a
    point (caller falls back to the generic per-row path). NULL rows are
    not allowed here — filter them first.
    """
    import numpy as np

    n = len(blobs)
    if n == 0:
        return np.empty((0, 2))
    joined = b"".join(blobs)
    if len(joined) != 21 * n:
        return None
    arr = np.frombuffer(joined, dtype=np.uint8).reshape(n, 21)
    # byte order 1 (LE) and geometry type 1 (POINT)
    if not (arr[:, 0] == 1).all():
        return None
    typ = arr[:, 1:5].copy().view(np.uint32).reshape(n)
    if not (typ == 1).all():
        return None
    return arr[:, 5:21].copy().view(np.float64).reshape(n, 2)


def classify_wkb_batch(blobs):
    """Vectorized header classification of a batch of WKB blobs.

    Returns ``(joined, offs, lens, typ)`` where ``joined`` is the
    concatenated byte buffer, ``offs``/``lens`` the per-blob offsets and
    lengths, and ``typ`` the raw little-endian geometry type per blob
    (-1 for big-endian / too-short blobs, which callers must route to
    the generic per-row path). ``blobs`` must be non-None bytes."""
    n = len(blobs)
    lens = np.fromiter(map(len, blobs), dtype=np.int64, count=n)
    joined = b"".join(blobs)
    u8 = np.frombuffer(joined, dtype=np.uint8)
    offs = np.concatenate(([0], np.cumsum(lens)))[:-1]
    typ = np.full(n, -1, dtype=np.int64)
    ok = lens >= 5
    if ok.any():
        o = offs[ok]
        le = u8[o] == 1
        t = (
            u8[o + 1].astype(np.int64)
            | (u8[o + 2].astype(np.int64) << 8)
            | (u8[o + 3].astype(np.int64) << 16)
            | (u8[o + 4].astype(np.int64) << 24)
        )
        typ[np.nonzero(ok)[0][le]] = t[le]
    return joined, offs, lens, typ


def _slice_f8(blobs, rows, starts, nbytes):
    """Concatenate per-blob byte runs (``blobs[rows[i]][starts[i]:
    starts[i]+nbytes[i]]``) and view as little-endian float64. One
    memcpy-join + one frombuffer — no per-row numpy calls."""
    if len(rows) == 0:
        return np.empty(0, dtype=np.float64)
    buf = b"".join(
        blobs[r][s : s + c]
        for r, s, c in zip(rows.tolist(), starts.tolist(), nbytes.tolist())
    )
    return np.frombuffer(buf, dtype="<f8")


def bounds_from_wkb_batch(blobs):
    """Vectorized (minx, miny, maxx, maxy) for a batch of WKB blobs.

    Fast path: little-endian POINT and single-ring POLYGON blobs (the
    overwhelming majority in parcel/point workloads) are decoded with a
    handful of whole-batch numpy ops — no per-row ``loads``. Everything
    else falls back to per-row decode + ``kernels.bounds``.

    Returns an (n, 4) float64 array; NaN rows mean NULL/empty/invalid
    input (same convention as ``kernels.bounds``). ``blobs`` is any
    sequence; None entries yield NaN rows."""
    from .kernels import bounds as g_bounds

    n = len(blobs)
    out = np.full((n, 4), np.nan)
    if n == 0:
        return out
    notnull = np.fromiter((b is not None for b in blobs), dtype=bool, count=n)
    nn_idx = np.nonzero(notnull)[0]
    if len(nn_idx) == 0:
        return out
    nb = [bytes(b) for b in blobs if b is not None]
    joined, offs, lens, typ = classify_wkb_batch(nb)
    u8 = np.frombuffer(joined, dtype=np.uint8)

    # POINT: fixed 21-byte layout; x and y are the 16 bytes after the
    # header, gathered column by column from the joined buffer
    is_pt = (typ == POINT) & (lens == 21)
    if is_pt.any():
        o = offs[is_pt] + 5
        raw = np.empty((len(o), 16), dtype=np.uint8)
        for k in range(16):
            raw[:, k] = u8[o + k]
        xy = raw.view("<f8")
        rows = nn_idx[is_pt]
        out[rows, 0] = xy[:, 0]
        out[rows, 1] = xy[:, 1]
        out[rows, 2] = xy[:, 0]
        out[rows, 3] = xy[:, 1]

    # single-ring POLYGON: header 9 bytes + u32 npoints + coords
    is_poly = (typ == POLYGON) & (lens >= 13)
    if is_poly.any():
        o = offs[is_poly]
        nrings = (
            u8[o + 5].astype(np.int64)
            | (u8[o + 6].astype(np.int64) << 8)
            | (u8[o + 7].astype(np.int64) << 16)
            | (u8[o + 8].astype(np.int64) << 24)
        )
        npts = (
            u8[o + 9].astype(np.int64)
            | (u8[o + 10].astype(np.int64) << 8)
            | (u8[o + 11].astype(np.int64) << 16)
            | (u8[o + 12].astype(np.int64) << 24)
        )
        good = (
            (nrings == 1)
            & (npts >= 1)
            & (lens[is_poly] == 13 + 16 * npts)
        )
        if good.any():
            cnt = npts[good]
            poly_j = np.nonzero(is_poly)[0][good]
            coords = _slice_f8(
                nb, poly_j,
                np.full(len(poly_j), 13, dtype=np.int64),
                cnt * 16,
            ).reshape(-1, 2)
            starts = np.concatenate(([0], np.cumsum(cnt)))[:-1]
            rows = nn_idx[is_poly][good]
            out[rows, 0] = np.minimum.reduceat(coords[:, 0], starts)
            out[rows, 1] = np.minimum.reduceat(coords[:, 1], starts)
            out[rows, 2] = np.maximum.reduceat(coords[:, 0], starts)
            out[rows, 3] = np.maximum.reduceat(coords[:, 1], starts)
            handled_poly = np.zeros(len(nb), dtype=bool)
            handled_poly[np.nonzero(is_poly)[0][good]] = True
        else:
            handled_poly = np.zeros(len(nb), dtype=bool)
    else:
        handled_poly = np.zeros(len(nb), dtype=bool)

    # everything else: per-row decode (multis, holes, lines, BE, curves)
    rest = ~(is_pt | handled_poly)
    for j in np.nonzero(rest)[0]:
        try:
            g = loads(nb[j])
        except ValueError:
            continue
        out[nn_idx[j]] = g_bounds(g)
    return out


# --------------------------------------------------------------------- dumps
def dumps(geom: Geometry) -> bytes:
    """Geometry -> WKB bytes."""
    out = bytearray()
    _write(geom, out)
    return bytes(out)


def _write(geom: Geometry, out: bytearray) -> None:
    t, d = geom.typ, geom.data
    out += _HDR.pack(1, t)
    if t == POINT:
        if geom.is_empty():
            out += _D2.pack(float("nan"), float("nan"))
        else:
            out += _D2.pack(float(d[0]), float(d[1]))
    elif t == LINESTRING:
        _write_coords(d, out)
    elif t == POLYGON:
        out += _U32.pack(len(d))
        for ring in d:
            _write_coords(ring, out)
    elif t == MULTIPOINT:
        out += _U32.pack(len(d))
        for i in range(len(d)):
            out += _HDR.pack(1, POINT)
            out += _D2.pack(float(d[i, 0]), float(d[i, 1]))
    elif t == MULTILINESTRING:
        out += _U32.pack(len(d))
        for ls in d:
            out += _HDR.pack(1, LINESTRING)
            _write_coords(ls, out)
    elif t == MULTIPOLYGON:
        out += _U32.pack(len(d))
        for rings in d:
            out += _HDR.pack(1, POLYGON)
            out += _U32.pack(len(rings))
            for ring in rings:
                _write_coords(ring, out)
    elif t == GEOMETRYCOLLECTION:
        out += _U32.pack(len(d))
        for g in d:
            _write(g, out)
    else:  # pragma: no cover
        raise ValueError(f"unsupported type {t}")


def _write_coords(arr, out: bytearray) -> None:
    arr = np.ascontiguousarray(np.asarray(arr, dtype="<f8").reshape(-1, 2))
    out += _U32.pack(arr.shape[0])
    out += arr.tobytes()


# --------------------------------------------------------------------- loads
def loads(buf: bytes) -> Geometry:
    """WKB bytes -> Geometry. Returns None for None input; raises
    ``ValueError`` for a blob that is not WKB or is cut short."""
    if buf is None:
        return None
    try:
        geom, _ = _read(memoryview(buf), 0)
    except (struct.error, IndexError) as e:
        raise ValueError(f"truncated wkb: {e}") from e
    return geom


# ISO SQL/MM curve type codes (linearized on decode, like GDAL's
# OGR_G_GetLinearGeometry — the reference reads curvepolygon fixtures
# through GDAL, /root/reference/tests/test_helper.py:46)
_CIRCULARSTRING = 8
_COMPOUNDCURVE = 9
_CURVEPOLYGON = 10
_MULTICURVE = 11
_MULTISURFACE = 12
_ARC_QUAD_SEGS = 8  # segments per quarter circle when linearizing


def _linearize_arcs(pts: np.ndarray) -> np.ndarray:
    """CIRCULARSTRING control points (odd count: arcs over consecutive
    point triples) -> polyline. Collinear triples pass through as two
    straight segments; a closed triple (p0 == p2) is a full circle."""
    if len(pts) < 3:
        return pts
    out = [pts[:1]]
    for i in range(0, len(pts) - 2, 2):
        p0, p1, p2 = pts[i], pts[i + 1], pts[i + 2]
        ax, ay = p0
        bx, by = p1
        cx, cy = p2
        d = 2.0 * (ax * (by - cy) + bx * (cy - ay) + cx * (ay - by))
        scale = max(abs(ax), abs(ay), abs(bx), abs(by), abs(cx), abs(cy), 1.0)
        if abs(d) < 1e-12 * scale * scale:
            out.append(np.array([p1, p2]))  # collinear: straight
            continue
        a2 = ax * ax + ay * ay
        b2 = bx * bx + by * by
        c2 = cx * cx + cy * cy
        ux = (a2 * (by - cy) + b2 * (cy - ay) + c2 * (ay - by)) / d
        uy = (a2 * (cx - bx) + b2 * (ax - cx) + c2 * (bx - ax)) / d
        r = float(np.hypot(ax - ux, ay - uy))
        t0 = float(np.arctan2(ay - uy, ax - ux))
        t1 = float(np.arctan2(by - uy, bx - ux))
        t2 = float(np.arctan2(cy - uy, cx - ux))
        two_pi = 2.0 * np.pi
        if abs(ax - cx) < 1e-12 * scale and abs(ay - cy) < 1e-12 * scale:
            sweep = two_pi if ((t1 - t0) % two_pi) > 0 else -two_pi
        else:
            ccw_mid = (t1 - t0) % two_pi
            ccw_end = (t2 - t0) % two_pi
            if ccw_mid <= ccw_end:
                sweep = ccw_end
            else:
                sweep = ccw_end - two_pi
        nseg = max(2, int(np.ceil(_ARC_QUAD_SEGS * abs(sweep) / (np.pi / 2))))
        ang = t0 + np.linspace(0.0, sweep, nseg + 1)[1:]
        seg = np.column_stack([ux + r * np.cos(ang), uy + r * np.sin(ang)])
        seg[-1] = p2  # pin the endpoint exactly
        out.append(seg)
    return np.vstack(out)


def _as_line_coords(g: Geometry) -> np.ndarray:
    if g.typ != LINESTRING:
        raise ValueError(f"curve component is not linear: {g.typ}")
    return g.data


def _read(mv: memoryview, off: int):
    byteorder = mv[off]
    bo = "<" if byteorder == 1 else ">"
    raw = int.from_bytes(
        mv[off + 1 : off + 5], "little" if byteorder == 1 else "big"
    )
    off += 5
    # EWKB flags
    has_z = bool(raw & 0x80000000)
    has_m = bool(raw & 0x40000000)
    if raw & 0x20000000:  # EWKB embedded SRID: skip it
        off += 4
    base = raw & 0x0FFFFFFF
    # ISO SQL/MM dimension codes: +1000 Z, +2000 M, +3000 ZM
    iso = base // 1000
    typ = base % 1000
    ndims = 2 + int(has_z or iso in (1, 3)) + int(has_m or iso in (2, 3))
    if typ == POINT:
        vals = struct.unpack_from(bo + f"{ndims}d", mv, off)
        return Geometry(POINT, np.array(vals[:2])), off + 8 * ndims
    if typ == LINESTRING:
        coords, off = _read_coords(mv, off, bo, ndims)
        return Geometry(LINESTRING, coords), off
    if typ == _CIRCULARSTRING:
        coords, off = _read_coords(mv, off, bo, ndims)
        return Geometry(LINESTRING, _linearize_arcs(coords)), off
    if typ == POLYGON:
        (nrings,) = struct.unpack_from(bo + "I", mv, off)
        off += 4
        rings = []
        for _ in range(nrings):
            ring, off = _read_coords(mv, off, bo, ndims)
            rings.append(ring)
        return Geometry(POLYGON, rings), off
    if typ == _COMPOUNDCURVE:
        (n,) = struct.unpack_from(bo + "I", mv, off)
        off += 4
        parts = []
        for _ in range(n):
            g, off = _read(mv, off)
            seg = _as_line_coords(g)
            if parts and len(seg):
                seg = seg[1:]  # joints are repeated between components
            parts.append(seg)
        coords = np.vstack(parts) if parts else np.empty((0, 2))
        return Geometry(LINESTRING, coords), off
    if typ == _CURVEPOLYGON:
        (nrings,) = struct.unpack_from(bo + "I", mv, off)
        off += 4
        rings = []
        for _ in range(nrings):
            g, off = _read(mv, off)
            ring = _as_line_coords(g)
            if len(ring) and not np.array_equal(ring[0], ring[-1]):
                ring = np.vstack([ring, ring[:1]])
            rings.append(ring)
        return Geometry(POLYGON, rings), off
    if typ in (
        MULTIPOINT,
        MULTILINESTRING,
        MULTIPOLYGON,
        GEOMETRYCOLLECTION,
        _MULTICURVE,
        _MULTISURFACE,
    ):
        (n,) = struct.unpack_from(bo + "I", mv, off)
        off += 4
        subs = []
        for _ in range(n):
            g, off = _read(mv, off)
            subs.append(g)
        if typ == MULTIPOINT:
            pts = (
                np.vstack([g.data for g in subs]) if subs else np.empty((0, 2))
            )
            return Geometry(MULTIPOINT, pts), off
        if typ in (MULTILINESTRING, _MULTICURVE):
            return Geometry(MULTILINESTRING, [g.data for g in subs]), off
        if typ in (MULTIPOLYGON, _MULTISURFACE):
            return Geometry(MULTIPOLYGON, [g.data for g in subs]), off
        return Geometry(GEOMETRYCOLLECTION, subs), off
    raise ValueError(f"unsupported wkb type {typ}")


def _read_coords(mv: memoryview, off: int, bo: str, ndims: int = 2):
    (n,) = struct.unpack_from(bo + "I", mv, off)
    off += 4
    arr = np.frombuffer(
        mv, dtype=bo + "f8", count=n * ndims, offset=off
    ).reshape(n, ndims)
    return arr[:, :2].astype(np.float64, copy=True), off + n * 8 * ndims


# ---------------------------------------------------------------------- WKT
def from_wkt(wkt: str) -> Geometry:
    """Minimal WKT parser (tests/fixtures only; not a hot path)."""
    s = wkt.strip()
    upper = s.upper()
    for name in sorted(NAME_TO_TYPE, key=len, reverse=True):
        if upper.startswith(name):
            typ = NAME_TO_TYPE[name]
            body = s[len(name) :].strip()
            break
    else:
        raise ValueError(f"bad wkt: {wkt[:40]}")
    if body.upper().startswith("EMPTY"):
        return Geometry.empty(typ)
    if typ == GEOMETRYCOLLECTION:
        # split top-level sub-geometries on commas at depth 0
        inner = body.strip()[1:-1]
        subs, depth, start = [], 0, 0
        for i, ch in enumerate(inner):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 0:
                subs.append(inner[start:i])
                start = i + 1
        subs.append(inner[start:])
        return Geometry(GEOMETRYCOLLECTION, [from_wkt(sub) for sub in subs])
    tokens = _parse_nested(body)
    if typ == POINT:
        return Geometry(POINT, np.asarray(tokens[0], dtype=np.float64))
    if typ == LINESTRING:
        return Geometry(LINESTRING, np.asarray(tokens, dtype=np.float64))
    if typ == MULTIPOINT:
        # both "MULTIPOINT(1 2, 3 4)" and "MULTIPOINT((1 2),(3 4))"
        pts = [t[0] if isinstance(t[0], list) else t for t in tokens]
        return Geometry(MULTIPOINT, np.asarray(pts, dtype=np.float64))
    if typ == POLYGON:
        return Geometry(
            POLYGON, [np.asarray(r, dtype=np.float64) for r in tokens]
        )
    if typ == MULTILINESTRING:
        return Geometry(
            MULTILINESTRING, [np.asarray(ls, dtype=np.float64) for ls in tokens]
        )
    if typ == MULTIPOLYGON:
        return Geometry(
            MULTIPOLYGON,
            [[np.asarray(r, dtype=np.float64) for r in poly] for poly in tokens],
        )
    raise ValueError(f"unsupported wkt type {typ}")  # pragma: no cover


def _parse_nested(body: str):
    """Parse '((1 2, 3 4),(5 6))' into nested lists of [x,y]."""
    pos = 0

    def parse():
        nonlocal pos
        assert body[pos] == "("
        pos += 1
        items = []
        while True:
            while pos < len(body) and body[pos] in " ,":
                pos += 1
            if pos >= len(body):
                break
            if body[pos] == "(":
                items.append(parse())
            elif body[pos] == ")":
                pos += 1
                break
            else:
                start = pos
                while pos < len(body) and body[pos] not in ",()":
                    pos += 1
                nums = [float(v) for v in body[start:pos].split()]
                items.append(nums)
        return items

    while pos < len(body) and body[pos] != "(":
        pos += 1
    return parse()


def to_wkt(geom: Geometry, digits: int = 9) -> str:
    """Geometry -> WKT (tests/debug)."""
    t, d = geom.typ, geom.data
    fmt = f"%.{digits}g"

    def c(pt):
        return f"{fmt % pt[0]} {fmt % pt[1]}"

    def seq(arr):
        return ", ".join(c(p) for p in np.asarray(arr).reshape(-1, 2))

    if geom.is_empty():
        return f"{geom.type_name()} EMPTY"
    if t == POINT:
        return f"POINT ({c(d)})"
    if t == MULTIPOINT:
        return f"MULTIPOINT ({seq(d)})"
    if t == LINESTRING:
        return f"LINESTRING ({seq(d)})"
    if t == MULTILINESTRING:
        return "MULTILINESTRING (" + ", ".join(f"({seq(ls)})" for ls in d) + ")"
    if t == POLYGON:
        return "POLYGON (" + ", ".join(f"({seq(r)})" for r in d) + ")"
    if t == MULTIPOLYGON:
        return (
            "MULTIPOLYGON ("
            + ", ".join(
                "(" + ", ".join(f"({seq(r)})" for r in poly) + ")" for poly in d
            )
            + ")"
        )
    return (
        "GEOMETRYCOLLECTION (" + ", ".join(to_wkt(g, digits) for g in d) + ")"
    )
