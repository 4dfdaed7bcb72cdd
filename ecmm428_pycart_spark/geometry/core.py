"""Pure-numpy planar geometry over WKB.

The reference (pycart) leans on shapely/GEOS for a small set of planar
kernels: centroid, area, perimeter length, point distance, intersection
length of touching polygons, affine scale, translate, buffer
(pycart/cartogram.py:223-238,314-317,357-361,400-408;
pycart/border_util.py:44,70). shapely is not available in this
environment, so this module implements exactly those kernels in
numpy — all math is planar/Euclidean in coordinate units, matching the
reference, which never reprojects (main.py:120,220).

Geometry interchange format is WKB (bytes) so geometry columns are plain
Spark ``BinaryType`` and flow through Arrow untouched.

In-memory representation: ``(gtype, data)`` where

- ``('Point', (x, y))``
- ``('Polygon', [ring, ...])``        ring = float64 ndarray (N, 2), closed
- ``('MultiPolygon', [[ring, ...], ...])``
"""

from __future__ import annotations

import math
import re
import struct

import numpy as np

_WKB_POINT = 1
_WKB_POLYGON = 3
_WKB_MULTIPOLYGON = 6


# ---------------------------------------------------------------------------
# WKB encode / decode (little-endian, 2D)
# ---------------------------------------------------------------------------

def dumps(geom) -> bytes:
    gtype, data = geom
    if gtype == "Point":
        return struct.pack("<BIdd", 1, _WKB_POINT, float(data[0]), float(data[1]))
    if gtype == "Polygon":
        return b"\x01" + struct.pack("<I", _WKB_POLYGON) + _pack_rings(data)
    if gtype == "MultiPolygon":
        out = [b"\x01", struct.pack("<II", _WKB_MULTIPOLYGON, len(data))]
        for rings in data:
            out.append(b"\x01" + struct.pack("<I", _WKB_POLYGON) + _pack_rings(rings))
        return b"".join(out)
    raise ValueError(f"unsupported geometry type: {gtype}")


def _pack_rings(rings) -> bytes:
    out = [struct.pack("<I", len(rings))]
    for ring in rings:
        arr = np.asarray(ring, dtype="<f8").reshape(-1, 2)
        out.append(struct.pack("<I", arr.shape[0]))
        out.append(arr.tobytes())
    return b"".join(out)


def loads(buf: bytes):
    geom, _ = _read_geom(memoryview(buf), 0)
    return geom


def _read_geom(mv, off):
    byte_order = mv[off]
    endian = "<" if byte_order == 1 else ">"
    (wtype,) = struct.unpack_from(endian + "I", mv, off + 1)
    off += 5
    # EWKB flag bits (PostGIS writers): Z=0x80000000, M=0x40000000,
    # SRID=0x20000000. 2-D only — reject Z/M explicitly rather than
    # misparse; skip the 4 SRID bytes when the SRID flag is set.
    if wtype & 0xC0000000:
        raise ValueError(f"unsupported WKB: Z/M coordinates (type 0x{wtype:08x})")
    if wtype & 0x20000000:
        off += 4  # embedded SRID, not used
        wtype &= ~0x20000000
    # ISO WKB encodes Z/M/ZM as type+1000/2000/3000 — also 2-D only
    if wtype >= 1000:
        raise ValueError(f"unsupported WKB: ISO Z/M type {wtype}")
    if wtype == _WKB_POINT:
        x, y = struct.unpack_from(endian + "dd", mv, off)
        return ("Point", (x, y)), off + 16
    if wtype == _WKB_POLYGON:
        rings, off = _read_rings(mv, off, endian)
        return ("Polygon", rings), off
    if wtype == _WKB_MULTIPOLYGON:
        (n,) = struct.unpack_from(endian + "I", mv, off)
        off += 4
        polys = []
        for _ in range(n):
            (poly, off) = _read_geom(mv, off)
            polys.append(poly[1])
        return ("MultiPolygon", polys), off
    raise ValueError(f"unsupported WKB type: {wtype}")


def _read_rings(mv, off, endian):
    (nrings,) = struct.unpack_from(endian + "I", mv, off)
    off += 4
    rings = []
    for _ in range(nrings):
        (npts,) = struct.unpack_from(endian + "I", mv, off)
        off += 4
        arr = np.frombuffer(mv, dtype=endian + "f8", count=npts * 2, offset=off)
        rings.append(arr.reshape(npts, 2).copy())
        off += npts * 16
    return rings, off


# ---------------------------------------------------------------------------
# WKT / GeoJSON
# ---------------------------------------------------------------------------

_NUM = r"[-+0-9.eE]+"


def wkt_loads(s: str):
    s = s.strip()
    head = s.split("(", 1)[0].strip().upper()
    if head == "POINT":
        x, y = [float(v) for v in re.findall(_NUM, s)]
        return ("Point", (x, y))
    if head == "POLYGON":
        return ("Polygon", _wkt_rings(s[s.index("(") + 1: s.rindex(")")]))
    if head == "MULTIPOLYGON":
        body = s[s.index("(") + 1: s.rindex(")")]
        polys = []
        for m in re.finditer(r"\(\s*\((?:[^()]*\)\s*,?\s*\()*[^()]*\)\s*\)", body):
            polys.append(_wkt_rings(m.group(0)[1:-1]))
        return ("MultiPolygon", polys)
    raise ValueError(f"unsupported WKT: {s[:40]}")


def _wkt_rings(body: str):
    rings = []
    for rm in re.finditer(r"\(([^()]*)\)", body):
        nums = [float(v) for v in re.findall(_NUM, rm.group(1))]
        rings.append(np.asarray(nums, dtype="f8").reshape(-1, 2))
    return rings


def _ring_wkt(ring) -> str:
    return "(" + ", ".join(f"{x:.9g} {y:.9g}" for x, y in np.asarray(ring)) + ")"


def wkt_dumps(geom) -> str:
    gtype, data = geom
    if gtype == "Point":
        return f"POINT ({data[0]:.9g} {data[1]:.9g})"
    if gtype == "Polygon":
        return "POLYGON (" + ", ".join(_ring_wkt(r) for r in data) + ")"
    if gtype == "MultiPolygon":
        return "MULTIPOLYGON (" + ", ".join(
            "(" + ", ".join(_ring_wkt(r) for r in rings) + ")" for rings in data) + ")"
    raise ValueError(gtype)


def from_geojson(gtype: str, coordinates):
    """GeoJSON geometry dict fields → internal geom (main.py:15-28 ingest)."""
    if gtype == "Point":
        return ("Point", (float(coordinates[0]), float(coordinates[1])))
    if gtype == "Polygon":
        return ("Polygon", [np.asarray(r, dtype="f8") for r in coordinates])
    if gtype == "MultiPolygon":
        return ("MultiPolygon",
                [[np.asarray(r, dtype="f8") for r in poly] for poly in coordinates])
    raise ValueError(f"unsupported GeoJSON type: {gtype}")


def to_geojson(geom) -> dict:
    """Internal geom → GeoJSON geometry dict (inverse of from_geojson)."""
    gtype, data = geom
    if gtype == "Point":
        return {"type": "Point", "coordinates": [float(data[0]), float(data[1])]}
    if gtype == "Polygon":
        return {"type": "Polygon",
                "coordinates": [np.asarray(r, dtype="f8").tolist() for r in data]}
    if gtype == "MultiPolygon":
        return {"type": "MultiPolygon",
                "coordinates": [[np.asarray(r, dtype="f8").tolist() for r in poly]
                                for poly in data]}
    raise ValueError(f"unsupported geometry type: {gtype}")


# ---------------------------------------------------------------------------
# Ring primitives
# ---------------------------------------------------------------------------

def _ring_signed_area(ring) -> float:
    x, y = ring[:, 0], ring[:, 1]
    return 0.5 * float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))


def _ring_length(ring) -> float:
    d = np.diff(ring, axis=0)
    return float(np.sum(np.hypot(d[:, 0], d[:, 1])))


def _ring_centroid(ring):
    """(cx, cy, signed_area); orientation-independent centroid."""
    x, y = ring[:, 0], ring[:, 1]
    cross = x[:-1] * y[1:] - x[1:] * y[:-1]
    a = 0.5 * float(np.sum(cross))
    if abs(a) < 1e-300:
        return float(np.mean(x[:-1])), float(np.mean(y[:-1])), 0.0
    cx = float(np.sum((x[:-1] + x[1:]) * cross)) / (6.0 * a)
    cy = float(np.sum((y[:-1] + y[1:]) * cross)) / (6.0 * a)
    return cx, cy, a


def _iter_polys(geom):
    gtype, data = geom
    if gtype == "Polygon":
        yield data
    elif gtype == "MultiPolygon":
        yield from data
    else:
        raise ValueError(f"not a polygonal geometry: {gtype}")


# ---------------------------------------------------------------------------
# Kernels (G1-G9 of SURVEY.md §2.3)
# ---------------------------------------------------------------------------

def area(geom) -> float:
    """Planar area; holes subtracted (pycart/cartogram.py:226 `geodf.area`)."""
    if geom[0] == "Point":
        return 0.0
    total = 0.0
    for rings in _iter_polys(geom):
        total += abs(_ring_signed_area(rings[0]))
        for hole in rings[1:]:
            total -= abs(_ring_signed_area(hole))
    return total


def perimeter(geom) -> float:
    """Boundary length incl. holes (pycart/cartogram.py:314 `geodf.length`)."""
    if geom[0] == "Point":
        return 0.0
    return sum(_ring_length(r) for rings in _iter_polys(geom) for r in rings)


def centroid(geom):
    """Area-weighted centroid (pycart/cartogram.py:223 `.centroid`)."""
    if geom[0] == "Point":
        return geom[1]
    wsum = 0.0
    cx = cy = 0.0
    for rings in _iter_polys(geom):
        for i, ring in enumerate(rings):
            rx, ry, a = _ring_centroid(ring)
            w = abs(a) if i == 0 else -abs(a)
            cx += rx * w
            cy += ry * w
            wsum += w
    if wsum == 0.0:  # degenerate: fall back to vertex mean
        pts = vertices(geom)
        return float(np.mean(pts[:, 0])), float(np.mean(pts[:, 1]))
    return cx / wsum, cy / wsum


def bounds(geom):
    if geom[0] == "Point":
        x, y = geom[1]
        return (x, y, x, y)
    pts = vertices(geom)
    return (float(pts[:, 0].min()), float(pts[:, 1].min()),
            float(pts[:, 0].max()), float(pts[:, 1].max()))


def vertices(geom) -> np.ndarray:
    """All ring vertices, closing duplicates dropped — (N, 2) array."""
    if geom[0] == "Point":
        return np.asarray([geom[1]], dtype="f8")
    parts = [r[:-1] for rings in _iter_polys(geom) for r in rings]
    return np.concatenate(parts, axis=0)


def scale_about(geom, fx: float, fy: float, origin):
    """Affine scale about a fixed origin (pycart/cartogram.py:237-239)."""
    ox, oy = origin

    def _s(ring):
        out = np.empty_like(ring)
        out[:, 0] = ox + (ring[:, 0] - ox) * fx
        out[:, 1] = oy + (ring[:, 1] - oy) * fy
        return out

    gtype, data = geom
    if gtype == "Point":
        return ("Point", (ox + (data[0] - ox) * fx, oy + (data[1] - oy) * fy))
    if gtype == "Polygon":
        return ("Polygon", [_s(r) for r in data])
    return ("MultiPolygon", [[_s(r) for r in rings] for rings in data])


def translate_geom(geom, dx: float, dy: float):
    """shapely.affinity.translate equivalent (pycart/cartogram.py:400-402)."""
    gtype, data = geom
    if gtype == "Point":
        return ("Point", (data[0] + dx, data[1] + dy))
    off = np.asarray([dx, dy], dtype="f8")
    if gtype == "Polygon":
        return ("Polygon", [r + off for r in data])
    return ("MultiPolygon", [[r + off for r in rings] for rings in data])


def buffer_point(x: float, y: float, radius: float, quad_segs: int = 8):
    """Circle polygon around a point (pycart/cartogram.py:408 `.buffer`).

    shapely approximates with 4*quad_segs segments; we emit the same count
    (a regular polygon, CCW, starting at angle 0). Exact vertex phase may
    differ from GEOS — area/shape agree to the same approximation order.
    """
    n = max(4, 4 * quad_segs)
    ang = np.linspace(0.0, 2.0 * math.pi, n, endpoint=False)
    ring = np.empty((n + 1, 2), dtype="f8")
    ring[:n, 0] = x + radius * np.cos(ang)
    ring[:n, 1] = y + radius * np.sin(ang)
    ring[n] = ring[0]
    return ("Polygon", [ring])


def _segments(geom) -> np.ndarray:
    """(N, 4) array of segments [x1 y1 x2 y2] over all rings."""
    segs = []
    for rings in _iter_polys(geom):
        for r in rings:
            segs.append(np.concatenate([r[:-1], r[1:]], axis=1))
    return np.concatenate(segs, axis=0)


def shared_boundary_length(ga, gb, rel_tol: float = 1e-9) -> float:
    """Length of the shared boundary of two touching polygons.

    Equals ``a.intersection(b).length`` (pycart/border_util.py:44,70) for
    valid non-overlapping polygons in a planar partition: the intersection
    of two such polygons is the set of collinear overlapping boundary
    segments. Point contacts contribute 0 length, matching the reference's
    zero weight for corner-only (diagonal) neighbours.

    One pair of ``shared_boundary_lengths``.
    """
    return float(shared_boundary_lengths([(ga, gb)], rel_tol)[0])


# (pair, a-segment, b-segment) triples one pass of shared_boundary_lengths
# compares, plus at most one a-segment's worth: bounds its working memory
# whatever the polygon sizes.
_CHUNK_TRIPLES = 1 << 16


def _segment_table(geom):
    """``_segments(geom)``, their ``math.hypot`` lengths and the largest
    absolute coordinate."""
    segs = _segments(geom)
    lens = np.array([math.hypot(dx, dy) for dx, dy in
                     (segs[:, 2:] - segs[:, :2]).tolist()], dtype="f8")
    return segs, lens, np.abs(segs).max(initial=0.0)


def shared_boundary_lengths(pairs, rel_tol: float = 1e-9) -> np.ndarray:
    """``shared_boundary_length(ga, gb)`` of every ``(ga, gb)`` in
    ``pairs``, as one float64 array in pair order.

    Each segment of ``ga`` (an a-row) is tested against every segment of
    ``gb``: a b-segment counts if it meets the a-segment's bounding box
    widened by ``tol`` and both its endpoints lie within ``tol`` of the
    a-segment's line, where ``tol = rel_tol * max(|coordinate|, 1)`` over
    the pair. The a-segment adds the clipped overlap of those b-segments
    times its length. The (pair, a-segment, b-segment) triples run in
    chunks of whole a-rows, about ``_CHUNK_TRIPLES`` triples each, so
    memory does not grow with the largest polygon squared.

    Each pair gives the same double as a per-segment loop would: segment
    lengths are ``math.hypot``, an a-row's overlaps are added with
    ``np.sum`` in b-segment order, and a pair's a-rows in ring order.
    Geometries are keyed by object identity, so a geometry repeated over
    pairs is split into segments once.
    """
    pairs = list(pairs)
    slot: dict[int, int] = {}
    tables = []
    for g in (g for p in pairs for g in p):
        if slot.setdefault(id(g), len(tables)) == len(tables):
            tables.append(_segment_table(g))
    if not tables:
        return np.zeros(0)
    ia, ib = np.array([[slot[id(a)], slot[id(b)]] for a, b in pairs],
                      dtype="i8").T
    segs = np.concatenate([t[0] for t in tables])
    lens = np.concatenate([t[1] for t in tables])
    nseg = np.array([len(t[1]) for t in tables], dtype="i8")
    first = np.cumsum(nseg) - nseg
    absmax = np.array([t[2] for t in tables])
    tol = rel_tol * np.maximum(np.maximum(absmax[ia], absmax[ib]), 1.0)
    lo = np.minimum(segs[:, :2], segs[:, 2:])
    hi = np.maximum(segs[:, :2], segs[:, 2:])

    # a-rows in (pair, ring) order; segments shorter than tol add nothing
    na = nseg[ia]
    row_pair = np.repeat(np.arange(len(pairs)), na)
    row_seg = np.arange(na.sum()) + np.repeat(first[ia] - np.cumsum(na) + na,
                                              na)
    keep = lens[row_seg] >= tol[row_pair]
    row_pair, row_seg = row_pair[keep], row_seg[keep]
    rtol = tol[row_pair]
    cost = nseg[ib][row_pair]
    start = np.cumsum(cost) - cost
    cuts = np.flatnonzero(np.diff(start // _CHUNK_TRIPLES)) + 1
    hit_pair, terms = [np.zeros(0, "i8")], [np.zeros(0)]
    for r0, r1 in zip([0, *cuts], [*cuts, len(cost)]):
        rp, rs, rt = row_pair[r0:r1], row_seg[r0:r1], rtol[r0:r1]
        row = np.repeat(np.arange(r1 - r0), cost[r0:r1])  # a triple's a-row
        b = np.arange(len(row)) + np.repeat(
            first[ib[rp]] - start[r0:r1] + start[r0], cost[r0:r1])
        tt = rt[row]
        cand = ~((hi[b, 0] + tt < (lo[rs, 0] - rt)[row])
                 | (lo[b, 0] - tt > (hi[rs, 0] + rt)[row])
                 | (hi[b, 1] + tt < (lo[rs, 1] - rt)[row])
                 | (lo[b, 1] - tt > (hi[rs, 1] + rt)[row]))
        k = np.flatnonzero(cand)
        row, c = row[k], segs[b[k]]
        x1, y1, x2, y2 = segs[rs].T
        dx, dy, sl = x2 - x1, y2 - y1, lens[rs]
        # collinear: both endpoints of the b-segment on the a-segment line
        ax, ay, adx, ady = x1[row], y1[row], dx[row], dy[row]
        lim = (rt * sl)[row]
        col = ((np.abs(adx * (c[:, 1] - ay) - ady * (c[:, 0] - ax)) <= lim)
               & (np.abs(adx * (c[:, 3] - ay) - ady * (c[:, 2] - ax)) <= lim))
        k = np.flatnonzero(col)
        row, c, ax, ay, adx, ady = row[k], c[k], ax[k], ay[k], adx[k], ady[k]
        # b endpoints as parameters along the a-segment, overlap clipped
        l2 = (sl * sl)[row]
        t1 = ((c[:, 0] - ax) * adx + (c[:, 1] - ay) * ady) / l2
        t2 = ((c[:, 2] - ax) * adx + (c[:, 3] - ay) * ady) / l2
        v = np.maximum(0.0, np.clip(np.maximum(t1, t2), 0.0, 1.0)
                       - np.clip(np.minimum(t1, t2), 0.0, 1.0))
        # an a-row's sum: sequential for <= 2 overlaps; np.sum's own
        # grouping, over the row's overlaps alone, for more
        n = np.bincount(row, minlength=r1 - r0)
        rsum = np.bincount(row, weights=v, minlength=r1 - r0)
        at = np.cumsum(n) - n
        for r in np.flatnonzero(n > 2):
            rsum[r] = np.sum(v[at[r]:at[r] + n[r]])
        h = np.flatnonzero(n)
        hit_pair.append(rp[h])
        terms.append(rsum[h] * sl[h])
    # pair totals: the a-rows' terms added in ring order (bincount adds
    # sequentially in index order)
    return np.bincount(np.concatenate(hit_pair),
                       weights=np.concatenate(terms), minlength=len(pairs))


def point_distance(ax: float, ay: float, bx: float, by: float) -> float:
    """Euclidean point distance (pycart/cartogram.py:16-32)."""
    return math.hypot(bx - ax, by - ay)


def contains_point(geom, x: float, y: float) -> bool:
    """Even-odd ray-cast point-in-polygon over all rings (holes flip
    parity, multi-parts accumulate independently). Boundary points
    follow the half-open crossing convention (left/bottom edges in,
    right/top out on axis-aligned rectangles) — callers needing
    closed-boundary semantics should buffer. Vectorized over each
    ring's edges in numpy."""
    for rings in _iter_polys(geom):
        inside = False
        for ring in rings:
            r = np.asarray(ring, dtype=np.float64)
            x1, y1 = r[:-1, 0], r[:-1, 1]
            x2, y2 = r[1:, 0], r[1:, 1]
            straddles = (y1 > y) != (y2 > y)
            with np.errstate(divide="ignore", invalid="ignore"):
                xs = x1 + (y - y1) * (x2 - x1) / (y2 - y1)
            hits = straddles & (x < xs)
            if int(hits.sum()) % 2:
                inside = not inside
        if inside:
            return True
    return False


def convex_hull(geom):
    """Convex hull of all vertices as a Polygon geom (Andrew monotone
    chain, O(n log n); collinear points dropped so the hull has the
    minimal vertex set). Matches GEOS/shapely `convex_hull` for
    polygons up to starting vertex and orientation: the ring is
    counter-clockwise, starts at the lexicographically smallest
    vertex, and is closed."""
    pts = vertices(geom)
    uniq = np.unique(pts, axis=0)           # sorted lexicographically
    if uniq.shape[0] < 3:
        raise ValueError("convex hull needs >= 3 distinct vertices")

    def cross(o, a, b):
        return ((a[0] - o[0]) * (b[1] - o[1])
                - (a[1] - o[1]) * (b[0] - o[0]))

    lower = []
    for p in uniq:
        while len(lower) >= 2 and cross(lower[-2], lower[-1], p) <= 0:
            lower.pop()
        lower.append(tuple(p))
    upper = []
    for p in uniq[::-1]:
        while len(upper) >= 2 and cross(upper[-2], upper[-1], p) <= 0:
            upper.pop()
        upper.append(tuple(p))
    ring = lower[:-1] + upper[:-1]
    if len(ring) < 3:                       # all input points collinear
        raise ValueError("convex hull degenerate: vertices are collinear")
    ring.append(ring[0])                    # close
    return ("Polygon", [np.asarray(ring, dtype="f8")])


def _dp_chain(pts: np.ndarray, tol: float) -> list:
    """Douglas-Peucker on an open chain (first/last kept). Iterative
    stack — no recursion limits on pathological inputs."""
    n = pts.shape[0]
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[-1] = True
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        a, b = pts[i], pts[j]
        seg = b - a
        L = float(np.hypot(seg[0], seg[1]))
        mid = pts[i + 1:j]
        if L == 0.0:
            d = np.hypot(mid[:, 0] - a[0], mid[:, 1] - a[1])
        else:
            d = np.abs(seg[0] * (mid[:, 1] - a[1])
                       - seg[1] * (mid[:, 0] - a[0])) / L
        k = int(np.argmax(d))
        if d[k] > tol:
            keep[i + 1 + k] = True
            stack.append((i, i + 1 + k))
            stack.append((i + 1 + k, j))
    return [tuple(p) for p in pts[keep]]


def simplify_dp(geom, tol: float):
    """Douglas-Peucker simplification of a Polygon (outer ring) —
    matches GEOS `simplify` semantics for rings: anchor at vertex 0
    and the vertex farthest from it, simplify the two chains between
    the anchors, rejoin. Closing duplicate handled; result ring is
    closed and keeps >= 3 distinct vertices (anchors + survivors)."""
    if geom[0] != "Polygon":
        raise NotImplementedError("simplify_dp: Polygon only")
    ring = np.asarray(geom[1][0], dtype="f8")
    if np.array_equal(ring[0], ring[-1]):
        ring = ring[:-1]
    d0 = np.hypot(ring[:, 0] - ring[0, 0], ring[:, 1] - ring[0, 1])
    far = int(np.argmax(d0))
    chain1 = _dp_chain(ring[:far + 1], tol)
    chain2 = _dp_chain(np.vstack([ring[far:], ring[:1]]), tol)
    out = chain1[:-1] + chain2[:-1]
    if len(out) < 3:
        # both chains collapsed to their anchors: force the vertex
        # farthest from the anchor chord back in so the result stays a
        # valid (>= 3 distinct vertices) polygon, as the contract
        # promises (review finding r4)
        a, b = ring[0], ring[far]
        seg = b - a
        L = float(np.hypot(seg[0], seg[1]))
        d = (np.abs(seg[0] * (ring[:, 1] - a[1])
                    - seg[1] * (ring[:, 0] - a[0])) / L
             if L > 0 else
             np.hypot(ring[:, 0] - a[0], ring[:, 1] - a[1]))
        third = int(np.argmax(d))
        order = sorted({0, far, third})
        out = [tuple(ring[i]) for i in order]
    out.append(out[0])
    return ("Polygon", [np.asarray(out, dtype="f8")])
