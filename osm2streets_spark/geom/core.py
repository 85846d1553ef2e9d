"""Pure-numpy planar geometry kernels.

This module replaces the reference's external ``geom`` crate (Pt2D,
PolyLine, Polygon, Ring, Distance, Angle — see SURVEY.md §1.4). All
algorithms here are textbook/public: Douglas-Peucker simplification,
miter-join parallel offset, segment intersection by cross products,
ray-casting point-in-polygon, equirectangular projection.

Everything operates on ``np.ndarray`` of shape (N, 2) float64 in a local
meters-based plane. Designed to be called from Arrow-batched pandas UDFs —
vectorized within each polyline, Python-loop across polylines only inside
a batch (the reference is a single-threaded loop over every road anyway;
our parallelism is across documents/cells).
"""

from __future__ import annotations

import json
import math

import numpy as np

# mean meters per degree of latitude (spherical earth, public constant)
M_PER_DEG = 111_194.92664455873


# ---------------------------------------------------------------------------
# projection (reference: GPSBounds plane projection, streets_reader
# osm_reader/reader.rs:72 converts lon/lat once into a meters x/y plane)
# ---------------------------------------------------------------------------

def lonlat_to_xy(lonlat: np.ndarray, lon0: float, lat0: float) -> np.ndarray:
    """Equirectangular lon/lat → local meters plane anchored at (lon0, lat0)."""
    out = np.empty_like(lonlat, dtype=np.float64)
    scale = math.cos(math.radians(lat0))
    out[:, 0] = (lonlat[:, 0] - lon0) * M_PER_DEG * scale
    out[:, 1] = (lonlat[:, 1] - lat0) * M_PER_DEG
    return out


def xy_to_lonlat(xy: np.ndarray, lon0: float, lat0: float) -> np.ndarray:
    out = np.empty_like(xy, dtype=np.float64)
    scale = math.cos(math.radians(lat0))
    out[:, 0] = xy[:, 0] / (M_PER_DEG * scale) + lon0
    out[:, 1] = xy[:, 1] / M_PER_DEG + lat0
    return out


# ---------------------------------------------------------------------------
# GeoJSON (reference render/mod.rs:48-108 to_geojson): every rendered
# feature is one compact string — lon/lat rounded to 9 digits, keys in
# type/geometry/properties order, no whitespace
# ---------------------------------------------------------------------------

def feature_dumps(geometry_type: str, coordinates, props: dict) -> str:
    """The compact Feature string for already-lon/lat coordinates."""
    return json.dumps({
        "type": "Feature",
        "geometry": {"type": geometry_type, "coordinates": coordinates},
        "properties": props,
    }, separators=(",", ":"))


def geojson_feature(geometry_type: str, xy, lon0: float, lat0: float,
                    props: dict) -> str:
    """A Point, LineString or Polygon (one ring) feature from local
    meters-plane points anchored at (lon0, lat0)."""
    ll = xy_to_lonlat(np.asarray(xy, dtype=float).reshape(-1, 2),
                      lon0, lat0)
    coords = [[round(float(x), 9), round(float(y), 9)] for x, y in ll]
    if geometry_type == "Point":
        coords = coords[0]
    elif geometry_type == "Polygon":
        coords = [coords]
    return feature_dumps(geometry_type, coords, props)


# ---------------------------------------------------------------------------
# polyline measures
# ---------------------------------------------------------------------------

def _seg_vecs(pl: np.ndarray) -> np.ndarray:
    # pl[1:] - pl[:-1] is ~8x cheaper than np.diff (no axis dispatch);
    # this is the hottest primitive in the per-junction kernels
    return pl[1:] - pl[:-1]


def cumulative_lengths(pl: np.ndarray) -> np.ndarray:
    """Length-so-far at every vertex; shape (N,). First element is 0."""
    if len(pl) == 2:
        return np.array([0.0, math.hypot(pl[1, 0] - pl[0, 0],
                                         pl[1, 1] - pl[0, 1])])
    seg = pl[1:] - pl[:-1]
    d = np.hypot(seg[:, 0], seg[:, 1])
    out = np.empty(len(pl))
    out[0] = 0.0
    np.cumsum(d, out=out[1:])
    return out


def polyline_length(pl: np.ndarray) -> float:
    if len(pl) == 2:
        return math.hypot(pl[1, 0] - pl[0, 0], pl[1, 1] - pl[0, 1])
    seg = pl[1:] - pl[:-1]
    return float(np.hypot(seg[:, 0], seg[:, 1]).sum())


def interpolate_along(pl: np.ndarray, dist: float) -> np.ndarray:
    """Point at distance ``dist`` along the polyline (clamped to ends).

    Analogue of geom PolyLine::dist_along / Shapely interpolate.
    """
    cl = cumulative_lengths(pl)
    total = cl[-1]
    if dist <= 0:
        return pl[0].copy()
    if dist >= total:
        return pl[-1].copy()
    i = int(np.searchsorted(cl, dist, side="right")) - 1
    i = min(i, len(pl) - 2)
    seg_len = cl[i + 1] - cl[i]
    t = 0.0 if seg_len == 0 else (dist - cl[i]) / seg_len
    return pl[i] + t * (pl[i + 1] - pl[i])


def project_onto(pl: np.ndarray, pt: np.ndarray) -> float:
    """Distance along ``pl`` of the closest point to ``pt``.

    Analogue of geom PolyLine::dist_along_of_point (used for stop-line
    placement, reference split_ways.rs:221-311).
    """
    cl = cumulative_lengths(pl)
    a = pl[:-1]
    b = pl[1:]
    ab = b - a
    ap = pt[None, :] - a
    denom = np.einsum("ij,ij->i", ab, ab)
    denom[denom == 0] = 1.0
    t = np.clip(np.einsum("ij,ij->i", ap, ab) / denom, 0.0, 1.0)
    proj = a + t[:, None] * ab
    d2 = np.einsum("ij,ij->i", proj - pt[None, :], proj - pt[None, :])
    i = int(np.argmin(d2))
    seg_len = cl[i + 1] - cl[i]
    return float(cl[i] + t[i] * seg_len)


def slice_between(pl: np.ndarray, d0: float, d1: float) -> np.ndarray:
    """Sub-polyline between distances d0 < d1 (clamped). Analogue of
    geom PolyLine::exact_slice / Shapely substring; used by trim-back
    (reference road.rs:496-527 trim_polyline_both_ends).
    """
    cl = cumulative_lengths(pl)
    total = cl[-1]
    d0 = max(0.0, min(d0, total))
    d1 = max(0.0, min(d1, total))
    if d1 - d0 <= 1e-9:
        # degenerate: return a 2-point zero-ish stub at d0
        p = interpolate_along(pl, d0)
        return np.vstack([p, p])
    p0 = interpolate_along(pl, d0)
    p1 = interpolate_along(pl, d1)
    mask = (cl > d0 + 1e-9) & (cl < d1 - 1e-9)
    mid = pl[mask]
    return dedupe_consecutive(np.vstack([p0[None, :], mid, p1[None, :]]))


def extend_to_length(pl: np.ndarray, target: float) -> np.ndarray:
    """Straight-extend the last segment until total length == target
    (if already longer, return unchanged). Analogue of geom
    PolyLine::extend_to_length; used when trims are negative
    (reference road.rs:496-527 extends instead of slicing).
    """
    total = polyline_length(pl)
    if target <= total + 1e-9:
        return pl
    v = pl[-1] - pl[-2]
    n = np.hypot(v[0], v[1])
    if n == 0:
        return pl
    extra = (target - total) / n
    new_last = pl[-1] + v * extra
    out = pl.copy()
    out[-1] = new_last
    return out


def dedupe_consecutive(pl: np.ndarray, eps: float = 1e-9) -> np.ndarray:
    """Drop consecutive (near-)duplicate points. Analogue of
    Ring::deduping_new's first step (reference geometry/mod.rs:228)."""
    if len(pl) <= 1:
        return pl
    seg = pl[1:] - pl[:-1]
    d = np.hypot(seg[:, 0], seg[:, 1])
    if d.min() > eps:
        return pl  # common case: nothing to drop, no copy
    keep = np.empty(len(pl), dtype=bool)
    keep[0] = True
    np.greater(d, eps, out=keep[1:])
    return pl[keep]


def step_along(pl: np.ndarray, step: float, buffer_ends: float) -> np.ndarray:
    """Points every ``step`` meters with ``buffer_ends`` margin at both
    ends (reference render/output.rs:264-273 draws arrows every 20 m with
    5 m end buffer). Returns (K, 2); may be empty."""
    total = polyline_length(pl)
    if total <= 2 * buffer_ends:
        return np.empty((0, 2))
    dists = np.arange(buffer_ends, total - buffer_ends + 1e-9, step)
    return np.vstack([interpolate_along(pl, d) for d in dists])


# ---------------------------------------------------------------------------
# Douglas-Peucker (reference uses simplify_rdp with eps 0.5/1.0 m,
# split_ways.rs:330-341, collapse_intersection.rs:71-74)
# ---------------------------------------------------------------------------

def simplify_rdp(pl: np.ndarray, epsilon: float) -> np.ndarray:
    if len(pl) <= 2:
        return pl
    keep = np.zeros(len(pl), dtype=bool)
    keep[0] = keep[-1] = True
    stack = [(0, len(pl) - 1)]
    while stack:
        i0, i1 = stack.pop()
        if i1 <= i0 + 1:
            continue
        a, b = pl[i0], pl[i1]
        ab = b - a
        n = math.hypot(ab[0], ab[1])
        pts = pl[i0 + 1 : i1]
        if n == 0:
            d = np.hypot(pts[:, 0] - a[0], pts[:, 1] - a[1])
        else:
            d = np.abs((pts[:, 0] - a[0]) * ab[1] - (pts[:, 1] - a[1]) * ab[0]) / n
        j = int(np.argmax(d))
        if d[j] > epsilon:
            idx = i0 + 1 + j
            keep[idx] = True
            stack.append((i0, idx))
            stack.append((idx, i1))
    return pl[keep]


# ---------------------------------------------------------------------------
# parallel offset (miter join) — replaces geom PolyLine::shift_left/right.
# Standard algorithm: offset each segment by its unit normal, re-intersect
# consecutive offset lines; miter clamped to avoid spikes.
# ---------------------------------------------------------------------------

MITER_THRESHOLD_M = 500.0


def shift_polyline(pl: np.ndarray, offset: float) -> np.ndarray:
    """Offset polyline. Positive offset shifts to the RIGHT of travel
    direction (matching geom shift_right semantics; shift_left = negative).

    Corner handling mirrors the reference geom crate: miter ALWAYS
    except when the miter point lands further than MITER_THRESHOLD_M
    (500 m — an absolute distance, not a ratio) from the original
    vertex, in which case both offset endpoints are kept (bevel).
    An aggressive ratio-based miter limit here produced corner
    collisions ~1 m off the reference's at shallow-angle junctions.
    """
    if len(pl) == 2:
        # fast path: single segment (the common case after RDP)
        dx = pl[1, 0] - pl[0, 0]
        dy = pl[1, 1] - pl[0, 1]
        ln = math.hypot(dx, dy)
        if ln == 0:
            return pl.copy()
        nx = dy / ln * offset
        ny = -dx / ln * offset
        return pl + np.array([nx, ny])
    pl = dedupe_consecutive(pl)
    if len(pl) < 2:
        return pl.copy()
    seg = _seg_vecs(pl)
    ln = np.hypot(seg[:, 0], seg[:, 1])
    ln[ln == 0] = 1.0
    # right normal of direction (dx,dy) is (dy,-dx)
    nx = seg[:, 1] / ln
    ny = -seg[:, 0] / ln
    normals = np.stack([nx, ny], axis=1) * offset
    a_off = pl[:-1] + normals
    b_off = pl[1:] + normals
    out = [a_off[0]]
    for i in range(len(seg) - 1):
        p = line_line_intersection(a_off[i], b_off[i], a_off[i + 1], b_off[i + 1])
        if p is None or math.hypot(p[0] - pl[i + 1][0], p[1] - pl[i + 1][1]) \
                > MITER_THRESHOLD_M:
            # near-parallel or spiky miter: bevel via both endpoints
            out.append(b_off[i])
            out.append(a_off[i + 1])
        else:
            out.append(p)
    out.append(b_off[-1])
    return dedupe_consecutive(np.asarray(out))


def line_line_intersection(p1, p2, p3, p4):
    """Intersection of infinite lines p1p2 and p3p4, or None if parallel."""
    d1 = p2 - p1
    d2 = p4 - p3
    denom = d1[0] * d2[1] - d1[1] * d2[0]
    if abs(denom) < 1e-12:
        return None
    t = ((p3[0] - p1[0]) * d2[1] - (p3[1] - p1[1]) * d2[0]) / denom
    return p1 + t * d1


def _seg_seg_intersection(a0, a1, b0, b1):
    """Proper segment-segment intersection point, or None."""
    d1 = a1 - a0
    d2 = b1 - b0
    denom = d1[0] * d2[1] - d1[1] * d2[0]
    if abs(denom) < 1e-12:
        return None
    t = ((b0[0] - a0[0]) * d2[1] - (b0[1] - a0[1]) * d2[0]) / denom
    u = ((b0[0] - a0[0]) * d1[1] - (b0[1] - a0[1]) * d1[0]) / denom
    if -1e-9 <= t <= 1 + 1e-9 and -1e-9 <= u <= 1 + 1e-9:
        return a0 + t * d1
    return None


def first_intersection(pl_a: np.ndarray, pl_b: np.ndarray):
    """First crossing of two polylines walking along ``pl_a``.

    Returns (point, dist_along_a, dist_along_b) or None. Analogue of geom
    PolyLine::intersection used by the trim-to-corners kernel
    (reference geometry/general_case.rs:11-128). O(n*m) — polylines here
    are tiny (per-road), exactly like the reference's usage.
    """
    if len(pl_a) == 2 and len(pl_b) == 2:
        # fast path: segment × segment (common after RDP)
        p = _seg_seg_intersection(pl_a[0], pl_a[1], pl_b[0], pl_b[1])
        if p is None:
            return None
        da = math.hypot(p[0] - pl_a[0][0], p[1] - pl_a[0][1])
        db = math.hypot(p[0] - pl_b[0][0], p[1] - pl_b[0][1])
        return (p, da, db)
    cl_a = cumulative_lengths(pl_a)
    cl_b = cumulative_lengths(pl_b)
    best = None
    for i in range(len(pl_a) - 1):
        for j in range(len(pl_b) - 1):
            p = _seg_seg_intersection(pl_a[i], pl_a[i + 1], pl_b[j], pl_b[j + 1])
            if p is None:
                continue
            da = cl_a[i] + math.hypot(p[0] - pl_a[i][0], p[1] - pl_a[i][1])
            db = cl_b[j] + math.hypot(p[0] - pl_b[j][0], p[1] - pl_b[j][1])
            if best is None or da < best[1]:
                best = (p, da, db)
        if best is not None and best[1] <= cl_a[i + 1]:
            break  # cannot find an earlier hit in later segments of a
    return best


# ---------------------------------------------------------------------------
# thickening (geom PolyLine::make_polygons — reference renders roads as
# center_line.make_polygons(total_width), render/mod.rs:71)
# ---------------------------------------------------------------------------

def thicken_polyline(pl: np.ndarray, width: float) -> np.ndarray:
    """Closed ring (first point repeated last) of the polyline buffered
    to ``width`` with flat caps: left edge forward + right edge reversed."""
    half = width / 2.0
    left = shift_polyline(pl, -half)
    right = shift_polyline(pl, half)
    ring = np.vstack([left, right[::-1], left[0][None, :]])
    return dedupe_consecutive(ring)


def circle_ring(center: np.ndarray, radius: float) -> np.ndarray:
    """Closed circular ring — the reference's placeholder/fallback
    intersection polygon is a 3 m circle (intersection.rs:208,
    operations/update_geometry.rs Err branch). The geom crate's
    Circle::to_polygon emits 60 vertices starting at angle 0 stepping
    clockwise (−6° in the y-up frame) — measured byte-for-byte from the
    leeds_cycleway golden's fallback rings."""
    ang = -np.linspace(0, 2 * math.pi, 60, endpoint=False)
    pts = np.stack([center[0] + radius * np.cos(ang), center[1] + radius * np.sin(ang)], axis=1)
    return np.vstack([pts, pts[0][None, :]])


# ---------------------------------------------------------------------------
# ring / polygon predicates
# ---------------------------------------------------------------------------

def signed_area(ring: np.ndarray) -> float:
    x = ring[:, 0]
    y = ring[:, 1]
    return 0.5 * float(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))


def is_clockwise(ring: np.ndarray) -> bool:
    return signed_area(ring) < 0


def ring_centroid(ring: np.ndarray) -> np.ndarray:
    a = signed_area(ring)
    if abs(a) < 1e-12:
        return ring.mean(axis=0)
    x = ring[:, 0]
    y = ring[:, 1]
    cross = x * np.roll(y, -1) - np.roll(x, -1) * y
    cx = float(np.sum((x + np.roll(x, -1)) * cross)) / (6 * a)
    cy = float(np.sum((y + np.roll(y, -1)) * cross)) / (6 * a)
    return np.array([cx, cy])


def point_in_ring(pt: np.ndarray, ring: np.ndarray) -> bool:
    """Ray-casting PIP (reference block.rs:55-69 uses polygon contains)."""
    x, y = float(pt[0]), float(pt[1])
    inside = False
    n = len(ring)
    j = n - 1
    for i in range(n):
        xi, yi = ring[i]
        xj, yj = ring[j]
        if (yi > y) != (yj > y):
            x_cross = (xj - xi) * (y - yi) / (yj - yi) + xi
            if x < x_cross:
                inside = not inside
        j = i
    return inside


# ---------------------------------------------------------------------------
# angles
# ---------------------------------------------------------------------------

def angle_deg(frm: np.ndarray, to: np.ndarray) -> float:
    return math.degrees(math.atan2(to[1] - frm[1], to[0] - frm[0]))


def normalized_degrees(deg: float) -> float:
    """[0, 360) — matches geom Angle::normalized_degrees used as the
    clockwise sort key (reference intersection.rs:269-273 truncates to i64;
    we expose the float and truncate at the call site identically)."""
    d = deg % 360.0
    return d + 360.0 if d < 0 else d
