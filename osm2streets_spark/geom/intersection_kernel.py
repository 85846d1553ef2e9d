"""Per-intersection geometry + movement kernel (pure Python/numpy).

Runs inside a T6 ``map_groups`` junction group — one intersection at a
time, with its incident road end-geometries (see road_end). This is the Spark re-expression of the
reference's update_geometry / update_movements dispatch
(osm2streets/src/operations/update_geometry.rs:8-65,
 geometry/mod.rs:103-168, intersection.rs:286-447).

Each incident road arrives as a polyline pointing AWAY from the
intersection (the reference orients them TOWARD it; reversed here so
``dist along`` = distance from the junction, which is what trims mean).

Semantics reproduced (cited), algorithms re-derived:
  * clockwise road ordering via walk-back-by-shortest-road sorting points
    (intersection.rs:224-276, incl. the `as i64` angle-key truncation)
  * one dispatch per junction: pretrim memo, else terminus square ≈
    road width (geometry/terminus.rs:8-64), degenerate, ramp, general
  * degenerate 2-road trim: 1.0 m ideal, 0.1 m min (geometry/degenerate.rs)
  * general case: adjacent-edge collision → deepest hit wins per road
    (geometry/general_case.rs:11-128); the corner polygon is the
    reference's own walk (geometry/mod.rs:172-229 polygon_from_corners:
    trimmed-edge endpoints + adjacent-pair corners from edges
    re-extended to their untrimmed lengths, wrong-half hits skipped) —
    see intersection_polygon's general branch, NOT an angle-ordered
    approximation
  * movements + kind classification and the traffic-conflict lattice
    Uncontested < Diverge < Merge < Cross (intersection.rs:297-447)
"""

from __future__ import annotations

import math

import numpy as np

from .core import (
    cumulative_lengths, interpolate_along, first_intersection,
    normalized_degrees, polyline_length, shift_polyline, circle_ring,
    dedupe_consecutive, extend_to_length, line_line_intersection,
    slice_between,
)

UNCONTESTED, DIVERGE, MERGE, CROSS = 0, 1, 2, 3


# ---------------------------------------------------------------------------
# clockwise ordering (intersection.rs:224-276)
# ---------------------------------------------------------------------------

def sort_roads_cw(roads: list[dict]) -> list[dict]:
    """roads: dicts with 'xy' (np.ndarray pointing away from intersection).
    Returns the list sorted clockwise, matching sort_roads semantics:
    sorting point = each polyline walked out by the shortest incident
    road's length; key = int(normalized_degrees(angle from sorting point
    to the intersection center))."""
    if len(roads) < 2:
        return list(roads)
    # center = mean of the incident endpoints (intersection.rs:244-251)
    endpoints = np.array([r["xy"][0] for r in roads])
    center = endpoints.mean(axis=0)
    shortest = min(polyline_length(r["xy"]) for r in roads)
    keyed = []
    for r in roads:
        sorting_pt = interpolate_along(r["xy"], shortest)
        ang = math.degrees(math.atan2(center[1] - sorting_pt[1],
                                      center[0] - sorting_pt[0]))
        # reference angles measure clockwise-positive (screen coords,
        # y-down); our plane is y-up, so negate to sort clockwise.
        keyed.append((int(normalized_degrees(-ang)), r))
    keyed.sort(key=lambda t: t[0])
    return [r for _, r in keyed]


# ---------------------------------------------------------------------------
# trims (T6 dispatch by arity — update_geometry.rs:8-65)
# ---------------------------------------------------------------------------

def _dir_at(pl: np.ndarray, dist: float) -> np.ndarray:
    """Unit tangent of the polyline at arclength ``dist``."""
    cl = cumulative_lengths(pl)
    i = min(int(np.searchsorted(cl, max(dist, 1e-9), side="left")),
            len(pl) - 1)
    t = pl[i] - pl[i - 1] if i > 0 else pl[1] - pl[0]
    norm = math.hypot(t[0], t[1]) or 1.0
    return t / norm


def _infinite_line_hits(pt: np.ndarray, direction: np.ndarray,
                        pl: np.ndarray) -> list[float]:
    """Arclengths along ``pl`` where the infinite line through ``pt``
    with ``direction`` crosses it (general_case.rs:131-137)."""
    hits = []
    cl = cumulative_lengths(pl)
    dx, dy = float(direction[0]), float(direction[1])
    for i in range(len(pl) - 1):
        ax, ay = pl[i]
        bx, by = pl[i + 1]
        sx, sy = bx - ax, by - ay
        denom = sx * dy - sy * dx
        if abs(denom) < 1e-12:
            continue
        # solve a + u*(b-a) = pt + t*dir  for u in [0,1]
        u = ((pt[0] - ax) * dy - (pt[1] - ay) * dx) / denom
        if -1e-9 <= u <= 1 + 1e-9:
            hits.append(float(cl[i] + u * (cl[i + 1] - cl[i])))
    return hits


def _cw_edges(roads_cw: list[dict]) -> list[tuple[dict, np.ndarray]]:
    """RoadEdge::calculate (road.rs:569-601) in the away-pointing frame:
    per clockwise road, its two thickened edge polylines in clockwise
    order — [right-of-into-travel, left-of-into-travel]. With away-
    pointing centers and shift_polyline's positive=right-of-travel,
    right-of-into = shift(-half) and left-of-into = shift(+half); edges
    start at the intersection side."""
    out = []
    for r in roads_cw:
        half = max(r["width"], 0.5) / 2.0
        out.append((r, shift_polyline(r["xy"], -half)))   # right_in
        out.append((r, shift_polyline(r["xy"], half)))    # left_in
    return out


MERGE_POINT_LENGTH = 5.0  # on_off_ramp.rs:8

RAMP_TYPES = {"motorway", "motorway_link", "primary_link",
              "secondary_link", "tertiary_link", "trunk_link"}


def _last_intersection(pl_a: np.ndarray, pl_b: np.ndarray):
    """Crossing of two polylines FARTHEST along ``pl_a`` (both
    away-pointing) — the reference's into-frame PolyLine::intersection
    walks from the far end (on_off_ramp.rs:70-77)."""
    hit = first_intersection(pl_a[::-1], pl_b[::-1])
    if hit is None:
        return None
    pt, da, db = hit
    return pt, polyline_length(pl_a) - da, polyline_length(pl_b) - db


def _perp_trim(pt: np.ndarray, edge: np.ndarray, d_along_edge: float,
               center: np.ndarray) -> float | None:
    """Trim distance: project the edge hit perpendicularly back to the
    center line, keeping the candidate nearest the intersection
    (general_case.rs:79-99)."""
    tang = _dir_at(edge, d_along_edge)
    perp = np.array([-tang[1], tang[0]])
    cands = _infinite_line_hits(pt, perp, center)
    return min(cands) if cands else None


def ramp_trims(roads_cw: list[dict]) -> dict | None:
    """J9 on/off-ramp special case (geometry/on_off_ramp.rs:13-179):
    3 roads, one of the highway types that forms ramps. The THIN road
    (smallest width; ties prefer outbound) is trimmed where it hits a
    thick road FARTHEST along; that thick is trimmed at the same hit;
    the OTHER thick is EXTENDED by the trimmed-off piece minus a 5 m
    merge point. Returns trims (extension = negative trim) or None to
    fall back to the general case."""
    if len(roads_cw) != 3:
        return None
    if not any(r.get("highway_type") in RAMP_TYPES or r.get("is_link")
               for r in roads_cw):
        return None
    # thin = min (width, outbound-preferred); thicks = the two widest
    ordered = sorted(roads_cw,
                     key=lambda r: (r["width"], not r["is_src_end"]))
    thin, thick_a, thick_b = ordered[0], ordered[1], ordered[2]
    halves = {r["key"]: max(r["width"], 0.5) / 2.0 for r in roads_cw}
    edges = {r["key"]: (shift_polyline(r["xy"], -halves[r["key"]]),
                        shift_polyline(r["xy"], halves[r["key"]]))
             for r in roads_cw}

    best = None  # (t_thin, t_thick, thick_key)
    len_thin = polyline_length(thin["xy"])
    for thin_pl in edges[thin["key"]]:
        for thick in (thick_a, thick_b):
            for thick_pl in edges[thick["key"]]:
                hit = _last_intersection(thin_pl, thick_pl)
                if hit is None:
                    continue
                pt, d_thin_e, d_thick_e = hit
                pt = np.asarray(pt, dtype=float)
                t_thin = _perp_trim(pt, thin_pl, d_thin_e, thin["xy"])
                t_thick = _perp_trim(pt, thick_pl, d_thick_e, thick["xy"])
                # the reference ABORTS the whole ramp case — falling
                # back to trim_to_corners — when ANY pair's hit fails
                # to project onto BOTH center lines with a valid
                # (non-degenerate) slice: every `?` inside the
                # on_off_ramp.rs:76-96 loop returns None from the whole
                # function. The London Road junctions in the
                # st_georges golden only keep their roads because of
                # exactly this bail.
                len_thick = polyline_length(thick["xy"])
                if (t_thin is None or t_thick is None
                        or t_thin > len_thin - 0.01
                        or t_thick > len_thick - 0.01):
                    return None
                # minimal remaining thin length = deepest thin trim
                if best is None or t_thin > best[0]:
                    best = (t_thin, t_thick, thick["key"])
    if best is None:
        return None
    t_thin, t_thick, thick_key = best
    # the trimmed-off thick piece must exceed the merge point length
    # (3×EPSILON_DIST slack, on_off_ramp.rs:139-141)
    if t_thick <= MERGE_POINT_LENGTH + 0.03:
        return None
    # the LENGTHEN step (on_off_ramp.rs:146-155) concatenates the cut
    # piece of one thick onto the other thick's center with
    # PolyLine::extend, which requires their junction endpoints to
    # COINCIDE. Placement-shifted centers of different roads meet the
    # junction at different points, so extend fails and the whole ramp
    # case falls back to trim_to_corners — exactly what keeps the
    # London Road junctions alive in the st_georges golden.
    thick_sel = thick_a if thick_key == thick_a["key"] else thick_b
    thick_oth = thick_b if thick_key == thick_a["key"] else thick_a
    if not np.allclose(thick_sel["xy"][0], thick_oth["xy"][0],
                       atol=1e-6):
        return None
    other_key = thick_b["key"] if thick_key == thick_a["key"] \
        else thick_a["key"]
    return {
        thin["key"]: float(t_thin),
        thick_key: float(t_thick),
        # LENGTHEN the other thick through the junction
        # (on_off_ramp.rs:139-155); negative trim = extension
        other_key: -float(t_thick - MERGE_POINT_LENGTH),
    }


def road_end(road_id: int, is_src_end: bool, xy, width: float,
             **extras) -> dict:
    """One road end at a junction in the kernels' away frame: the flat
    ``xy`` polyline reshaped to points and, at a dst end, reversed so it
    leaves the junction. ``extras`` (pretrim memo, is_edge, other_i,
    is_link, movement fields, lane specs) ride along verbatim."""
    pl = np.asarray(xy, dtype=float).reshape(-1, 2)
    return {"key": (road_id, is_src_end), "road_id": road_id,
            "is_src_end": is_src_end, "xy": pl if is_src_end else pl[::-1],
            "width": float(width), **extras}


def compute_trims(roads_cw: list[dict]) -> tuple[dict, str]:
    """The per-junction trims dispatch (geometry/mod.rs:103-168) →
    ({road_key: trim_meters}, mode). road_key = (road_id, is_src_end);
    mode ∈ {'pretrimmed','terminus','degenerate','ramp','general'}.

    pretrimmed.rs:13-65: when any end carries a ``pretrim`` memo (a T1
    merge recorded where it was already trimmed; None/NaN = unset), the
    memos are used verbatim, 0 where unset;
    n==1: terminus.rs:8-31 — a dead end trims its width (0.4×length
    when short); a MapEdge road shorter than 3×width is extended to
    3×width before trimming width off, so its net trim, relative to
    the original center that the center rebuild consumes, is
    negative below 2×width (an extension);
    n==2: degenerate.rs:8-38 (1.0 m ideal / 0.1 m short / bail <0.2);
    n==3 with a ramp-type road: on_off_ramp.rs (see ramp_trims);
    otherwise general_case.rs trim_to_corners — every adjacent clockwise
    pair of road EDGES (facing edges only, not all pairs) collides at
    the hit nearest the intersection; each side projects the hit
    perpendicularly back to its center line and trims to the candidate
    nearest the intersection. Deepest trim per road end wins."""
    memo = {r["key"]: r.get("pretrim") for r in roads_cw}
    memo = {k: float(v) for k, v in memo.items() if v is not None and v == v}
    if memo:
        return {r["key"]: memo.get(r["key"], 0.0) for r in roads_cw}, \
            "pretrimmed"
    n = len(roads_cw)
    if n == 1:
        r = roads_cw[0]
        w = max(r["width"], 1.0)
        length = polyline_length(r["xy"])
        if r.get("is_edge"):
            trim = length - max(length, 3.0 * w) + w
        else:
            trim = w if length > w + 1.0 else 0.4 * length
        return {r["key"]: float(trim)}, "terminus"
    trims = {r["key"]: 0.0 for r in roads_cw}
    if n == 2:
        lengths = [polyline_length(r["xy"]) for r in roads_cw]
        if min(lengths) < 0.2:
            return trims, "degenerate"  # bail (degenerate.rs:23-26)
        for r, length in zip(roads_cw, lengths):
            trims[r["key"]] = 1.0 if length > 2.0 else 0.1
        return trims, "degenerate"

    rt = ramp_trims(roads_cw)
    if rt is not None:
        return rt, "ramp"

    edges = _cw_edges(roads_cw)
    edges.append(edges[0])
    lengths = {r["key"]: polyline_length(r["xy"]) for r in roads_cw}
    for (ra, ea), (rb, eb) in zip(edges, edges[1:]):
        if ra["key"] == rb["key"]:
            continue  # two edges of the same road end
        if ra["road_id"] == rb["road_id"]:
            continue  # loop road: its own two ends (general_case.rs:43)
        hit = first_intersection(ea, eb)
        if hit is None:
            continue
        pt, da, db = hit
        pt = np.asarray(pt, dtype=float)
        for road, edge, d in ((ra, ea, da), (rb, eb, db)):
            # loop-pair wrong-end guard (general_case.rs:53-74)
            if _same_endpoints(ra, rb):
                d_this = math.hypot(*(pt - road["xy"][0]))
                d_other = math.hypot(*(pt - road["xy"][-1]))
                if d_other < d_this:
                    continue
            t = _perp_trim(pt, edge, d, road["xy"])
            if t is None:
                continue
            if t < lengths[road["key"]]:
                trims[road["key"]] = max(trims[road["key"]], t)
    return trims, "general"


def _same_endpoints(ra: dict, rb: dict) -> bool:
    """CommonEndpoint::Both — two distinct roads joining the same two
    intersections (a loop pair)."""
    ia, ib = ra.get("other_i"), rb.get("other_i")
    return ia is not None and ia == ib


# ---------------------------------------------------------------------------
# intersection polygon (geometry/mod.rs:172-229; terminus.rs; degenerate.rs)
# ---------------------------------------------------------------------------

def _trimmed_center_away(xy: np.ndarray, trim: float) -> np.ndarray:
    """The center polyline after applying ``trim`` at the junction end
    (away frame). Negative trim extends past the original end along the
    first segment (terminus.rs:20-29, on_off_ramp.rs:143-155)."""
    length = polyline_length(xy)
    if trim < 0:
        return extend_to_length(xy[::-1], length - trim)[::-1]
    if trim > 0:
        return slice_between(xy, min(trim, length - 0.01), length)
    return xy


def _shift_end_corners(center_away: np.ndarray, width: float):
    """(right-of-away, left-of-away) corner points at the junction end:
    the ENDPOINTS of the whole shifted polylines, NOT perpendicular
    offsets of the end point. A miter at a bend near the end slants the
    cap — exactly the reference's shift_left/right().last_pt()
    (degenerate.rs:40-45, terminus.rs:41-53, on_off_ramp.rs:160-171;
    measured: bristol node 4740760678's golden quad has a 1.6 m slanted
    cap that a perpendicular cross-section misses)."""
    half = max(width, 0.5) / 2.0
    return (shift_polyline(center_away, half)[0],
            shift_polyline(center_away, -half)[0])


def _trimmed_edges(roads_cw: list[dict], trims: dict):
    """Edges of the TRIMMED centers in clockwise order, away-pointing,
    plus per-edge bookkeeping for polygon_from_corners."""
    out = []
    for r in roads_cw:
        half = max(r["width"], 0.5) / 2.0
        length = polyline_length(r["xy"])
        trim = min(trims.get(r["key"], 0.0), length - 0.01)
        center = slice_between(r["xy"], trim, length) if trim > 0 \
            else r["xy"]
        pls = (shift_polyline(center, -half), shift_polyline(center, half))
        for pl in pls:  # right_in then left_in (cw order)
            out.append({"road": r, "pl": pl, "orig_len": length})
    return out


def _node_point(roads_cw: list[dict]) -> np.ndarray:
    """The junction's node position: the shared endpoint of the incident
    untrimmed centers. The reference's geometry-failure fallback circles
    are anchored at roads[0].reference_line's endpoint at the junction
    (operations/update_geometry.rs Err branch) — the raw node for
    unshifted roads. Placement-shifted centers may not coincide exactly;
    take the most common endpoint."""
    pts = [tuple(np.round(np.asarray(r["xy"][0], dtype=float), 6))
           for r in roads_cw]
    best = max(sorted(set(pts)), key=pts.count)
    return np.asarray(best, dtype=float)


# adjacent-vertex fold tolerance for emitted rings (m), swept against
# the goldens; see _ring_or_circle's docstring for the golden-derived
# semantics.
RING_FOLD_EPS = 0.01

# sub-mm guard for corner hits at a re-extended edge tip: hits closer
# than this to EITHER tip sit inside the reference's 0.1 mm grid
# jitter band and its quantized segment test drops them (swept against
# the goldens)
TIP_TOUCH_EPS = 0.0005


def _ring_or_circle(endpts: list, roads_cw: list[dict]) -> np.ndarray:
    """Close + clean the emitted ring, mirroring Ring::deduping_new →
    Ring::new (geometry/mod.rs:228) + the caller's failure fallback:

      * adjacent vertices within 1 cm fold into one (keep-first) — the
        reference's corner hits and re-shifted edge endpoints coincide
        EXACTLY on its 0.1 mm-quantized grid, while our unquantized
        arithmetic leaves them ~mm apart (measured: northgate node
        9812120028, endpoint 9.5 mm from its corner hit, golden keeps
        only the corner);
      * a ring with NON-adjacent BIT-EXACT duplicate vertices is the
        pinched/bowtie shape Ring::new rejects ("duplicate points") —
        the reference then keeps the node-anchored 3 m / 60-point
        fallback circle (byte-visible in the leeds_cycleway golden).
        Exact equality is the right mirror: on the reference's
        quantized grid only vertices derived from the IDENTICAL
        computation collide exactly; an endpoint and a corner hit that
        merely land close (1e-14 here) differ by a quantum there and
        the ring survives (measured: leeds triggers are bit-exact
        dups and golden circles; arizona near-dups at 4e-14 keep
        their golden polygons)."""
    ring = np.array(endpts + [endpts[0]])
    ring = dedupe_consecutive(ring, RING_FOLD_EPS)
    # Wrap-around fold: when the near-duplicate pair straddles the
    # closure (last emitted endpoint within 1 cm of the first), the
    # adjacent fold above dropped the closing vertex and left the ring
    # OPEN ([A,B,C,D,A+5mm] → open 5-point array). Keep-first like the
    # reference's quantized grid (the golden keeps only the corner):
    # drop the trailing near-dup and re-close on ring[0].
    if (ring[-1][0] != ring[0][0] or ring[-1][1] != ring[0][1]) \
            and float(np.hypot(*(ring[-1] - ring[0]))) <= RING_FOLD_EPS:
        ring = np.vstack([ring[:-1], ring[0:1]])
    if len(ring) >= 4:
        n = len(ring)
        exact_dup = False
        for i in range(n):
            for j in range(i + 2, n):
                if i == 0 and j == n - 1:
                    continue
                if ring[i][0] == ring[j][0] and ring[i][1] == ring[j][1]:
                    exact_dup = True
                    break
            if exact_dup:
                break
        if exact_dup:
            return circle_ring(_node_point(roads_cw), 3.0)
        return ring
    return circle_ring(_node_point(roads_cw), 3.0)


def intersection_polygon(roads_cw: list[dict], trims: dict,
                         mode: str = "general") -> np.ndarray:
    """The junction-area ring dispatch, fed compute_trims' (trims, mode).

    n==1: the square from the trimmed end back toward the junction by
    up to width (terminus.rs:32-64); a MapEdge terminus puts it on the
    center line extended to 3×width, [extended tip, + width] — even
    when the net trim on the ORIGINAL length is positive (2w < len <
    3w), so the square can poke past the clip boundary (arizona golden:
    outer edge 7.3 m beyond the clip node, depth exactly w); n==2:
    degenerate square from the 4 trimmed corner points
    (degenerate.rs:40-47); ramp: the 6 final center-line endpoints;
    otherwise polygon_from_corners (geometry/mod.rs:172-229) — each
    trimmed edge contributes its intersection-side endpoint, and
    adjacent edges of different roads contribute the collision corner
    of the edges re-extended to their original lengths. Corner points
    are shifted-polyline endpoints (see _shift_end_corners)."""
    if len(roads_cw) == 1:
        r = roads_cw[0]
        w = max(r["width"], 1.0)
        xy, trim = r["xy"], trims.get(r["key"], 0.0)
        if mode == "terminus" and r.get("is_edge"):
            if polyline_length(xy) < 3.0 * w:
                xy = extend_to_length(xy[::-1], 3.0 * w)[::-1]
            trim = w
        c_r, c_l = _shift_end_corners(_trimmed_center_away(xy, trim), w)
        b_r, b_l = _shift_end_corners(
            _trimmed_center_away(xy, max(trim - w, 0.0)), w)
        return np.array([c_r, c_l, b_l, b_r, c_r])
    if len(roads_cw) == 2:
        if min(polyline_length(r["xy"]) for r in roads_cw) < 0.2:
            # degenerate.rs:23-26 bails outright on a too-short road —
            # the caller keeps the node-anchored fallback circle
            return circle_ring(_node_point(roads_cw), 3.0)
        corners = []
        for r in roads_cw:
            trim = trims.get(r["key"], 0.0)
            c_r, c_l = _shift_end_corners(
                _trimmed_center_away(r["xy"], trim), r["width"])
            corners.append((c_l, c_r))
        (a_l, a_r), (b_l, b_r) = corners
        return _ring_or_circle([a_l, b_r, b_l, a_r], roads_cw)

    if mode == "ramp":
        # on_off_ramp.rs:158-175: just the 6 endpoints of the final
        # center lines — no corner collisions
        endpts = []
        for r in roads_cw:
            c_r, c_l = _shift_end_corners(_trimmed_center_away(
                r["xy"], trims.get(r["key"], 0.0)), r["width"])
            endpts.append(c_l)
            endpts.append(c_r)
        return _ring_or_circle(endpts, roads_cw)

    edges = _trimmed_edges(roads_cw, trims)
    edges.append(edges[0])
    endpts = []
    for one, two in zip(edges, edges[1:]):
        endpts.append(one["pl"][0])  # i-side endpoint of the trimmed edge
        if one["road"]["road_id"] == two["road"]["road_id"]:
            continue  # same road (incl. a loop road's two ends)
        # corner: collide both edges re-extended (at the i side) to
        # their original untrimmed lengths; keep the hit nearest the
        # intersection unless it lands on the wrong half (mod.rs:195-221)
        exts = []
        for e in (one, two):
            pl = e["pl"]
            cur = polyline_length(pl)
            add = max(e["orig_len"] - cur, 0.0)
            if add > 1e-9:
                pl = extend_to_length(pl[::-1], cur + add)[::-1]
            exts.append((pl, add, cur))
        hit = first_intersection(exts[0][0], exts[1][0])
        if hit is not None:
            pt, da, db = hit
            d_on_trimmed = da - exts[0][1]
            # Near-parallel FACING edges (sausage links, dual-carriageway
            # connections): the "corner" lands within ~1 cm of the tip of
            # BOTH re-extended edges, inside the junction face — the
            # reference's quantized segment-crossing test rejects those
            # hits (goldens show a straight face there; sensitivity to
            # the 0.1 mm grid is ~100x at these angles, so the hit falls
            # off-segment). A hit near ONE tip but well along the other
            # edge is a genuine angled corner the reference keeps
            # (i5/leeds goldens carry the extra vertex ~4-9 cm from the
            # edge endpoint — the former min() test dropped those).
            not_tip = ((da >= 0.01 or db >= 0.01)
                       and min(da, db) >= TIP_TOUCH_EPS)
            if not_tip and d_on_trimmed <= exts[0][2] / 2.0:
                endpts.append(np.asarray(pt, dtype=float))
    return _ring_or_circle(endpts, roads_cw)


# ---------------------------------------------------------------------------
# sidewalk corners (render/intersection_markings.rs:43-135)
# ---------------------------------------------------------------------------

def _ring_positions(ring: np.ndarray):
    closed = ring
    if not np.allclose(closed[0], closed[-1]):
        closed = np.vstack([closed, closed[0]])
    cl = cumulative_lengths(closed)
    return closed, cl


def _project_on_ring(closed: np.ndarray, cl: np.ndarray, pt: np.ndarray):
    """(perimeter position, snapped point) of the closest ring point."""
    best = (None, None, float("inf"))
    for i in range(len(closed) - 1):
        a, b = closed[i], closed[i + 1]
        ab = b - a
        ln2 = float(ab @ ab)
        t = 0.0 if ln2 == 0 else float(np.clip((pt - a) @ ab / ln2, 0, 1))
        q = a + ab * t
        d = float(np.hypot(*(pt - q)))
        if d < best[2]:
            best = (cl[i] + t * math.sqrt(ln2), q, d)
    return best[0], best[1]


def _ring_shorter_slice(ring: np.ndarray, a: np.ndarray,
                        b: np.ndarray) -> list | None:
    """Points along the ring between a and b, taking the shorter arc
    (geom Ring::get_shorter_slice_btwn)."""
    closed, cl = _ring_positions(ring)
    total = cl[-1]
    if total <= 0:
        return None
    pa, qa = _project_on_ring(closed, cl, np.asarray(a, dtype=float))
    pb, qb = _project_on_ring(closed, cl, np.asarray(b, dtype=float))
    if pa is None or pb is None:
        return None

    def walk(p0, p1):
        # vertices with perimeter position strictly between p0 and p1
        pts = [qa if p0 == pa else qb]
        pos = p0
        length = (p1 - p0) % total
        verts = [(c % total, closed[i]) for i, c in enumerate(cl[:-1])]
        between = sorted(
            (((c - p0) % total), v) for c, v in verts
            if 0 < ((c - p0) % total) < length)
        pts.extend(v for _, v in between)
        pts.append(qb if p1 == pb else qa)
        return pts, length

    fwd, len_f = walk(pa, pb)
    back, len_b = walk(pb, pa)
    if len_f <= len_b:
        return fwd
    return list(reversed(back))


def _point_in_ring(ring: np.ndarray, pt) -> bool:
    closed, _ = _ring_positions(ring)
    x, y = float(pt[0]), float(pt[1])
    inside = False
    for i in range(len(closed) - 1):
        x1, y1 = closed[i]
        x2, y2 = closed[i + 1]
        if (y1 > y) != (y2 > y):
            xi = x1 + (y - y1) * (x2 - x1) / (y2 - y1)
            if xi > x:
                inside = not inside
    return inside


WALKABLE = ("sidewalk", "shoulder")


def sidewalk_corners(ends: list[dict], ring: np.ndarray) -> list[np.ndarray]:
    """make_sidewalk_corners (render/intersection_markings.rs:43-135):
    for each clockwise-adjacent pair of road edges from different roads
    whose outer lanes are both sidewalks/shoulders (roads with more
    than just that lane), fill the corner polygon between the outer
    edge endpoints (walking the shorter arc of the intersection ring)
    and the inner sidewalk edges (plus their projected meet point when
    it falls inside the junction).

    ends: dicts with xy (away-pointing TRIMMED center), width, specs
    (lane dict list, left-to-right in travel direction), is_src_end,
    road_id, key."""
    roads_cw = sort_roads_cw(ends)
    edges = []
    for r in roads_cw:
        half = max(r["width"], 0.5) / 2.0
        specs = r["specs"]
        # into-frame right edge pairs with specs[0] at a src end and
        # specs[-1] at a dst end (road.rs:574-599 RoadEdge::calculate)
        right_lane = specs[0] if r["is_src_end"] else specs[-1]
        left_lane = specs[-1] if r["is_src_end"] else specs[0]
        edges.append({"r": r, "pl": shift_polyline(r["xy"], -half),
                      "lane": right_lane, "side": -1.0})
        edges.append({"r": r, "pl": shift_polyline(r["xy"], half),
                      "lane": left_lane, "side": 1.0})
    if not edges:
        return []
    edges.append(edges[0])
    corners = []
    for one, two in zip(edges, edges[1:]):
        if one["r"]["road_id"] == two["r"]["road_id"]:
            continue
        if one["lane"]["lt"] not in WALKABLE \
                or two["lane"]["lt"] not in WALKABLE:
            continue
        if len(one["r"]["specs"]) == 1 or len(two["r"]["specs"]) == 1:
            continue
        c1 = one["pl"][0]
        c2 = two["pl"][0]
        pts = _ring_shorter_slice(ring, c1, c2)
        if pts is None:
            continue
        # inner sides of each sidewalk: shift inward by the lane width
        w1 = float(one["lane"].get("width") or 2.0)
        w2 = float(two["lane"].get("width") or 2.0)
        h1 = max(one["r"]["width"], 0.5) / 2.0
        h2 = max(two["r"]["width"], 0.5) / 2.0
        inner1 = shift_polyline(one["r"]["xy"], one["side"] * (h1 - w1))
        inner2 = shift_polyline(two["r"]["xy"], two["side"] * (h2 - w2))
        if len(inner1) < 2 or len(inner2) < 2:
            continue
        meet = line_line_intersection(inner1[1], inner1[0],
                                      inner2[1], inner2[0])
        poly = list(pts) + [inner2[0]]
        if meet is not None and _point_in_ring(ring, meet):
            poly.append(meet)
        poly.append(inner1[0])
        poly.append(poly[0])
        arr = dedupe_consecutive(np.asarray(poly, dtype=float))
        if len(arr) >= 4:
            corners.append(arr)
    return corners


# ---------------------------------------------------------------------------
# movements + kind (intersection.rs:286-447)
# ---------------------------------------------------------------------------

def _is_between(num: int, rng: tuple[int, int]) -> bool:
    bot, top = min(rng), max(rng)
    return bot < num < top


def calc_conflict(a, b, driving_side: str) -> int:
    """Faithful reimplementation of calc_conflict (intersection.rs:381-441):
    movements are (src_idx, dst_idx) into the clockwise road list."""
    if a[0] == b[0] and a[1] == b[1]:
        return UNCONTESTED
    if a[0] == b[0]:
        return DIVERGE
    if a[1] == b[1]:
        return MERGE
    is_driving_side_between = (driving_side == "left") ^ (a[0] < a[1])
    if a[0] == b[1]:
        return CROSS if (is_driving_side_between ^ _is_between(b[0], a)) \
            else UNCONTESTED
    if a[1] == b[0]:
        return CROSS if (is_driving_side_between ^ _is_between(b[1], a)) \
            else UNCONTESTED
    if _is_between(a[0], b) ^ _is_between(a[1], b):
        return CROSS
    return UNCONTESTED


def movements_and_kind(roads_cw: list[dict], driving_side: str = "right"):
    """→ (movements: list[(road_id, road_id)], kind: str).

    roads_cw dicts need: road_id, driveable(bool), can_out(bool),
    can_in(bool), banned_to(set[road_id]), only_to(set[road_id]).
    can_out/can_in are precomputed per end from oneway_for_driving
    (road.rs:232-254).
    """
    droads = [r for r in roads_cw if r["driveable"]]
    # a terminus is characterised by a single connected DRIVEABLE road
    # (intersection.rs:305-308); zero driveable roads falls through to
    # the empty-connections path → Connection, exactly like the
    # reference (a footway dead-end is a Connection there too)
    if len(droads) == 1:
        return [], "Terminus"

    connections = []
    for s in range(len(droads)):
        if not droads[s]["can_out"]:
            continue
        for d in range(len(droads)):
            if s == d:
                continue
            if not droads[d]["can_in"]:
                continue
            # turn restrictions (road.rs:256-274)
            src = droads[s]
            dst_id = droads[d]["road_id"]
            if dst_id in src["banned_to"]:
                continue
            if src["only_to"] and dst_id not in src["only_to"]:
                continue
            connections.append((s, d))

    worst = UNCONTESTED
    for i in range(len(connections)):
        for j in range(i + 1, len(connections)):
            worst = max(worst, calc_conflict(connections[i], connections[j],
                                             driving_side))
            if worst == CROSS:
                break
        if worst == CROSS:
            break

    kind = {UNCONTESTED: "Connection", DIVERGE: "Fork", MERGE: "Fork",
            CROSS: "Intersection"}[worst]
    movements = [(droads[s]["road_id"], droads[d]["road_id"])
                 for s, d in connections]
    return movements, kind
