"""T1/T2/T4 network simplification passes.

Reference: transform/mod.rs:22-29 applies [CollapseShortRoads,
CollapseDegenerateIntersections, CollapseShortRoads] to clipped areas;
RemoveDisconnectedRoads (transform/remove_disconnected.rs) keeps the
largest connected component.

Spark shape (SURVEY.md §2.10): these rewrites have sequential
dependencies between nearby collapses, so each document's graph is
rewritten locally inside ONE map_groups group — a doc is small by
construction (dense docs are split by cell upstream), and documents are
the unit of parallelism. A pure-SQL iterate-to-fixpoint would shuffle
the whole corpus once per round; the per-doc kernel does the fixpoint
in-memory in a single shuffle. The kernel is pure Python below
(unit-testable without Spark).

The group decides its own T1/T2 guards, as osm2streets checks each
collapse against the network it holds: the restricted roads from its
restriction rows (_mark_restricted) and the frozen seam junctions of a
split doc from its seam rows. It then finishes every junction whose
roads all sit in it, as osm2streets finishes an area in one in-memory
pass: T6 pass 2, the turn restrictions resolved against the final
roads, the intersection row (geometry_update.finish_junction) and each
road's center line. The frozen seam junctions are finished per junction
by finish_seams, and their roads by seam_roads.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType, BooleanType, DoubleType, IntegralType, LongType,
    StringType, StructField, StructType,
)

from ..geom.core import M_PER_DEG, simplify_rdp, polyline_length
from ..geom.intersection_kernel import compute_trims, road_end, sort_roads_cw
from .geometry_update import (
    end_row, finish_junction, map_groups, rebuild_center, road_ends,
)
from .tiles import tile_xy


def _recompute_trims_at(roads: list[dict], i_ids: set) -> None:
    """Per-junction trim computation over transforms road dicts: sets
    trim_start/trim_end at the `i_ids` ends and too_short on every road
    touching them. The kernel runs it once over every junction before
    the transforms (split_ways.rs:313-322), then eagerly after each T2
    splice, mirroring the reference's update_i calls from
    insert_road/remove_road (lib.rs:99-121): both endpoints of the new
    road get their geometry recomputed, which can flag newly
    trim-annihilated roads for the SECOND CollapseShortRoads pass (the
    cascade the goldens encode: bristol/taipei crossing stubs only
    annihilate after their neighbors splice). Runs T6's own
    per-junction dispatch."""
    incident: dict[int, list] = {}
    for r in roads:
        if r["src_i"] in i_ids:
            incident.setdefault(r["src_i"], []).append((r, True))
        if r["dst_i"] in i_ids:
            incident.setdefault(r["dst_i"], []).append((r, False))

    touched: dict[int, dict] = {}
    for ends in incident.values():
        kends = []
        for r, is_src in ends:
            e = end_row(r, is_src)
            kends.append(road_end(e.pop("road_id"), e.pop("is_src_end"),
                                  e.pop("xy"), e.pop("total_width"), **e))
            touched[id(r)] = r
        trims, _mode = compute_trims(sort_roads_cw(kends))
        for (r, is_src), e in zip(ends, kends):
            r["trim_start" if is_src else "trim_end"] = float(trims[e["key"]])

    for r in touched.values():
        length = polyline_length(
            np.asarray(r["xy"], dtype=float).reshape(-1, 2))
        t0 = float(r.get("trim_start") or 0.0)
        t1 = float(r.get("trim_end") or 0.0)
        r["too_short"] = bool(t0 + t1 >= length)


# ---------------------------------------------------------------------------
# pure-python per-doc kernel
# ---------------------------------------------------------------------------

def _components(roads: list[dict]) -> list[set]:
    """Union-find connected components over intersection ids (A6/G4,
    remove_disconnected.rs:10-42)."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb

    for r in roads:
        union(r["src_i"], r["dst_i"])
    groups: dict[int, set] = {}
    for r in roads:
        groups.setdefault(find(r["src_i"]), set()).add(r["road_id"])
    return list(groups.values())


def remove_disconnected(roads: list[dict]) -> list[dict]:
    """T4: keep the largest component by road count; light rail does not
    seed its own component (remove_disconnected.rs:7-50). Deterministic
    tie-break by smallest member road_id."""
    if not roads:
        return roads
    seedable = [r for r in roads if r["highway_type"] not in ("light_rail", "rail")]
    comp_source = seedable if seedable else roads
    comps = _components(comp_source)
    best = max(comps, key=lambda c: (len(c), -min(c)))
    # light-rail roads survive if they touch the kept component's
    # intersections
    kept_is = set()
    by_id = {r["road_id"]: r for r in roads}
    for rid in best:
        kept_is.add(by_id[rid]["src_i"])
        kept_is.add(by_id[rid]["dst_i"])
    out = []
    for r in roads:
        if r["road_id"] in best:
            out.append(r)
        elif r["highway_type"] in ("light_rail", "rail") and (
                r["src_i"] in kept_is or r["dst_i"] in kept_is):
            out.append(r)
    return out


def collapse_short_roads(roads: list[dict], frozen: set,
                         imerges: dict[int, int] | None = None) -> list[dict]:
    """T1 (operations/collapse_short_road.rs:12-161): for each candidate
    (tagged junction=intersection, or trim-annihilated), merge its dst
    intersection into its src, rewrite endpoints, drop new self-loops.

    Faithful details added for golden parity:
      * a candidate touching a MapEdge is skipped
        (collapse_short_road.rs:24-28), and so is one touching a
        `frozen` seam junction of a split doc (its other-cell roads
        are invisible here)
      * at each collapse, every surviving road incident to either
        merged intersection memoizes its CURRENT trim at that end
        (`trim_roads_for_merging`, :44-58) — consumed by the T6 kernel
        as the pretrimmed-geometry path (geometry/pretrimmed.rs:13-65)
      * absorbed→survivor intersection ids are recorded in `imerges`
        (caller-provided dict) for control/crossing upgrade and
        osm_node_id union (:66-84)
    """
    merged: dict[int, int] = {}

    def resolve(i):
        while i in merged:
            i = merged[i]
        return i

    candidates = sorted(
        (r for r in roads
         if r.get("internal_junction_road") or r.get("too_short")),
        key=lambda r: r["road_id"],
    )
    # incident index for the trim memo
    incident: dict[int, list[dict]] = {}
    for r in roads:
        incident.setdefault(r["src_i"], []).append(r)
        incident.setdefault(r["dst_i"], []).append(r)

    cand_ids = set()
    edge_is = frozen | {r["src_i"] for r in roads if r.get("src_is_edge")} \
        | {r["dst_i"] for r in roads if r.get("dst_is_edge")}
    for r in candidates:
        src, dst = resolve(r["src_i"]), resolve(r["dst_i"])
        if src in edge_is or dst in edge_is:
            continue  # MapEdge guard (collapse_short_road.rs:24-28)
        cand_ids.add(r["road_id"])
        if src == dst:
            continue  # became a loop via another candidate → just remove
        # memo current trims of surviving incident roads at both ends
        for i in (src, dst):
            for other in incident.get(i, []):
                if (other["road_id"] in cand_ids
                        or other.get("internal_junction_road")):
                    continue
                if other["src_i"] == i or resolve(other["src_i"]) == i:
                    other["pretrim_src"] = float(
                        other.get("trim_start") or 0.0)
                if other["dst_i"] == i or resolve(other["dst_i"]) == i:
                    other["pretrim_dst"] = float(other.get("trim_end") or 0.0)
        merged[dst] = src
        # re-home the absorbed junction's incident list onto the
        # survivor so chained collapses (dual-carriageway junctions)
        # still find those roads for the memo — the reference iterates
        # the LIVE roads_per_intersection at each collapse
        # (collapse_short_road.rs:44-58)
        if dst != src:
            incident.setdefault(src, []).extend(incident.pop(dst, []))

    out = []
    for r in roads:
        if r["road_id"] in cand_ids:
            continue
        src, dst = resolve(r["src_i"]), resolve(r["dst_i"])
        if src == dst:
            continue  # new self-loop → drop (collapse_short_road.rs:107)
        r = dict(r, src_i=src, dst_i=dst)
        out.append(r)
    if imerges is not None:
        for absorbed in merged:
            imerges[absorbed] = resolve(absorbed)
    return out


def collapse_degenerate(roads: list[dict], frozen: set,
                        touched_is: set | None = None) -> list[dict]:
    """T2 (transform/collapse_intersections.rs:9-87): splice the two
    roads of a 2-road intersection into one when lane specs, name,
    highway type, layer and placement all match, neither road carries a
    turn restriction, the junction has no pedestrian crossing and is
    not a `frozen` seam, and they aren't opposing oneways. Keeps the
    first road's id; geometry concatenated + RDP ε=1.0."""
    by_id = {r["road_id"]: r for r in roads}
    incident: dict[int, list[int]] = {}
    crossing_is = set(frozen)
    for r in roads:
        incident.setdefault(r["src_i"], []).append(r["road_id"])
        incident.setdefault(r["dst_i"], []).append(r["road_id"])
        if r.get("src_has_crossing"):
            crossing_is.add(r["src_i"])
        if r.get("dst_has_crossing"):
            crossing_is.add(r["dst_i"])

    for i_id in sorted(incident):
        if i_id in crossing_is:
            continue  # collapse_intersections.rs:12-14
        rids = incident.get(i_id, [])
        rids = [rid for rid in rids if rid in by_id]
        if len(rids) != 2 or rids[0] == rids[1]:
            continue
        a, b = by_id[rids[0]], by_id[rids[1]]
        if a.get("has_restriction") or b.get("has_restriction"):
            continue  # collapse_intersections.rs:41-47
        if (a["lane_specs_json"] != b["lane_specs_json"]
                # the reference LaneSpec embeds the raw muv Lane
                # (osm2lanes lib.rs:289), so ANY lane-relevant tag
                # difference (surface, smoothness, explicit oneway,
                # service subtype, width…) breaks equality — the
                # fingerprint mirrors that (goldens: neukolln sidewalk
                # pair differing only in surface is NOT merged; tunnel
                # difference IS merged)
                or a.get("lane_fingerprint") != b.get("lane_fingerprint")
                or a.get("name") != b.get("name")
                or a["highway_type"] != b["highway_type"]
                or a.get("layer", 0) != b.get("layer", 0)
                # placement must be consistent and equal
                # (collapse_intersections.rs:74-85; shift is our
                # Consistent-placement scalar)
                or (a.get("placement_shift") or 0.0)
                != (b.get("placement_shift") or 0.0)):
            continue
        # opposing oneways can't splice (collapse_intersection.rs:24-32:
        # endpoint multiset must have 3 distinct, i.e. not a loop pair)
        ends = {a["src_i"], a["dst_i"], b["src_i"], b["dst_i"]}
        if len(ends) != 3:
            continue
        ow_a, ow_b = a.get("oneway_dir", ""), b.get("oneway_dir", "")

        def _flipped(r):
            # reversing a road swaps every per-end attribute
            return dict(
                r, src_i=r["dst_i"], dst_i=r["src_i"],
                src_is_edge=r.get("dst_is_edge"),
                dst_is_edge=r.get("src_is_edge"),
                src_has_crossing=r.get("dst_has_crossing"),
                dst_has_crossing=r.get("src_has_crossing"),
                trim_start=r.get("trim_end"), trim_end=r.get("trim_start"),
                pretrim_src=r.get("pretrim_dst"),
                pretrim_dst=r.get("pretrim_src"),
            )

        # orient: a must END at i, b must START at i (flip as needed);
        # flipping a oneway road reverses its traffic — only allowed for
        # bidirectional roads, else require compatible orientation.
        xy_a = np.asarray(a["xy"], dtype=float).reshape(-1, 2)
        xy_b = np.asarray(b["xy"], dtype=float).reshape(-1, 2)
        if a["dst_i"] != i_id:
            if ow_a:
                # oneway pointing out of i on the a side: traffic flow
                # must continue b→a; swap roles instead of flipping
                a, b = b, a
                xy_a, xy_b = xy_b, xy_a
                if a["dst_i"] != i_id:
                    continue
            else:
                xy_a = xy_a[::-1]
                a = _flipped(a)
        if b["src_i"] != i_id:
            if ow_b:
                continue
            xy_b = xy_b[::-1]
            b = _flipped(b)
        if ow_a != ow_b and not (ow_a == "" or ow_b == ""):
            continue
        new_xy = np.vstack([xy_a, xy_b[1:]])
        new_xy = simplify_rdp(new_xy, 1.0)
        merged = dict(a)
        merged["dst_i"] = b["dst_i"]
        # the merged road's dst end is b's dst end — carry its
        # per-end attributes
        merged["dst_is_edge"] = b.get("dst_is_edge")
        merged["dst_has_crossing"] = b.get("dst_has_crossing")
        merged["trim_end"] = b.get("trim_end")
        merged["pretrim_dst"] = b.get("pretrim_dst")
        merged["xy"] = new_xy.ravel().tolist()
        if touched_is is not None:
            # insert_road(lib.rs:99-108) refreshes geometry at both
            # endpoints of the spliced road
            touched_is.add(merged["src_i"])
            touched_is.add(merged["dst_i"])
        # MULTISET union, like the reference's osm_ids.extend — a way
        # split by an interior loop and re-spliced legitimately lists
        # its id twice (quad_intersection golden: [6390208, 6390208])
        merged["osm_way_ids"] = sorted(
            list(a.get("osm_way_ids", [a["way_id"]]))
            + list(b.get("osm_way_ids", [b["way_id"]]))
        )
        del by_id[b["road_id"]]
        by_id[a["road_id"]] = merged
        # update adjacency for future iterations
        for lst in incident.values():
            if b["road_id"] in lst:
                lst[:] = [a["road_id"] if x == b["road_id"] else x for x in lst]
    return list(by_id.values())


def zip_sidepaths(roads: list[dict]) -> list[dict]:
    """T3 (operations/zip_sidepath.rs:28-202), faithful connector walk:

    1. a separately-mapped cycleway is a zip candidate when EACH of its
       endpoints has exactly one OTHER road shorter than 10 m (the
       connector); the connector's far side is a main-road intersection
       (zip_sidepath.rs:29-49)
    2. the main road segments "parallel to" the sidepath are found by
       driving-lane pathfinding between those two intersections, trying
       both directions (:57-63 simple_path with LaneType::Driving)
    3. the sidepath is removed; its lanes (shoulders stripped, :94-101)
       plus a Planters buffer are spliced into EVERY main segment on
       the nearer side, inside an existing outer walkable lane, with
       directions flipped when anti-parallel (:120-190)

    The reference does not merge osm_ids (its own TODO, :90) and keeps
    the connectors — CollapseDegenerateIntersections cleans up after
    (:196-199)."""
    import json as _json
    import math

    WALKABLE = {"sidewalk", "shoulder", "footway", "shared_use"}
    TO_CHAR = {"driving": "d", "parking": "p", "sidewalk": "s",
               "shoulder": "S", "biking": "b", "bus": "B",
               "shared_left_turn": "C", "construction": "x",
               "light_rail": "l", "buffer": "|", "footway": "f",
               "shared_use": "F"}

    by_id = {r["road_id"]: r for r in roads}
    incident: dict[int, list[dict]] = {}
    for r in roads:
        incident.setdefault(r["src_i"], []).append(r)
        incident.setdefault(r["dst_i"], []).append(r)

    def length(r):
        return polyline_length(np.asarray(r["xy"], float).reshape(-1, 2))

    def mid_angle(r):
        pl = np.asarray(r["xy"], float).reshape(-1, 2)
        v = pl[-1] - pl[0]
        return pl[len(pl) // 2], math.degrees(math.atan2(v[1], v[0]))

    def drive_path(frm, to):
        """Dijkstra over driving-lane directed edges (simple_path with
        zero heuristic). Returns road dicts along the path or None."""
        import heapq
        adj: dict[int, list] = {}
        for r in by_id.values():
            fwd = back = False
            for l in _json.loads(r["lane_specs_json"]):
                if l["lt"] == "driving":
                    if l["dir"] == "forward":
                        fwd = True
                    else:
                        back = True
            w = length(r)
            if fwd:
                adj.setdefault(r["src_i"], []).append((r["dst_i"], w, r))
            if back:
                adj.setdefault(r["dst_i"], []).append((r["src_i"], w, r))
        dist = {frm: 0.0}
        prev = {}
        heap = [(0.0, frm)]
        while heap:
            d, i = heapq.heappop(heap)
            if i == to:
                break
            if d > dist.get(i, float("inf")):
                continue
            for j, w, r in adj.get(i, ()):
                nd = d + w
                if nd < dist.get(j, float("inf")):
                    dist[j] = nd
                    prev[j] = (i, r)
                    heapq.heappush(heap, (nd, j))
        if to not in prev and to != frm:
            return None
        path = []
        i = to
        while i != frm:
            i, r = prev[i]
            path.append(r)
        return path[::-1] or None

    sidepaths = [r for r in roads
                 if r["highway_type"] == "cycleway" and not r["driveable"]]
    for sp in sorted(sidepaths, key=lambda r: r["road_id"]):
        if sp["road_id"] not in by_id:
            continue
        main_ends = []
        for i in (sp["src_i"], sp["dst_i"]):
            cands = [o for o in incident.get(i, ())
                     if o["road_id"] != sp["road_id"]
                     and o["road_id"] in by_id
                     and length(o) < 10.0]
            if len(cands) == 1:
                c = cands[0]
                main_ends.append(c["dst_i"] if c["src_i"] == i
                                 else c["src_i"])
        if len(main_ends) != 2:
            continue
        path = drive_path(main_ends[0], main_ends[1])             or drive_path(main_ends[1], main_ends[0])
        if path is None:
            continue

        sp_lanes = _json.loads(sp["lane_specs_json"])
        while sp_lanes and sp_lanes[0]["lt"] == "shoulder":
            sp_lanes.pop(0)
        while sp_lanes and sp_lanes[-1]["lt"] == "shoulder":
            sp_lanes.pop()
        if not sp_lanes:
            continue
        sp_mid, sp_ang = mid_angle(sp)

        for main in path:
            m_mid, m_ang = mid_angle(main)
            pl = np.asarray(main["xy"], float).reshape(-1, 2)
            v = pl[-1] - pl[0]
            w = sp_mid - pl[0]
            snap_to_left = (v[0] * w[1] - v[1] * w[0]) > 0
            oriented_same_way = \
                abs((sp_ang - m_ang + 180) % 360 - 180) <= 90

            insert = []
            for l in sp_lanes:
                l = dict(l)
                if not oriented_same_way:
                    l["dir"] = ("backward" if l["dir"] == "forward"
                                else "forward")
                insert.append(l)
            buffer_lane = {"lt": "buffer", "dir": insert[-1]["dir"]
                           if snap_to_left else insert[0]["dir"],
                           "width": 2.0, "subtype": "planters",
                           "allowed_turns": []}
            if snap_to_left:
                insert.append(buffer_lane)
            else:
                insert.insert(0, buffer_lane)

            lanes = _json.loads(main["lane_specs_json"])
            if snap_to_left:
                idx = 1 if lanes and lanes[0]["lt"] in WALKABLE else 0
            else:
                idx = (len(lanes) - 1
                       if lanes and lanes[-1]["lt"] in WALKABLE
                       else len(lanes))
            lanes[idx:idx] = insert
            merged = dict(main)
            merged["lane_specs_json"] = _json.dumps(
                lanes, separators=(",", ":"))
            merged["lane_chars"] = "".join(TO_CHAR[l["lt"]] for l in lanes)
            merged["dir_chars"] = "".join(
                "^" if l["dir"] == "forward" else "v" for l in lanes)
            merged["total_width"] = round(
                sum(l["width"] for l in lanes), 6)
            by_id[main["road_id"]] = merged
        del by_id[sp["road_id"]]
    return list(by_id.values())


def apply_standard_transforms(roads: list[dict], frozen: set,
                              with_sidepath_zip: bool = False,
                              imerges: dict[int, int] | None = None,
                              with_remove_disconnected: bool = True,
                              steps: list | None = None,
                              ) -> list[dict]:
    """The standard list T1, T2, T1 (transform/mod.rs:21-29 —
    standard_for_clipped_areas deliberately does NOT remove
    disconnected roads); T4 removal and T3 sidepath zipping are opt-in
    extras (RemoveDisconnectedRoads exists as a separate Transformation;
    zipping matches osm2streets-py/src/lib.rs:90-99). No T1 or T2
    touches a `frozen` junction. `imerges` (optional dict) collects
    absorbed→survivor intersection merges across both T1 passes.

    `steps` (optional list) is the stepwise-debugging sink
    (apply_transformations_stepwise_debugging, transform/mod.rs:94-109:
    "original" first, then a snapshot after each transformation, named
    per Transformation::name()): (step_name, n_roads, n_intersections)
    appended per pass, where n_intersections counts distinct live road
    endpoints."""
    def _snap(name, rs):
        if steps is not None:
            live = {r["src_i"] for r in rs} | {r["dst_i"] for r in rs}
            steps.append((name, len(rs), len(live)))

    _snap("original", roads)
    if with_remove_disconnected:
        roads = remove_disconnected(roads)
        _snap("remove disconnected roads", roads)
    if with_sidepath_zip:
        roads = zip_sidepaths(roads)
        _snap("zip parallel sidepaths", roads)
    roads = collapse_short_roads(roads, frozen, imerges)
    _snap("collapse short roads", roads)
    touched: set = set()
    roads = collapse_degenerate(roads, frozen, touched_is=touched)
    if touched:
        # the reference recomputes junction geometry eagerly after each
        # splice; newly trim-annihilated roads become candidates for
        # the SECOND CollapseShortRoads pass
        _recompute_trims_at(roads, touched)
    _snap("collapse degenerate intersections", roads)
    roads = collapse_short_roads(roads, frozen, imerges)
    _snap("collapse short roads", roads)
    if imerges is not None:
        # close chains across the two passes (dst of pass 1 may itself
        # be absorbed in pass 2)
        def _resolve(i):
            seen = set()
            while i in imerges and i not in seen:
                seen.add(i)
                i = imerges[i]
            return i
        for k in list(imerges):
            imerges[k] = _resolve(imerges[k])
    return roads


# ---------------------------------------------------------------------------
# Spark wiring
# ---------------------------------------------------------------------------

_ROAD_FIELDS = [
    ("road_id", LongType()), ("way_id", LongType()),
    ("src_i", LongType()), ("dst_i", LongType()),
    ("xy", ArrayType(DoubleType())),
    ("highway_type", StringType()), ("name", StringType()),
    ("layer", LongType()), ("speed_kph", DoubleType()),
    ("oneway_dir", StringType()), ("lane_specs_json", StringType()),
    ("lane_chars", StringType()), ("dir_chars", StringType()),
    ("total_width", DoubleType()), ("driveable", BooleanType()),
    ("internal_junction_road", BooleanType()),
    ("osm_way_ids", ArrayType(LongType())),
    ("lon0", DoubleType()), ("lat0", DoubleType()),
    # per-end metadata consumed by the kernels (all nullable):
    # MapEdge guard, T2 crossing guard, T2 placement guard
    ("src_is_edge", BooleanType()), ("dst_is_edge", BooleanType()),
    ("src_has_crossing", BooleanType()),
    ("dst_has_crossing", BooleanType()),
    ("placement_shift", DoubleType()),
    ("lane_fingerprint", StringType()),
]

# output rows by row_kind, nulls elsewhere: 'road' (finished: pass-2
# trims and center line), 'intersection', 'trim' (one road end) and
# 'step' (road_id = step index, name, src_i = n_roads, dst_i =
# n_intersections, per pass per group); for frozen seams only,
# 'seam_end' (a road with a frozen end: its row, its unfrozen-end trims,
# i_id / is_src_end of the frozen end) and the seam junction's input
# rows other than 'seam', passed through by its smallest cell
_OUT_EXTRA = [
    ("row_kind", StringType()),
    ("pretrim_src", DoubleType()), ("pretrim_dst", DoubleType()),
    ("trim_start", DoubleType()), ("trim_end", DoubleType()),
    ("center_xy", ArrayType(DoubleType())),
    ("trimmed_length", DoubleType()), ("too_short", BooleanType()),
    ("i_id", LongType()), ("is_src_end", BooleanType()),
    ("trim", DoubleType()), ("cw_index", LongType()),
    ("polygon_xy", ArrayType(DoubleType())), ("kind", StringType()),
    ("movements_json", StringType()),
    ("osm_node_ids", ArrayType(LongType())), ("control", StringType()),
]

# input rows besides the roads (i_id: their junction before the
# transforms): 'junction' (one per v0 intersection and node feature),
# 'restriction' (restriction_vias), 'signal_target' and, in each cell
# of a frozen seam junction, 'seam' (its `_cells` and `seam_ways`, two
# input-only columns: the cells that hold its roads and the way ids
# that reach it from all of them)
_JUNCTION_FIELDS = [
    ("qx", LongType()), ("qy", LongType()), ("n_uses", LongType()),
    ("osm_node_id", LongType()), ("lon", DoubleType()),
    ("lat", DoubleType()), ("kind_hint", StringType()),
    ("has_signal", BooleanType()), ("crossing_kind", StringType()),
    ("crossing_island", BooleanType()),
    ("restriction_type", StringType()), ("from_way", LongType()),
    ("to_way", LongType()),
]

TRANSFORM_SCHEMA = StructType(
    [StructField("doc_id", StringType())]
    + [StructField(n, t) for n, t in _ROAD_FIELDS + _OUT_EXTRA
       + _JUNCTION_FIELDS]
)
_NAMES = TRANSFORM_SCHEMA.names[1:]

# the final frames build_street_network reads off the transforms output
ROAD_COLS = ["doc_id"] + [n for n, _ in _ROAD_FIELDS] + [
    "pretrim_src", "pretrim_dst", "trim_start", "trim_end", "center_xy",
    "trimmed_length", "too_short"]
INTERSECTION_COLS = [
    "doc_id", "i_id", "qx", "qy", "n_uses", "osm_node_id", "lon", "lat",
    "kind_hint", "lon0", "lat0", "polygon_xy", "kind", "movements_json",
    "osm_node_ids", "crossing_island", "crossing_kind", "control"]
TRIM_COLS = ["doc_id", "i_id", "road_id", "is_src_end", "trim", "cw_index"]


def _finish_road(road: dict, t0: float, t1: float) -> dict:
    """K9: the road with its pass-2 trims (src end → trim_start, dst
    end → trim_end) and its rebuilt center line."""
    center, length, too_short = rebuild_center(road["xy"], t0, t1)
    return dict(road, row_kind="road", trim_start=t0, trim_end=t1,
                center_xy=center, trimmed_length=length,
                too_short=too_short)


def _finish_cell(doc_id: str, roads: list[dict], imerges: dict,
                 extras: list[dict], frozen: set,
                 driving_side: str) -> list[dict]:
    """Finish every junction of one transforms group whose roads all
    sit in it (finish_junction), then each road's center line. The
    input rows of a junction T1 absorbed go to its survivor (T1 merges
    change via ids; round-1 VERDICT #4). The ends of a frozen seam
    junction's roads go out for finish_seams."""
    inputs: dict[int, list] = {}
    for x in extras:
        inputs.setdefault(imerges.get(x["i_id"], x["i_id"]), []).append(x)
    ends: dict[int, list] = {}
    for r in roads:
        ends.setdefault(r["src_i"], []).append((r, True))
        ends.setdefault(r["dst_i"], []).append((r, False))
    out: list[dict] = []
    for i, es in ends.items():
        if i not in frozen:
            out += finish_junction(doc_id, i, es, inputs.get(i, []),
                                   driving_side)
    trims = {(t["road_id"], t["is_src_end"]): t["trim"] for t in out
             if t["row_kind"] == "trim"}
    for r in roads:
        t0, t1 = (trims.get((r["road_id"], s)) for s in (True, False))
        if r["src_i"] in frozen or r["dst_i"] in frozen:
            out += [dict(r, row_kind="seam_end", i_id=i, is_src_end=s,
                         trim_start=t0, trim_end=t1)
                    for i, s in ((r["src_i"], True), (r["dst_i"], False))
                    if i in frozen]
        else:
            out.append(_finish_road(r, t0, t1))
    return out


def _mark_restricted(roads: list[dict], restrictions: list[dict],
                     seam_ways: dict[int, list]) -> None:
    """J4 for T2's guard (collapse_intersections.rs:41-47), before any
    transform: a road is restricted when a via-node restriction at one
    of its ends resolves there (split_ways.rs:123-160), i.e. both its
    from and its to way reach the via, and the road carries one of the
    two. Every road of an unfrozen via is in this group; the ways that
    reach a frozen via from every cell are its `seam_ways`."""
    ways_at: dict[int, set] = {}
    for r in roads:
        for i in (r["src_i"], r["dst_i"]):
            ways_at.setdefault(i, set()).update(r["osm_way_ids"])
    ways_at.update((i, set(ws)) for i, ws in seam_ways.items())
    banned: dict[int, set] = {}  # via → the ways its restrictions name
    for x in restrictions:
        ways = ways_at.get(x["i_id"], ())
        if x["from_way"] in ways and x["to_way"] in ways:
            banned.setdefault(x["i_id"], set()).update(
                (x["from_way"], x["to_way"]))
    for r in roads:
        r["has_restriction"] = any(
            not banned.get(i, set()).isdisjoint(r["osm_way_ids"])
            for i in (r["src_i"], r["dst_i"]))


def _transform_rows(rows: list[dict], with_sidepath_zip: bool,
                    with_remove_disconnected: bool,
                    driving_side: str) -> list[tuple]:
    """One (doc_id, _tcell) group's transform fixpoint, then its
    finish (_finish_cell), over plain dict rows → TRANSFORM_SCHEMA
    tuples. Road rows carry row_kind 'road'; the junction, restriction,
    signal_target and seam rows ride along. Dict rows, not a pandas
    frame: the per-doc to_dict("records") + per-doc output-frame
    construction was the majority of the whole transforms stage's CPU
    at sf0.1."""
    doc_id, cell = rows[0]["doc_id"], rows[0]["_tcell"]
    if cell:
        # a cell of a split doc must never run T4: components span
        # cells, and a cell with no frozen seam (fully disconnected
        # interior roads) would otherwise prune per-cell. (At scale,
        # component pruning for split docs is a separate doc-level pass
        # over the edge list — cheap relative to geometry.)
        with_remove_disconnected = False
    kinds: dict[str, list] = {}
    for r in rows:
        kinds.setdefault(r["row_kind"], []).append(r)
    roads, seams = kinds.pop("road", []), kinds.pop("seam", [])
    extras = [x for xs in kinds.values() for x in xs]
    # Arrow batch row order is nondeterministic; kernels must not depend
    # on it (e.g. T2 keeps the FIRST road's id) — sort by road_id first
    roads.sort(key=lambda r: r["road_id"])
    for r in roads:
        r["xy"] = list(r["xy"])
        r["osm_way_ids"] = list(r["osm_way_ids"])
    # a junction whose roads span cells is frozen: no transform touches
    # it, so its id survives them. Its input rows reach every one of
    # its cells and go on to finish_seams from the smallest.
    frozen = {x["i_id"] for x in seams}
    passed = {x["i_id"] for x in seams if min(x["_cells"]) == cell}
    _mark_restricted(roads, kinds.get("restriction", []),
                     {x["i_id"]: x["seam_ways"] for x in seams})
    # the initial geometry of every junction, before any transform
    # (split_ways.rs:313-322): trim_start/trim_end feed the
    # trim_roads_for_merging memo, too_short the CollapseShortRoads
    # candidates. A frozen seam junction sees only this cell's roads;
    # its trims are never used (no collapse or splice touches it, and
    # finish_seams recomputes them from all its roads).
    _recompute_trims_at(roads, {i for r in roads for i in (r["src_i"],
                                                          r["dst_i"])})
    imerges: dict[int, int] = {}
    steps: list = []
    roads = apply_standard_transforms(roads, frozen, with_sidepath_zip,
                                      imerges, with_remove_disconnected,
                                      steps)
    out = [x for x in extras if x["i_id"] in passed]
    out += _finish_cell(doc_id, roads, imerges, extras, frozen,
                        driving_side)
    out += [{"row_kind": "step", "road_id": k, "name": name,
             "src_i": n_roads, "dst_i": n_is}
            for k, (name, n_roads, n_is) in enumerate(steps)]
    return [(doc_id, *map(r.get, _NAMES)) for r in out]


def _seam_rows(rows: list[dict], driving_side: str) -> list[tuple]:
    """One frozen seam junction's (doc_id, i_id) group: its road ends
    from every cell plus its passed-through input rows → its
    'intersection' row and a 'trim' row per end, carrying the end's
    road for _seam_road_rows."""
    doc_id, i_id = rows[0]["doc_id"], rows[0]["i_id"]
    ends = {(r["road_id"], r["is_src_end"]):
            dict(r, osm_way_ids=list(r["osm_way_ids"]))
            for r in rows if r["row_kind"] == "seam_end"}
    out = finish_junction(
        doc_id, i_id, [(r, key[1]) for key, r in ends.items()],
        [r for r in rows if r["row_kind"] != "seam_end"], driving_side)
    out = [dict(ends[(r["road_id"], r["is_src_end"])], **r)
           if r["row_kind"] == "trim" else r for r in out]
    return [(doc_id, *map(r.get, _NAMES)) for r in out]


def _seam_road_rows(rows: list[dict]) -> list[tuple]:
    """One (doc_id, road_id) group, the seam 'trim' rows of a road's
    frozen ends → the finished road."""
    trims = {True: rows[0]["trim_start"], False: rows[0]["trim_end"]}
    trims.update({t["is_src_end"]: t["trim"] for t in rows})
    road = _finish_road(rows[0], trims[True], trims[False])
    return [(road["doc_id"], *map(road.get, _NAMES))]


def _nonnull_longs(df: DataFrame) -> DataFrame:
    """0 for every null integral cell: the kernels' inputs mix row kinds,
    and one null in an integral column would turn the whole Arrow batch
    column into float64, mangling 64-bit ids."""
    return df.select(*(
        F.coalesce(F.col(f.name), F.lit(0).cast(f.dataType)).alias(f.name)
        if isinstance(f.dataType, IntegralType) else F.col(f.name)
        for f in df.schema.fields))


def run_transforms(roads: DataFrame, extras: DataFrame,
                   driving_side: str,
                   with_sidepath_zip: bool = False,
                   with_remove_disconnected: bool = True,
                   split_threshold: int = 4000,
                   split_zoom: int = 12,
                   n: int | None = None) -> DataFrame:
    """Per-doc T4[+T3]+T1+T2+T1, then the finish of every junction
    (_finish_cell). Input needs the columns in _ROAD_FIELDS; `extras`
    holds the junction, restriction and signal_target rows (doc_id,
    i_id, row_kind and the _JUNCTION_FIELDS they use). Output: the row
    kinds listed at _OUT_EXTRA, including the step rows of the
    reference's apply_transformations_stepwise_debugging
    (transform/mod.rs:94-109), "original" first, per (doc, cell) group.

    Skew: documents are the unit of parallelism, so a single megacity
    doc would otherwise pin one task. Docs with more than
    ``split_threshold`` roads split into ~10 km quadkey cells
    (zoom ``split_zoom``) and the kernel runs per (doc, cell);
    intersections whose incident roads span cells are FROZEN — no
    collapse may touch them (their other-cell roads are invisible to
    the group), finish_seams finishes them, and T4 is skipped for split
    docs (components span cells). Every input row goes to each cell
    that holds one of its junction's roads, and each cell of a frozen
    junction also gets a 'seam' row. One map_groups pass over
    (doc, cell) groups in n partitions."""
    src, cells = _prep_transform_cells(roads, split_threshold, split_zoom)
    src = src.select("doc_id", "_tcell", *(c for c, _ in _ROAD_FIELDS),
                     F.lit("road").alias("row_kind"))
    # (a junction no road reaches joins no cell: it has nothing to finish)
    routes = cells.select("doc_id", "i_id", "_cells", "seam_ways",
                          F.explode("_cells").alias("_tcell"))
    seams = routes.where(F.size("_cells") > 1) \
        .withColumn("row_kind", F.lit("seam"))
    src = src.unionByName(
        extras.join(routes.select("doc_id", "i_id", "_tcell"),
                    ["doc_id", "i_id"]), allowMissingColumns=True) \
        .unionByName(seams, allowMissingColumns=True)
    return map_groups(
        _nonnull_longs(src), ["doc_id", "_tcell"],
        lambda rows: _transform_rows(rows, with_sidepath_zip,
                                     with_remove_disconnected,
                                     driving_side),
        TRANSFORM_SCHEMA, n)


def finish_seams(tout: DataFrame, driving_side: str) -> DataFrame:
    """The frozen seam junctions of split docs, finished like every
    other junction → their 'intersection' and 'trim' rows in `tout`'s
    schema, the trims carrying their road for seam_roads. One
    map_groups pass per (doc_id, i_id) seam junction: bounded groups,
    never a whole doc. Reads nothing unless a doc exceeded the split
    threshold."""
    return map_groups(
        _nonnull_longs(tout.where(F.col("row_kind").isin(
            "seam_end", "junction", "restriction", "signal_target"))),
        ["doc_id", "i_id"], lambda rows: _seam_rows(rows, driving_side),
        TRANSFORM_SCHEMA)


def seam_roads(seams: DataFrame) -> DataFrame:
    """The roads with a frozen end, each rebuilt from its seam trims
    (finish_seams) in one map_groups pass per (doc_id, road_id)."""
    return map_groups(seams.where(F.col("row_kind") == "trim"),
                      ["doc_id", "road_id"], _seam_road_rows,
                      TRANSFORM_SCHEMA)


def _prep_transform_cells(roads: DataFrame, split_threshold: int,
                          split_zoom: int) -> tuple:
    """Input prep for run_transforms: assign dense docs their quadkey
    transform cell (_tcell; 0 = unsplit sentinel). → (roads, one row
    per junction: doc_id, i_id, `_cells` (the cells that hold its
    roads; more than one makes it a frozen seam) and `seam_ways` (the
    distinct way ids that reach it, collected in split docs only))."""
    counts = roads.groupBy("doc_id").agg(F.count(F.lit(1)).alias("_nd"))
    src = roads.join(counts, "doc_id")  # small agg side — AQE broadcasts
    # road midpoint → lon/lat → zoom-12 tile cell (dense docs only)
    n_pts = (F.size("xy") / 2).cast("int")
    midi = (F.floor(n_pts / 2) * 2 + 1).cast("int")  # 1-based x idx
    lat = F.col("lat0") + F.element_at("xy", midi + 1) / M_PER_DEG
    lon = F.col("lon0") + F.element_at("xy", midi) \
        / (M_PER_DEG * F.cos(F.radians(F.col("lat0"))))
    tx, ty = tile_xy(lon, lat, split_zoom)
    # +1 keeps split cells strictly positive: cell 0 is reserved as
    # the unsplit sentinel, so tile (0,0) at clamped extremes can
    # never be mistaken for "unsplit" by the kernel's T4 guard
    tcell = F.when(F.col("_nd") > split_threshold,
                   tx.cast("long") * F.lit(1 << 22) + ty.cast("long")
                   + F.lit(1)).otherwise(F.lit(0))
    src = src.withColumn("_tcell", tcell).drop("_nd")
    cells = road_ends(src, "_tcell", "osm_way_ids") \
        .groupBy("doc_id", "i_id").agg(
            F.collect_set("_tcell").alias("_cells"),
            F.array_distinct(F.flatten(F.collect_list(
                F.when(F.col("_tcell") > 0, F.col("osm_way_ids")))))
            .alias("seam_ways"))
    return src, cells
