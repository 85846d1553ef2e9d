"""Pure-Python unit tests for the per-intersection kernel: conflict
lattice, movements, clockwise ordering, trims, polygons — no Spark."""

import numpy as np
import pytest

from osm2streets_spark.geom.intersection_kernel import (
    calc_conflict, movements_and_kind, sort_roads_cw, compute_trims,
    intersection_polygon, road_end, UNCONTESTED, DIVERGE, MERGE, CROSS,
)
from osm2streets_spark.operators.geometry_update import t6_process
from osm2streets_spark.operators.transforms import _recompute_trims_at


def road(road_id, angle_deg, length=100.0, width=9.2, driveable=True,
         can_out=True, can_in=True):
    a = np.radians(angle_deg)
    xy = np.array([[0.0, 0.0], [length * np.cos(a), length * np.sin(a)]])
    return {
        "key": (road_id, True), "road_id": road_id, "is_src_end": True,
        "xy": xy, "width": width, "driveable": driveable,
        "can_out": can_out, "can_in": can_in,
        "banned_to": set(), "only_to": set(),
    }


def test_conflict_lattice():
    """Mirrors calc_conflict semantics (intersection.rs:381-441)."""
    # same source → diverge; same destination → merge
    assert calc_conflict((0, 1), (0, 2), "right") == DIVERGE
    assert calc_conflict((1, 0), (2, 0), "right") == MERGE
    assert calc_conflict((0, 1), (0, 1), "right") == UNCONTESTED
    # disjoint arcs that interleave → cross
    assert calc_conflict((0, 2), (1, 3), "right") == CROSS
    # disjoint arcs that nest/avoid → uncontested
    assert calc_conflict((0, 1), (2, 3), "right") == UNCONTESTED


def test_four_way_movements_kind():
    roads = [road(i, a) for i, a in enumerate([0, 90, 180, 270])]
    cw = sort_roads_cw(roads)
    movements, kind = movements_and_kind(cw, "right")
    assert kind == "Intersection"
    assert len(movements) == 12  # 4 roads * 3 targets, bidirectional


def test_terminus_and_fork():
    movements, kind = movements_and_kind([road(0, 0)], "right")
    assert kind == "Terminus" and movements == []
    # Y-fork of oneways: one in, two out → diverge only
    r_in = road(0, 0, can_out=True, can_in=False)
    r_out1 = road(1, 120, can_out=False, can_in=True)
    r_out2 = road(2, 240, can_out=False, can_in=True)
    movements, kind = movements_and_kind(
        sort_roads_cw([r_in, r_out1, r_out2]), "right")
    assert kind == "Fork"
    assert sorted(movements) == [(0, 1), (0, 2)]


def test_restrictions_ban_and_only():
    roads = [road(i, a) for i, a in enumerate([0, 90, 180, 270])]
    roads[0]["banned_to"] = {1}
    cw = sort_roads_cw(roads)
    movements, _ = movements_and_kind(cw, "right")
    assert (0, 1) not in movements
    roads[0]["banned_to"] = set()
    roads[0]["only_to"] = {2}
    movements, _ = movements_and_kind(sort_roads_cw(roads), "right")
    froms0 = [m for m in movements if m[0] == 0]
    assert froms0 == [(0, 2)]


def test_clockwise_order():
    roads = [road(i, a) for i, a in enumerate([0, 90, 180, 270])]
    cw = sort_roads_cw(roads)
    ids = [r["road_id"] for r in cw]
    # clockwise from some start: successive angles must decrease mod 360
    # (y-up plane): 0 → 270 → 180 → 90 in some rotation
    idx = ids.index(0)
    rotated = ids[idx:] + ids[:idx]
    assert rotated in ([0, 3, 2, 1],)


def test_trims_two_road_degenerate():
    roads = [road(0, 0), road(1, 180)]
    trims, mode = compute_trims(sort_roads_cw(roads))
    # 1.0 m ideal (degenerate.rs:8-61)
    assert mode == "degenerate"
    assert all(abs(t - 1.0) < 1e-9 for t in trims.values())


def test_trims_four_way_clear_overlap():
    roads = [road(i, a, width=10.0) for i, a in enumerate([0, 90, 180, 270])]
    cw = sort_roads_cw(roads)
    trims, mode = compute_trims(cw)
    assert mode == "general"
    # perpendicular 10 m-wide roads must trim ~5 m to clear each other
    for t in trims.values():
        assert 4.0 < t < 8.0
    ring = intersection_polygon(cw, trims)
    assert len(ring) >= 5  # 8 corners + closure, deduped


def test_polygon_terminus_square():
    r = road(0, 0, width=8.0)
    ring = intersection_polygon([r], {r["key"]: 0.0})
    # square of side ~width
    assert len(ring) == 5
    side = np.hypot(*(ring[1] - ring[0]))
    assert side == pytest.approx(8.0, rel=0.01)


def _xs(ring):
    return sorted({round(float(x), 9) for x, _ in ring})


@pytest.mark.parametrize("length, is_edge, trim, xs", [
    # dead ends trim their width, or 0.4×length when short
    (100.0, False, 8.0, [0.0, 8.0]),
    (5.0, False, 2.0, [0.0, 2.0]),
    # a long MapEdge trims its width; a short one is extended to
    # 3×width first (net trim 10 - 24 + 8 = -6) and its square sits on
    # the extended line, [tip, tip + width] with the tip 14 m back
    (100.0, True, 8.0, [0.0, 8.0]),
    (10.0, True, -6.0, [-14.0, -6.0]),
])
def test_dispatch_terminus(length, is_edge, trim, xs):
    """terminus.rs:8-64: trim and square of a degree-1 junction."""
    e = road_end(7, True, [0.0, 0.0, length, 0.0], 8.0, is_edge=is_edge)
    trims, mode = compute_trims([e])
    assert mode == "terminus"
    assert trims[e["key"]] == pytest.approx(trim, abs=1e-9)
    ring = intersection_polygon([e], trims, mode)
    assert len(ring) == 5 and np.array_equal(ring[0], ring[-1])
    assert _xs(ring) == pytest.approx(xs, abs=1e-9)
    assert sorted({round(float(y), 9) for _, y in ring}) == [-4.0, 4.0]


def test_dispatch_terminus_dst_end_points_away():
    """A dst end is reversed into the away frame before the dispatch:
    the junction is the polyline's last point, and the square sits
    there."""
    e = road_end(7, False, [100.0, 0.0, 0.0, 0.0], 8.0)
    assert e["xy"].tolist() == [[0.0, 0.0], [100.0, 0.0]]
    trims, _ = compute_trims([e])
    ring = intersection_polygon([e], trims, "terminus")
    assert trims[(7, False)] == 8.0
    assert _xs(ring) == pytest.approx([0.0, 8.0])


@pytest.mark.parametrize("lengths, want", [
    ((100.0, 100.0), (1.0, 1.0)),
    ((100.0, 1.5), (1.0, 0.1)),
    ((100.0, 0.15), (0.0, 0.0)),   # < 0.2 m: degenerate.rs bails
])
def test_dispatch_degenerate(lengths, want):
    """degenerate.rs:8-47: 1.0 m ideal, 0.1 m when short, no trim and
    the node-anchored 3 m circle when a road is under 0.2 m."""
    ends = [road_end(0, True, [0.0, 0.0, lengths[0], 0.0], 8.0),
            road_end(1, True, [0.0, 0.0, -lengths[1], 0.0], 8.0)]
    cw = sort_roads_cw(ends)
    trims, mode = compute_trims(cw)
    assert mode == "degenerate"
    assert (trims[(0, True)], trims[(1, True)]) == want
    ring = intersection_polygon(cw, trims, mode)
    radii = np.hypot(ring[:, 0], ring[:, 1])
    if min(lengths) < 0.2:
        assert len(ring) > 5 and radii == pytest.approx(3.0)
    else:
        assert len(ring) == 5


def test_dispatch_pretrimmed():
    """pretrimmed.rs:13-65: any memo wins, verbatim, 0 where unset
    (NaN counts as unset); no collision runs."""
    ends = [road_end(i, True, [0.0, 0.0, 100.0 * np.cos(a),
                               100.0 * np.sin(a)], 10.0, pretrim=pre)
            for i, (a, pre) in enumerate([(0.0, 3.5), (np.pi / 2, None),
                                          (np.pi, float("nan"))])]
    trims, mode = compute_trims(sort_roads_cw(ends))
    assert mode == "pretrimmed"
    assert trims == {(0, True): 3.5, (1, True): 0.0, (2, True): 0.0}
    # a pretrimmed MapEdge terminus keeps its memo and a plain square
    e = road_end(9, True, [0.0, 0.0, 10.0, 0.0], 8.0, is_edge=True,
                 pretrim=1.0)
    trims, mode = compute_trims([e])
    assert (trims, mode) == ({(9, True): 1.0}, "pretrimmed")
    assert _xs(intersection_polygon([e], trims, mode)) == [0.0, 1.0]


def _network():
    """A 4-way junction (1) joined to a T junction (2) that also has a
    loop road, the other ends dead ends (one a short MapEdge) — as
    transforms road dicts."""
    def r(rid, src, dst, xy, width, edge=False):
        return {"road_id": rid, "src_i": src, "dst_i": dst,
                "xy": [c for p in xy for c in p], "total_width": width,
                "highway_type": "residential", "pretrim_src": None,
                "pretrim_dst": None, "src_is_edge": False,
                "dst_is_edge": edge}
    return [
        r(1, 1, 2, [(0, 0), (60, 0)], 9.0),
        r(2, 1, 10, [(0, 0), (0, 50)], 7.0),
        r(3, 11, 1, [(-40, 5), (-20, 1), (0, 0)], 12.0),
        r(4, 1, 12, [(0, 0), (3, -45)], 6.0, edge=True),
        r(5, 2, 13, [(60, 0), (60, 8)], 8.0, edge=True),
        r(6, 2, 14, [(60, 0), (110, 10)], 9.0),
        # a loop: both ends at the T junction
        r(7, 2, 2, [(60, 0), (80, -20), (60, -40), (40, -20), (60, 0)],
          5.0),
    ]


def test_transforms_refresh_agrees_with_t6():
    """The transforms kernel's trims and the twin's T6 pass 1 run one
    dispatch: equal trims on every end of a 4-way plus a T junction,
    their dead ends and a loop road (both ends in one group, so the end
    order is pinned too)."""
    roads = _network()
    _recompute_trims_at(roads, {1, 2, 10, 11, 12, 13, 14})
    rows = []
    for r in _network():
        for is_src in (True, False):
            rows.append({
                "doc_id": "d", "i_id": r["src_i" if is_src else "dst_i"],
                "road_id": r["road_id"], "is_src_end": is_src,
                "xy": r["xy"], "total_width": r["total_width"],
                "driveable": True, "can_out": True, "can_in": True,
                "is_link": False, "pretrim": np.nan,
                "is_edge": r["src_is_edge" if is_src else "dst_is_edge"],
                "other_i": r["dst_i" if is_src else "src_i"],
                "restrictions_json": None, "driving_side": "right"})
    t6 = t6_process(rows, trims_only=True)
    want = {(t.road_id, t.is_src_end): t.trim for t in t6.itertuples()}
    got = {(r["road_id"], s): r["trim_start" if s else "trim_end"]
           for r in roads for s in (True, False)}
    assert got == want
    # the general case trimmed the 4-way, the MapEdge stub extended
    assert all(want[(k, k != 3)] > 1.0 for k in (1, 2, 3, 4))
    assert want[(5, False)] < 0
    assert t6["polygon_xy"].isna().all()


def test_t6_of_no_ends_is_empty():
    """A doc left with no roads hands T6 no ends; it yields no trim
    rows rather than failing."""
    for trims_only in (True, False):
        out = t6_process([], trims_only)
        assert out.empty and "trim" in out.columns
