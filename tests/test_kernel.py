"""Pure-Python unit tests for the per-intersection kernel: conflict
lattice, movements, clockwise ordering, trims, polygons — no Spark."""

import numpy as np
import pytest

from osm2streets_spark.geom.intersection_kernel import (
    calc_conflict, movements_and_kind, sort_roads_cw, compute_trims,
    intersection_polygon, UNCONTESTED, DIVERGE, MERGE, CROSS,
)


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
