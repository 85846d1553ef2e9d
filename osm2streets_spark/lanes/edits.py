"""E3: lane-edit operators (bindings surface of the reference).

Reference: osm2lanes/src/edit/add_bike_lanes.rs:4 (maybe_add_bike_lanes),
edit/add_new_lane.rs:5, edit/one_ways.rs:10 (toggle_road_direction).
Pure transforms over the lane_specs list — exposed both as Python
functions (for per-doc edit calls, E2-style) and as Spark column
expressions over the lane_specs_json column.
"""

from __future__ import annotations

import json

from .inference import (
    DRIVING, BIKING, PARKING, BUFFER, FWD, BACK, default_width,
)


def _loads(lane_specs_json: str) -> list[dict]:
    return json.loads(lane_specs_json)


def _dumps(specs: list[dict]) -> str:
    return json.dumps(specs, separators=(",", ":"))


def _lane(lt: str, direction: str, subtype: str = "") -> dict:
    """A new lane spec, as wide as on a residential road."""
    return {"lt": lt, "dir": direction,
            "width": default_width(lt, subtype, "residential"),
            "subtype": subtype, "allowed_turns": []}


def maybe_add_bike_lanes(lane_specs_json: str) -> str:
    """Convert the outermost driving (or parking) lane on each side into
    a bike lane + buffer where the road has ≥2 driving lanes in that
    direction (semantics of edit/add_bike_lanes.rs: keep at least one
    driving lane per direction)."""
    specs = _loads(lane_specs_json)
    if any(s["lt"] == BIKING for s in specs):
        return _dumps(specs)
    for direction, idx_iter in ((BACK, range(len(specs))),
                                (FWD, range(len(specs) - 1, -1, -1))):
        n_driving = sum(1 for s in specs
                        if s["lt"] == DRIVING and s["dir"] == direction)
        if n_driving < 2:
            continue
        for i in idx_iter:
            s = specs[i]
            if s["lt"] == DRIVING and s["dir"] == direction:
                bike = _lane(BIKING, direction)
                buf = _lane(BUFFER, direction, "flex_posts")
                if direction == BACK:
                    specs[i:i + 1] = [bike, buf]
                else:
                    specs[i:i + 1] = [buf, bike]
                break
    return _dumps(specs)


def add_new_lane(lane_specs_json: str, lt: str, dir: str = FWD) -> str:
    """Insert a lane of the given type at the edge of the roadway on its
    direction's side (edit/add_new_lane.rs semantics simplified)."""
    specs = _loads(lane_specs_json)
    new = _lane(lt, dir)
    # find insertion point: before the first FWD driving lane run's end
    # for forward, after the last BACK run's start for backward
    roadway = [i for i, s in enumerate(specs)
               if s["lt"] in (DRIVING, BIKING, PARKING)]
    if not roadway:
        specs.append(new)
    elif dir == FWD:
        specs.insert(roadway[-1] + 1, new)
    else:
        specs.insert(roadway[0], new)
    return _dumps(specs)


def toggle_road_direction(lane_specs_json: str) -> str:
    """Reverse every lane's direction and mirror the list
    (edit/one_ways.rs:10)."""
    specs = _loads(lane_specs_json)
    flipped = []
    for s in reversed(specs):
        s = dict(s)
        s["dir"] = BACK if s["dir"] == FWD else FWD
        flipped.append(s)
    return _dumps(flipped)
