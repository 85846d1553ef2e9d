"""S7: lane-marking render — dashed lane separators, stop lines, lane
arrows, buffer stripes.

Reference osm2streets/src/render/lane_markings.rs:12-270: dashed white
lines between same-direction lanes, solid center line between opposing
directions, arrows every 20 m (with 5 m end buffer, render/output.rs:
264-273), perpendicular stop lines. Pure per-road geometry → one
Arrow-batched pandas UDF pass; dash generation = stepping along the
separator polyline (W4 step_along).
"""

from __future__ import annotations

import json

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql.types import StringType

from ..geom.core import (
    shift_polyline, step_along, slice_between, polyline_length,
    cumulative_lengths, geojson_feature,
)
from .geometry_update import row_udf
from .render import ROAD_LAYER_COLS, explode_features

DASH_LEN = 1.0       # reference lane_markings.rs dashed pattern
DASH_GAP = 1.5
ARROW_STEP = 20.0
ARROW_BUFFER = 5.0
PARKING_SPOT_LEN = 8.0       # MapConfig parallel_street_parking_spot_length
PARKING_VEHICLE_WIDTH = 3.0  # MapConfig vehicle_width_for_parking_spots
HATCH_LEG = 1.0              # lane_markings.rs:261 leg_length


def lane_markings_row(raw, tw, lj, lo, la) -> list[str]:
    """S7 per-road kernel — pure, shared by the Spark UDF and the
    sequential replay."""
    pl = np.asarray(raw, dtype=float).reshape(-1, 2)
    specs = json.loads(lj)
    feats = []
    if polyline_length(pl) < 1e-6 or len(specs) < 1:
        return feats
    # separators between adjacent lanes (W2 adjacent-pair iteration)
    acc = 0.0
    for i in range(len(specs) - 1):
        acc += float(specs[i]["width"])
        a, b = specs[i], specs[i + 1]
        offset = acc - float(tw) / 2.0
        sep = shift_polyline(pl, offset)
        both_travel = (a["lt"] in ("driving", "bus", "biking")
                       and b["lt"] in ("driving", "bus", "biking"))
        if not both_travel:
            continue
        if a["dir"] != b["dir"]:
            # solid center line between opposing flows
            feats.append(geojson_feature(
                "LineString", sep, lo, la,
                {"type": "center line", "style": "solid"}))
        else:
            # dashed separator: step along, emit dashes
            total = polyline_length(sep)
            d = 0.0
            while d + DASH_LEN <= total:
                feats.append(geojson_feature(
                    "LineString", slice_between(sep, d, d + DASH_LEN),
                    lo, la,
                    {"type": "lane separator", "style": "dashed"}))
                d += DASH_LEN + DASH_GAP
    # lane arrows every 20 m in each travel lane (W4 step sampling)
    acc = 0.0
    for s in specs:
        w = float(s["width"])
        offset = acc + w / 2.0 - float(tw) / 2.0
        acc += w
        if s["lt"] == "parking":
            feats.extend(_parking_hatches(
                pl, offset, w, s.get("subtype") or "parallel",
                s.get("dir", "forward"), lo, la))
            continue
        if s["lt"] not in ("driving", "bus", "biking"):
            continue
        lane_c = shift_polyline(pl, offset)
        for pt in step_along(lane_c, ARROW_STEP, ARROW_BUFFER):
            feats.append(geojson_feature(
                "Point", pt, lo, la,
                {"type": "lane arrow", "dir": s["dir"], "lane": s["lt"]}))
    return feats


def _parking_hatches(pl, offset, width, orientation, lane_dir, lo, la):
    """Parking-spot dividers (lane_markings.rs:245-361).

    parallel (:245-287): a 3-leg T at every spot boundary — perp leg
    into the lane, plus legs forward/back along it; diagonal (:289-327):
    a ±45° stroke across the lane per vehicle width; perpendicular
    (:330-361): a straight stroke across. No spots next to
    intersections (floor(len/step) - 2)."""
    from ..geom.core import interpolate_along

    lane_c = shift_polyline(pl, offset)
    total = polyline_length(lane_c)
    step = PARKING_SPOT_LEN if orientation == "parallel" \
        else PARKING_VEHICLE_WIDTH
    spots = int(total / step) - 2
    if spots < 1:
        return []
    cl = cumulative_lengths(lane_c)
    # hatches push toward the lane's outer edge: the sign of the lane
    # offset says which side of the road the lane sits on
    out_sign = 1.0 if offset >= 0 else -1.0
    feats = []
    for idx in range(spots + 1):
        d = step * (1.0 + idx)
        pt = interpolate_along(lane_c, d)
        i = min(int(np.searchsorted(cl, max(d, 1e-9))), len(lane_c) - 1)
        t = lane_c[i] - lane_c[i - 1] if i > 0 else lane_c[1] - lane_c[0]
        n = np.hypot(t[0], t[1]) or 1.0
        t = t / n
        perp = np.array([t[1], -t[0]]) * out_sign
        t_pt = pt + perp * (width * 0.4)
        if orientation == "parallel":
            legs = [
                (t_pt, t_pt - perp * HATCH_LEG),      # perp leg inward
                (t_pt, t_pt + t * HATCH_LEG),         # upper leg
                (t_pt, t_pt - t * HATCH_LEG),         # lower leg
            ]
        else:
            stroke_dir = -perp
            if orientation == "diagonal":
                ang = np.pi / 4 if lane_dir == "forward" else -np.pi / 4
                c, s_ = np.cos(ang), np.sin(ang)
                stroke_dir = np.array([
                    stroke_dir[0] * c - stroke_dir[1] * s_,
                    stroke_dir[0] * s_ + stroke_dir[1] * c,
                ])
            inside_pt = t_pt + stroke_dir * (width * 0.9)
            legs = [(t_pt, inside_pt)]
        for a, b in legs:
            feats.append(geojson_feature(
                "LineString", np.array([a, b]), lo, la,
                {"type": "parking hatch", "orientation": orientation}))
    return feats


def stop_line_feature_row(raw, tw, pct, lo, la) -> str:
    """Perpendicular stop line across the roadway at the snapped
    position (render/lane_markings.rs draw_stop_lines :192, perp_line
    :390). Pure — shared by the Spark UDF and the sequential replay."""
    from ..geom.core import cumulative_lengths, interpolate_along

    pl = np.asarray(raw, dtype=float).reshape(-1, 2)
    total = polyline_length(pl)
    d = max(0.0, min(float(pct), 1.0)) * total
    pt = interpolate_along(pl, d)
    cl = cumulative_lengths(pl)
    i = min(int(np.searchsorted(cl, max(d, 1e-9))), len(pl) - 1)
    t = pl[i] - pl[i - 1] if i > 0 else pl[1] - pl[0]
    n = np.hypot(t[0], t[1]) or 1.0
    perp = np.array([t[1], -t[0]]) / n
    half = float(tw) / 2.0
    seg = np.array([pt + perp * half, pt - perp * half])
    return geojson_feature("LineString", seg, lo, la, {"type": "stop line"})


def render_stop_lines(stop_lines: DataFrame, roads: DataFrame) -> DataFrame:
    """stop_lines: output of features.road_stop_lines (road_id,
    pct_along, feature kind); joined to road geometry → one LineString
    feature per signal/crossing position."""
    j = stop_lines.join(
        roads.select("doc_id", "road_id", "center_xy", "total_width",
                     "lon0", "lat0"),
        ["doc_id", "road_id"])
    return j.select(
        "doc_id", "road_id", "node_id", "feature",
        row_udf(stop_line_feature_row, StringType())(
            "center_xy", "total_width", "pct_along", "lon0", "lat0",
        ).alias("feature_json"),
    )


def render_lane_markings(roads: DataFrame) -> DataFrame:
    return explode_features(roads, ["doc_id", "road_id"], lane_markings_row,
                            ROAD_LAYER_COLS, "marking_idx")
