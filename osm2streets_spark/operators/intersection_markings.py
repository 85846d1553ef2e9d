"""S8: intersection markings — crossing outlines and sidewalk corners.

Reference osm2streets/src/render/intersection_markings.rs:10-39
(zebra / unmarked crossing outlines across the junction) and
make_sidewalk_corners (:43-135).

Crossing outlines (zebra bars for Marked/Signalized, edge dashes for
Unmarked) run across the intersection polygon's minor axis, one per-row
kernel over the finalized intersections table. Sidewalk corners are
make_sidewalk_corners' corner polygons where two sidewalk-edged roads
meet (geom/intersection_kernel.sidewalk_corners), one map_groups pass
over each junction's road ends.
"""

from __future__ import annotations

import json

import numpy as np

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    IntegerType, LongType, StringType, StructField, StructType,
)

from ..geom.core import geojson_feature, ring_centroid
from ..geom.intersection_kernel import road_end, sidewalk_corners
from .geometry_update import map_groups, road_ends
from .render import explode_features

ZEBRA_BAR_WIDTH = 0.5
ZEBRA_GAP = 0.5


def crossing_markings_row(raw, kind, lo, la) -> list[str]:
    """S8 per-junction kernel — pure, shared by the Spark UDF and the
    sequential replay."""
    feats: list[str] = []
    if raw is None or not isinstance(kind, str) or not kind:
        return feats
    ring = np.asarray(raw, dtype=float).reshape(-1, 2)
    c = ring_centroid(ring)
    # principal axis of the junction polygon via covariance
    pts = ring[:-1] - c
    cov = pts.T @ pts
    evals, evecs = np.linalg.eigh(cov)
    major = evecs[:, int(np.argmax(evals))]
    minor = np.array([-major[1], major[0]])
    half_len = float(np.abs(pts @ major).max())
    half_w = float(np.abs(pts @ minor).max())
    style = {"Marked": "zebra", "Signalized": "zebra",
             "Unmarked": "edge"}.get(kind, "edge")
    if style == "zebra":
        step = ZEBRA_BAR_WIDTH + ZEBRA_GAP
        d = -half_len + step
        while d < half_len - step / 2:
            p0 = c + major * d - minor * half_w
            p1 = c + major * d + minor * half_w
            feats.append(geojson_feature("LineString", np.array([p0, p1]),
                                         lo, la, {"type": "zebra bar"}))
            d += step
    else:
        for sgn in (-1.0, 1.0):
            p0 = c - major * half_len + minor * half_w * sgn
            p1 = c + major * half_len + minor * half_w * sgn
            feats.append(geojson_feature("LineString", np.array([p0, p1]),
                                         lo, la, {"type": "crossing edge"}))
    return feats


def render_intersection_markings(ints: DataFrame) -> DataFrame:
    src = ints.where(F.col("polygon_xy").isNotNull()
                     & F.col("crossing_kind").isNotNull())
    return explode_features(src, ["doc_id", "i_id"], crossing_markings_row,
                            ["polygon_xy", "crossing_kind", "lon0", "lat0"],
                            "marking_idx")


CORNER_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("i_id", LongType()),
    StructField("marking_idx", IntegerType()),
    StructField("feature_json", StringType()),
])


def sidewalk_corner_rows(grp: list[dict]) -> list[tuple]:
    """One junction's sidewalk-corner features (CORNER_SCHEMA tuples)."""
    # by road_id, a loop road's src end first (as the sequential twin
    # orders them)
    grp.sort(key=lambda r: (r["road_id"], not r["is_src_end"]))
    ends = [road_end(int(r["road_id"]), bool(r["is_src_end"]),
                     r["center_xy"], r["total_width"],
                     specs=json.loads(r["lane_specs_json"]))
            for r in grp]
    ends = [e for e in ends if len(e["xy"]) >= 2]
    if len(ends) < 2:
        return []
    g = grp[0]
    ring = np.asarray(g["polygon_xy"], dtype=float).reshape(-1, 2)
    return [(g["doc_id"], int(g["i_id"]), idx,
             geojson_feature("Polygon", ring_out, float(g["lon0"]),
                             float(g["lat0"]), {"type": "sidewalk corner"}))
            for idx, ring_out in enumerate(sidewalk_corners(ends, ring))]


def render_sidewalk_corners(roads_final: DataFrame,
                            ints: DataFrame) -> DataFrame:
    """S8 sidewalk corners (make_sidewalk_corners,
    render/intersection_markings.rs:43-135): per junction, corner
    polygons where two sidewalk-edged roads meet. One map_groups pass
    over (doc_id, i_id) junction groups, like transforms.finish_seams."""
    ends = road_ends(roads_final, "center_xy", "total_width",
                     "lane_specs_json")
    polys = ints.where(F.col("polygon_xy").isNotNull()).select(
        "doc_id", "i_id", "polygon_xy", "lon0", "lat0")
    src = ends.join(polys, ["doc_id", "i_id"])
    return map_groups(src, ["doc_id", "i_id"], sidewalk_corner_rows,
                      CORNER_SCHEMA)
