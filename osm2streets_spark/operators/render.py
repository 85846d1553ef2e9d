"""S5/S6: GeoJSON renders.

Reference render/mod.rs:48-108 (to_geojson): one polygon per road
(center line buffered by total width) + one per intersection, with
properties, coordinates restored to lon/lat. This is the
snapshot-parity surface of the reference test suite.

S6 (render/mod.rs:111-153): one polygon per lane via posexplode +
per-lane parallel offsets.

Both are Arrow-batched pandas UDF renders over already-computed
geometry columns — pure per-row compute, no shuffle.
"""

from __future__ import annotations

import json

import numpy as np

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType, DoubleType, StringType, StructField, StructType,
)

from ..geom.core import (
    geojson_feature, shift_polyline, thicken_polyline, xy_to_lonlat,
)
from .geometry_update import row_udf

ROAD_FEATURE = StructType([
    StructField("feature_json", StringType()),
    StructField("c_lon", DoubleType()),
    StructField("c_lat", DoubleType()),
])


def _polygon_row(ring, lo, la, pj) -> tuple[str, float, float]:
    c = xy_to_lonlat(ring, lo, la).mean(axis=0)
    return (geojson_feature("Polygon", ring, lo, la, json.loads(pj)),
            float(c[0]), float(c[1]))


def road_feature_row(raw, w, lo, la, pj) -> tuple[str, float, float]:
    """S5 per-road kernel: the center line thickened by the total
    width → (feature_json, centroid lon, centroid lat)."""
    pl = np.asarray(raw, dtype=float).reshape(-1, 2)
    return _polygon_row(thicken_polyline(pl, float(w)), lo, la, pj)


def intersection_feature_row(raw, lo, la, pj) -> tuple[str, float, float]:
    """S5 per-junction kernel: the polygon ring as it is."""
    ring = np.asarray(raw, dtype=float).reshape(-1, 2)
    return _polygon_row(ring, lo, la, pj)


def explode_features(df: DataFrame, keys: list[str], kernel,
                     cols: list[str], idx: str) -> DataFrame:
    """One (keys..., idx, feature_json) row per string in the list the
    per-row kernel returns for each input row."""
    udf = row_udf(kernel, ArrayType(StringType()))
    return df.select(*keys,
                     F.posexplode(udf(*cols)).alias(idx, "feature_json"))


def render_roads(roads: DataFrame) -> DataFrame:
    """Road polygons with the reference's property set (render/mod.rs:62-79:
    id, type=road, osm_way_ids, src_i, dst_i, layer)."""
    props = F.to_json(F.struct(
        F.col("road_id").alias("id"),
        F.lit("road").alias("type"),
        F.col("osm_way_ids").alias("osm_way_ids"),
        F.col("src_i").alias("src_i"),
        F.col("dst_i").alias("dst_i"),
        F.col("highway_type").alias("highway"),
        F.col("name").alias("name"),
        F.col("layer").alias("layer"),
        F.col("lane_chars").alias("lanes_ltr"),
        F.col("dir_chars").alias("dirs_ltr"),
    ))
    udf = row_udf(road_feature_row, ROAD_FEATURE)
    out = roads.withColumn(
        "_f", udf("center_xy", "total_width", "lon0", "lat0", props))
    return out.select(
        "doc_id", F.lit("road").alias("feature_type"),
        F.col("road_id").alias("feature_id"),
        F.col("_f.feature_json").alias("feature_json"),
        F.col("_f.c_lon").alias("c_lon"), F.col("_f.c_lat").alias("c_lat"),
    )


def render_intersections(ints: DataFrame) -> DataFrame:
    """Intersection polygons with kind/control/movements properties
    (render/mod.rs:81-104)."""
    props = F.to_json(F.struct(
        F.col("i_id").alias("id"),
        F.lit("intersection").alias("type"),
        F.col("osm_node_ids").alias("osm_node_ids"),
        F.col("kind").alias("intersection_kind"),
        F.col("control").alias("control"),
        F.col("movements_json").alias("movements"),
    ))
    withgeom = ints.where(F.col("polygon_xy").isNotNull())
    udf = row_udf(intersection_feature_row, ROAD_FEATURE)
    out = withgeom.withColumn(
        "_f", udf("polygon_xy", "lon0", "lat0", props))
    return out.select(
        "doc_id", F.lit("intersection").alias("feature_type"),
        F.col("i_id").alias("feature_id"),
        F.col("_f.feature_json").alias("feature_json"),
        F.col("_f.c_lon").alias("c_lon"), F.col("_f.c_lat").alias("c_lat"),
    )


def lane_polygons_row(raw, tw, lj, lo, la) -> list[str]:
    """S6 per-road kernel: offset each lane's center from the road
    center by (cumulative width + w/2 - total/2), buffer by lane width.
    Pure — shared by the Spark UDF and the sequential replay."""
    pl = np.asarray(raw, dtype=float).reshape(-1, 2)
    specs = json.loads(lj)
    acc = 0.0
    polys = []
    for s in specs:
        w = float(s["width"])
        # lanes listed left→right; left edge at -total/2
        # signed offset from road center: negative = left of travel,
        # matching shift_polyline's positive-right convention
        offset = acc + w / 2.0 - float(tw) / 2.0
        lane_center = shift_polyline(pl, offset)
        polys.append(geojson_feature(
            "Polygon", thicken_polyline(lane_center, w), lo, la,
            {"type": s["lt"], "subtype": s["subtype"],
             "direction": s["dir"], "width": w,
             "allowed_turns": s["allowed_turns"]}))
        acc += w
    return polys


ROADWAY_TYPES = {"driving", "bus", "biking", "parking", "shoulder",
                 "shared_left_turn", "construction", "light_rail"}


def surfaces_row(raw, tw, lj, lo, la) -> list[str]:
    """S9 per-road kernel (render/output.rs:20-74): one Surface polygon
    per contiguous run of same-material lanes. Pure — shared by the
    Spark UDF and the sequential replay."""
    pl = np.asarray(raw, dtype=float).reshape(-1, 2)
    specs = json.loads(lj)
    feats = []
    runs = []  # (material, start_offset, width)
    acc = 0.0
    for s in specs:
        w = float(s["width"])
        if s["lt"] in ROADWAY_TYPES:
            mat = "asphalt"
        elif s["lt"] in ("sidewalk", "footway", "shared_use"):
            mat = "concrete"
        else:
            mat = None  # buffers split runs (curb/verge off-roadway)
        if mat is not None and runs and runs[-1][0] == mat \
                and abs(runs[-1][1] + runs[-1][2] - acc) < 1e-9:
            runs[-1] = (mat, runs[-1][1], runs[-1][2] + w)
        elif mat is not None:
            runs.append((mat, acc, w))
        acc += w
    for mat, start, width in runs:
        offset = start + width / 2.0 - float(tw) / 2.0
        center = shift_polyline(pl, offset)
        feats.append(geojson_feature(
            "Polygon", thicken_polyline(center, width), lo, la,
            {"type": "surface", "material": mat,
             "width": round(width, 3)}))
    return feats


ROAD_LAYER_COLS = ["center_xy", "total_width", "lane_specs_json", "lon0",
                   "lat0"]


def render_surfaces(roads: DataFrame) -> DataFrame:
    return explode_features(roads, ["doc_id", "road_id"], surfaces_row,
                            ROAD_LAYER_COLS, "surface_idx")


def render_lane_polygons(roads: DataFrame) -> DataFrame:
    return explode_features(roads, ["doc_id", "road_id"],
                            lane_polygons_row, ROAD_LAYER_COLS, "lane_idx")
