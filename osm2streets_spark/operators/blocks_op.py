"""G5/E5 Spark wiring: per-doc block extraction (geom/blocks.py kernel)
+ J11 membership assignment (point-in-block PIP) + A8 census columns.
"""

from __future__ import annotations

import json

import numpy as np

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BooleanType, DoubleType, LongType, StringType, StructField, StructType,
)

from ..geom.blocks import find_blocks
from ..geom.core import lonlat_to_xy, point_in_ring, xy_to_lonlat
from .geometry_update import map_groups, row_udf
from .tiles import tile_xy

BLOCK_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("block_id", LongType()),
    StructField("kind", StringType()),
    StructField("n_roads", LongType()),
    StructField("n_names", LongType()),
    StructField("area_m2", DoubleType()),
    StructField("ring_json", StringType()),
])


def extract_blocks(roads: DataFrame) -> DataFrame:
    """roads needs doc_id, road_id, src_i, dst_i, xy, name,
    highway_type (post-transform network)."""
    src = roads.select("doc_id", "road_id", "src_i", "dst_i", "xy",
                       "name", "highway_type")

    def _process(rows):
        # deterministic face enumeration regardless of Arrow row
        # arrival order (block ids come from the walk order)
        rows.sort(key=lambda r: r["road_id"])
        for r in rows:
            r["xy"] = list(r["xy"])
        return [(rows[0]["doc_id"], int(b["block_id"]), b["kind"],
                 b["n_roads"], b["n_names"], b["area_m2"],
                 json.dumps(b["ring"], separators=(",", ":")))
                for b in find_blocks(rows)]

    return map_groups(src, ["doc_id"], _process, BLOCK_SCHEMA)


BBOX_SCHEMA = StructType([
    StructField("min_lon", DoubleType()),
    StructField("max_lon", DoubleType()),
    StructField("min_lat", DoubleType()),
    StructField("max_lat", DoubleType()),
])


def ring_bbox(ring_json, lon0, lat0) -> tuple[float, float, float, float]:
    """Lon/lat bbox (BBOX_SCHEMA order) of a meters-plane block ring."""
    ll = xy_to_lonlat(np.asarray(json.loads(ring_json)), lon0, lat0)
    return (float(ll[:, 0].min()), float(ll[:, 0].max()),
            float(ll[:, 1].min()), float(ll[:, 1].max()))


def in_ring(lon, lat, ring_json, lon0, lat0) -> bool:
    """Whether the lon/lat point lies inside the meters-plane ring."""
    pt = lonlat_to_xy(np.array([[lon, lat]]), lon0, lat0)[0]
    return bool(point_in_ring(pt, np.asarray(json.loads(ring_json))))


def assign_features_to_blocks(features: DataFrame, blocks: DataFrame,
                              anchors: DataFrame) -> DataFrame:
    """J11: point-in-polygon spatial join (block.rs:55-69 — the
    reference notes 'could cache an rtree'; our index is the quadkey
    cell prefilter the north_star calls for).

    Phase 1 (prefilter): explode each block over the z16 cells its bbox
    covers; equi-join features on (doc_id, tile_x, tile_y) — a plain
    hash join, no geometry.
    Phase 2 (refine): ray-casting PIP on the candidates only, in one
    Arrow-batched pass.
    """
    # block bbox in lon/lat (ring is in meters; convert via doc anchor)
    b = blocks.join(
        anchors.select("doc_id", F.col("min_lon").alias("lon0"),
                       F.col("min_lat").alias("lat0")), "doc_id")
    b = b.withColumn("_bb", row_udf(ring_bbox, BBOX_SCHEMA)(
        "ring_json", "lon0", "lat0")).select("*", "_bb.*").drop("_bb")
    x0, y0 = tile_xy(F.col("min_lon"), F.col("max_lat"), 16)  # NW corner
    x1, y1 = tile_xy(F.col("max_lon"), F.col("min_lat"), 16)  # SE corner
    cells = b.select(
        "doc_id", "block_id", "kind", "ring_json", "lon0", "lat0",
        F.explode(F.sequence(x0, x1)).alias("tile_x"),
        F.sequence(y0, y1).alias("_ys"),
    ).select("doc_id", "block_id", "kind", "ring_json", "lon0", "lat0",
             "tile_x", F.explode("_ys").alias("tile_y"))

    cand = features.select(
        "doc_id", "feature_type", "feature_id", "c_lon", "c_lat",
        "tile_x", "tile_y",
    ).join(cells, ["doc_id", "tile_x", "tile_y"])

    pip = row_udf(in_ring, BooleanType())
    return cand.where(pip("c_lon", "c_lat", "ring_json", "lon0", "lat0")) \
        .select("doc_id", "feature_type", "feature_id", "block_id", "kind")
