"""G5/E5 Spark wiring: per-doc block extraction (geom/blocks.py kernel)
+ J11 membership assignment (point-in-block PIP) + A8 census columns.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType,
)

from ..geom.blocks import find_blocks
from .geometry_update import map_groups

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
    spark = src.sparkSession
    n = spark.sparkContext.defaultParallelism * 2

    def _process(pdf):
        rows = []
        for doc_id, g in pdf.groupby("doc_id", sort=False):
            # deterministic face enumeration regardless of Arrow row
            # arrival order (block ids come from the walk order)
            rs = g.sort_values("road_id").to_dict("records")
            for r in rs:
                r["xy"] = list(r["xy"])
            for b in find_blocks(rs):
                rows.append((doc_id, int(b["block_id"]), b["kind"],
                             b["n_roads"], b["n_names"], b["area_m2"],
                             json.dumps(b["ring"], separators=(",", ":"))))
        return pd.DataFrame(rows,
                            columns=[f.name for f in BLOCK_SCHEMA.fields])

    return map_groups(src, ["doc_id"], _process, BLOCK_SCHEMA, n)


def assign_features_to_blocks(features: DataFrame, blocks: DataFrame,
                              anchors: DataFrame) -> DataFrame:
    """J11: point-in-polygon spatial join (block.rs:55-69 — the
    reference notes 'could cache an rtree'; our index is the quadkey
    cell prefilter the north_star calls for).

    Phase 1 (prefilter): explode each block over the z16 cells its bbox
    covers; equi-join features on (doc_id, tile_x, tile_y) — a plain
    hash join, no geometry.
    Phase 2 (refine): ray-casting PIP on the candidates only, in one
    Arrow-batched pandas pass.
    """
    import numpy as np

    from ..geom.core import point_in_ring, lonlat_to_xy
    from .tiles import tile_xy
    from pyspark.sql.types import BooleanType

    # block bbox in lon/lat (ring is in meters; convert via doc anchor)
    b = blocks.join(
        anchors.select("doc_id", F.col("min_lon").alias("lon0"),
                       F.col("min_lat").alias("lat0")), "doc_id")

    @F.pandas_udf("min_lon double, max_lon double, min_lat double, "
                  "max_lat double")
    def _bbox(ring_json: pd.Series, lon0: pd.Series,
              lat0: pd.Series) -> pd.DataFrame:
        from ..geom.core import xy_to_lonlat
        rows = {"min_lon": [], "max_lon": [], "min_lat": [], "max_lat": []}
        for rj, lo, la in zip(ring_json, lon0, lat0):
            ring = np.asarray(json.loads(rj))
            ll = xy_to_lonlat(ring, lo, la)
            rows["min_lon"].append(float(ll[:, 0].min()))
            rows["max_lon"].append(float(ll[:, 0].max()))
            rows["min_lat"].append(float(ll[:, 1].min()))
            rows["max_lat"].append(float(ll[:, 1].max()))
        return pd.DataFrame(rows)

    b = b.withColumn("_bb", _bbox("ring_json", "lon0", "lat0")) \
         .select("*", "_bb.*").drop("_bb")
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

    @F.pandas_udf(BooleanType())
    def _pip(lon: pd.Series, lat: pd.Series, ring_json: pd.Series,
             lon0: pd.Series, lat0: pd.Series) -> pd.Series:
        out = []
        for lo, la, rj, o_lo, o_la in zip(lon, lat, ring_json, lon0, lat0):
            ring = np.asarray(json.loads(rj))
            pt = lonlat_to_xy(np.array([[lo, la]]), o_lo, o_la)[0]
            out.append(bool(point_in_ring(pt, ring)))
        return pd.Series(out)

    return cand.where(_pip("c_lon", "c_lat", "ring_json", "lon0", "lat0")) \
        .select("doc_id", "feature_type", "feature_id", "block_id", "kind")
