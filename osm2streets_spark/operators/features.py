"""J3: snap tagged feature points (signals / crossings / ASLs) to the
road containing them, and derive stop-line positions.

Reference split_ways.rs:221-311: a feature node either coincides with an
intersection (its roster, in geometry_update.finish_junction) or lies on
a road's interior — matched via the interior-point→road map (J5), then
projected
to a distance along the road. The 30%/70% rule (split_ways.rs:300-308):
an undirected mid-road crossing snaps to the nearer end when within 30%
of it, else stays a crossing on the road.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DoubleType

from ..geom.core import lonlat_to_xy, project_onto, polyline_length
from .geometry_update import row_udf
from .split_ways import point_key


def snap_features_to_roads(features: DataFrame,
                           interior_map: DataFrame) -> DataFrame:
    """features (from extract.node_features) ⋈ J5 interior map on the
    quantized point key — an equi-join, not a spatial join, exactly like
    the reference's HashMap lookup (split_ways.rs:70)."""
    f = features.select(
        "doc_id", "node_id", "feature", "signal_dir", "crossing_kind",
        "crossing_island", "lon", "lat", *point_key(),
    )
    return f.join(interior_map, ["doc_id", "qx", "qy"], "inner")


def dist_along_pct(xy, lon, lat, lon0, lat0) -> float:
    """Fraction along the road of the feature point (for the 30%/70%
    snap rule and stop-line placement)."""
    pl = np.asarray(xy, dtype=float).reshape(-1, 2)
    pt = lonlat_to_xy(np.array([[lon, lat]]), lon0, lat0)[0]
    total = polyline_length(pl)
    if total <= 0:
        return 0.0
    return project_onto(pl, pt) / total


def road_stop_lines(snapped: DataFrame, roads: DataFrame) -> DataFrame:
    """→ (doc_id, road_id, feature, pct_along, snapped_end):
    snapped_end ∈ {start, end, none} per the 30/70 rule."""
    j = snapped.join(
        roads.select("doc_id", "road_id", "xy", "lon0", "lat0"),
        ["doc_id", "road_id"],
    )
    j = j.withColumn(
        "pct_along", F.round(row_udf(dist_along_pct, DoubleType())(
            "xy", "lon", "lat", "lon0", "lat0"), 4))
    return j.select(
        "doc_id", "road_id", "node_id", "feature", "signal_dir",
        "crossing_kind", "crossing_island", "pct_along",
        F.when(F.col("pct_along") < 0.3, F.lit("start"))
         .when(F.col("pct_along") > 0.7, F.lit("end"))
         .otherwise(F.lit("none")).alias("snapped_end"),
    )
