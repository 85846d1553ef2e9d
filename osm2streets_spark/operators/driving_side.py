"""K15: country → driving side detection.

Reference streets_reader/src/lib.rs:50-77: the first boundary-polygon
point is looked up in a country-boundaries dataset; the country decides
the driving side.

Spark-first shape: a tiny broadcast lookup table of country bounding
boxes (coarse, deterministic, public CIA-factbook-style side data for
the left-driving countries we care about) joined to each doc's anchor
point. Coarse boxes are fine: a doc is assigned by its bbox center, and
ties resolve by list order — at corpus scale this is THE textbook
broadcast-join-small-dim pattern. The reference's config override has
no counterpart here: every doc's side comes from its boxes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# (iso, min_lon, max_lon, min_lat, max_lat, side) — coarse boxes for
# left-driving regions; everything else defaults to right.
LEFT_DRIVING_BOXES = [
    ("GB", -8.7, 1.8, 49.8, 60.9, "left"),
    ("IE", -10.7, -5.9, 51.4, 55.5, "left"),
    ("AU", 112.9, 153.7, -43.7, -10.0, "left"),
    ("NZ", 166.0, 178.6, -47.4, -34.3, "left"),
    ("JP", 129.4, 145.9, 31.0, 45.6, "left"),
    ("IN", 68.1, 97.4, 6.5, 35.7, "left"),
    ("ZA", 16.4, 32.9, -34.9, -22.1, "left"),
    ("VI", -65.2, -64.5, 17.6, 18.5, "left"),  # US Virgin Islands
]


def with_driving_side(anchors: DataFrame) -> DataFrame:
    """anchors: (doc_id, min_lon, max_lon, min_lat, max_lat) →
    + driving_side column."""
    spark = anchors.sparkSession
    boxes = spark.createDataFrame(
        LEFT_DRIVING_BOXES,
        "iso string, b_min_lon double, b_max_lon double, "
        "b_min_lat double, b_max_lat double, side string",
    )
    cx = (F.col("min_lon") + F.col("max_lon")) / 2.0
    cy = (F.col("min_lat") + F.col("max_lat")) / 2.0
    a = anchors.withColumn("_cx", cx).withColumn("_cy", cy)
    j = a.join(
        F.broadcast(boxes),
        (F.col("_cx") >= F.col("b_min_lon")) & (F.col("_cx") <= F.col("b_max_lon"))
        & (F.col("_cy") >= F.col("b_min_lat")) & (F.col("_cy") <= F.col("b_max_lat")),
        "left",
    )
    # a doc center could fall in overlapping boxes — keep first by iso
    j = j.groupBy(*anchors.columns).agg(F.min("side").alias("_side"))
    return j.withColumn(
        "driving_side", F.coalesce("_side", F.lit("right"))
    ).drop("_side")
