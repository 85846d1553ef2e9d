"""J4: simple turn-restriction resolution.

Reference split_ways.rs:123-160: (from_way, via_node, to_way) resolves
to (from_road, to_road) at the via intersection; silently skipped when
either way was filtered out or doesn't touch the via node.

Spark expression: two hash joins — restriction×nodes (via coords →
i_id), then restriction×roads twice (from / to side), each constrained
to roads incident to the via intersection. All equi-joins on
(doc_id, key); the restrictions side is tiny → broadcast. That
resolution against the v0 graph only feeds T2's has_restriction guard;
the final one runs per junction inside the transforms kernel
(geometry_update.finish_junction), against the roads T1 and T2 left.

Via-way restrictions (J6, split_ways.rs:163-213) are resolved by
``resolve_via_way_restrictions`` below.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .geometry_update import road_ends
from .split_ways import point_key


def restriction_vias(restrictions: DataFrame, nodes: DataFrame) -> DataFrame:
    """The first half of J4: each via-node restriction's via point as an
    intersection id → (doc_id, i_id, restriction_type, from_way,
    to_way). The transforms kernel takes these rows as they are and
    matches from/to ways against its final roads; resolve_restrictions
    matches them against the v0 roads."""
    r = restrictions.where(F.col("via_node").isNotNull())
    # broadcast the (sparse) restriction side: the nodes table is never
    # shuffled for the via lookup
    return nodes.select(
        "doc_id", F.col("node_id").alias("via_node"), *point_key(),
    ).join(r, ["doc_id", "via_node"]).select(
        "doc_id", F.xxhash64("doc_id", "qx", "qy").alias("i_id"),
        "restriction_type", "from_way", "to_way")


def resolve_restrictions(vias: DataFrame, roads: DataFrame) -> DataFrame:
    """`vias` (restriction_vias) matched against the v0 roads incident
    to each via → (doc_id, i_id, restriction_type, from_road, to_road).
    A road matches every constituent way of its `osm_way_ids`."""
    incident = road_ends(roads, "osm_way_ids").select(
        "doc_id", "i_id", "road_id",
        F.explode("osm_way_ids").alias("way_id"))
    frm = incident.select(
        "doc_id", "i_id", F.col("way_id").alias("from_way"),
        F.col("road_id").alias("from_road"))
    to = incident.select(
        "doc_id", "i_id", F.col("way_id").alias("to_way"),
        F.col("road_id").alias("to_road"))

    # restrictions are a sparse relation class: broadcast that side so
    # the exploded incident frame (corpus-sized) is never shuffled —
    # both joins run map-side over `incident`. (At 100 TB:
    # doc_id-bucketed co-partitioned join instead.)
    half = frm.join(vias, ["doc_id", "i_id", "from_way"])
    return (
        to.join(half, ["doc_id", "i_id", "to_way"])
        .select("doc_id", "i_id", "restriction_type", "from_road", "to_road")
        .dropDuplicates()
    )


def resolve_via_way_restrictions(restrictions: DataFrame,
                                 roads: DataFrame) -> DataFrame:
    """J6 (split_ways.rs:163-213): (from_way, via_way, to_way) resolves
    when exactly ONE road carries the via way; from/to roads must touch
    the via road's endpoints. → (doc_id, restriction_type, from_road,
    via_road, to_road) — the reference stores these as 'complicated'
    restrictions on the from-road (road.rs:58)."""
    r = restrictions.where(F.col("via_way").isNotNull())

    via_counts = roads.groupBy("doc_id", "way_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("road_id").alias("via_road"),
        F.min("src_i").alias("via_src"),
        F.min("dst_i").alias("via_dst"),
    ).where(F.col("n") == 1).drop("n")

    r = r.join(
        via_counts.withColumnRenamed("way_id", "via_way"),
        ["doc_id", "via_way"],
    )

    incident = road_ends(roads, "way_id")
    frm = incident.select(
        "doc_id", F.col("way_id").alias("from_way"),
        F.col("road_id").alias("from_road"), F.col("i_id").alias("from_i"))
    to = incident.select(
        "doc_id", F.col("way_id").alias("to_way"),
        F.col("road_id").alias("to_road"), F.col("i_id").alias("to_i"))

    out = (
        r.join(frm, ["doc_id", "from_way"])
        .where((F.col("from_i") == F.col("via_src"))
               | (F.col("from_i") == F.col("via_dst")))
        .join(to, ["doc_id", "to_way"])
        .where(((F.col("to_i") == F.col("via_src"))
                | (F.col("to_i") == F.col("via_dst")))
               & (F.col("to_i") != F.col("from_i")))
        .select("doc_id", "restriction_type", "from_road", "via_road",
                "to_road")
        .dropDuplicates()
    )
    return out
