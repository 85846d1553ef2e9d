"""J4: simple turn-restriction resolution.

Reference split_ways.rs:123-160: (from_way, via_node, to_way) resolves
to (from_road, to_road) at the via intersection; silently skipped when
either way was filtered out or doesn't touch the via node.

Spark expression: restriction_vias maps each via node to its
intersection id with one hash join on (doc_id, via_node), the sparse
restriction side broadcast. The matching of from/to ways against
roads runs inside the transforms kernel: before the transforms for
T2's restricted-road guard, against the v0 roads, and per junction
after them (geometry_update.finish_junction), against the roads T1 and
T2 left.

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
    matches from/to ways against its roads."""
    r = restrictions.where(F.col("via_node").isNotNull())
    # broadcast the (sparse) restriction side: the nodes table is never
    # shuffled for the via lookup
    return nodes.select(
        "doc_id", F.col("node_id").alias("via_node"), *point_key(),
    ).join(r, ["doc_id", "via_node"]).select(
        "doc_id", F.xxhash64("doc_id", "qx", "qy").alias("i_id"),
        "restriction_type", "from_way", "to_way")


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
