"""J1/J2/W1/J5/F5 — intersection detection and way splitting.

Reference: streets_reader/src/split_ways.rs. The reference hashes every
way point (HashablePt2D, exact f64 bits) and counts uses; a point is an
intersection iff used ≥2 times (multiplicity counted) or it is a way
endpoint (:26-68). Ways are then walked in point order, emitting a new
road at each intersection point (:73-120).

Spark-first expression (SURVEY.md §2.3 J1, §2.5 W1):
  * point key = quantized (lon,lat) at 1e-7 deg — OSM native precision,
    consistent on both sides of every join (the reference's exact-bit
    hashing is reproduced by exact decimal quantization).
  * J1 is a hash aggregation over exploded way points — NOT a spatial
    join. Partial aggregation is map-side for free; the group key
    (doc_id, qx, qy) is fine-grained so no salting is needed here even
    at 10^12 docs (skew lives in per-doc grouping, handled by cell
    splitting downstream).
  * W1 is a window: running count of intersection flags along each way
    assigns segment ids; intersection points are emitted to both
    adjacent segments; geometry is re-assembled with sort_array — no
    Python in the hot path.

Deterministic IDs (SURVEY.md §1.5): road_id = xxhash64(doc_id, way_id,
seg_idx), i_id = xxhash64(doc_id, qx, qy) — stable across runs and
cluster sizes, unlike monotonically_increasing_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

QUANTUM = 1e7  # 1e-7 deg


def point_key(lon: str = "lon", lat: str = "lat") -> list:
    """The quantized point key columns (qx, qy): lon/lat rounded to the
    1e-7 deg grid."""
    return [F.round(F.col(lon) * QUANTUM).cast("long").alias("qx"),
            F.round(F.col(lat) * QUANTUM).cast("long").alias("qy")]


def way_points(ways: DataFrame, nodes: DataFrame) -> DataFrame:
    """Explode filtered ways to one row per (way, position) with node
    coords and quantized point key."""
    pts = ways.select(
        "doc_id", "way_id", F.size("node_ids").alias("n_pts"),
        F.posexplode("node_ids").alias("pos", "node_id"),
    )
    pts = pts.join(
        nodes.select("doc_id", "node_id", "lon", "lat"),
        ["doc_id", "node_id"], "inner",
    )
    return pts.select(
        "doc_id", "way_id", "pos", "node_id", "lon", "lat", "n_pts",
        *point_key(),
        ((F.col("pos") == 0) | (F.col("pos") == F.col("n_pts") - 1))
        .alias("is_endpoint"),
    )


def flag_intersections(pts: DataFrame) -> DataFrame:
    """J1 over way_points via a window on the point key: n_uses counts
    multiplicity across (and within) ways, exactly like the reference's
    HashMap counting (split_ways.rs:26-37)."""
    w = Window.partitionBy("doc_id", "qx", "qy")
    return pts.select(
        "*",
        F.count(F.lit(1)).over(w).alias("n_uses"),
        F.max(F.col("is_endpoint").cast("int")).over(w).alias("any_endpoint"),
    ).withColumn(
        "is_int",
        (F.col("n_uses") >= 2) | (F.col("any_endpoint") == 1),
    )


def intersections_v0(flagged: DataFrame) -> DataFrame:
    """Distinct intersection points (J1 result) with deterministic ids
    and the OSM node id (J2: a clipped synthetic point would have no
    node — kind MapEdge, split_ways.rs:39-52)."""
    ints = (
        flagged.where("is_int")
        .groupBy("doc_id", "qx", "qy")
        .agg(
            F.count(F.lit(1)).alias("n_uses"),
            # max: synthetic clip points carry negative ids — a real OSM
            # node at the same coords wins; all-negative → MapEdge
            F.max("node_id").alias("osm_node_id"),
            F.first("lon").alias("lon"),
            F.first("lat").alias("lat"),
        )
    )
    return ints.select(
        "*",
        F.xxhash64("doc_id", "qx", "qy").alias("i_id"),
        F.when(F.col("osm_node_id").isNull() | (F.col("osm_node_id") < 0),
               F.lit("MapEdge"))
         .otherwise(F.lit("Unknown")).alias("kind_hint"),
    )


def split_to_roads(flagged: DataFrame) -> DataFrame:
    """W1: segment each way at its interior intersection points.

    For each point, c_incl = running count of intersection flags up to
    and including it. A way with k intersection points has k-1 segments.
    Emission rule (validated in tests/test_split.py):
      * every point joins segment c_incl - 1 (when < n_segs)
      * intersection points additionally join segment c_incl - 2 (when ≥ 0)
    """
    w = Window.partitionBy("doc_id", "way_id").orderBy("pos") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy("doc_id", "way_id")

    pts = flagged.select(
        "*",
        F.sum(F.col("is_int").cast("int")).over(w).alias("c_incl"),
        (F.sum(F.col("is_int").cast("int")).over(wall) - 1).alias("n_segs"),
    ).where(F.col("n_segs") >= 1)

    cands = F.array(
        F.when(F.col("c_incl") - 1 < F.col("n_segs"), F.col("c_incl") - 1),
        F.when(F.col("is_int") & (F.col("c_incl") >= 2), F.col("c_incl") - 2),
    )
    seg_pts = pts.select(
        "doc_id", "way_id", "pos", "node_id", "lon", "lat", "qx", "qy",
        "is_int",
        F.explode(F.filter(cands, lambda c: c.isNotNull())).alias("seg_idx"),
    )

    roads = (
        seg_pts.groupBy("doc_id", "way_id", "seg_idx")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct("pos", "lon", "lat", "qx", "qy", "node_id")
                )
            ).alias("pts"),
        )
    )
    roads = roads.select(
        "doc_id", "way_id", F.col("seg_idx").cast("int").alias("seg_idx"),
        F.xxhash64("doc_id", "way_id", "seg_idx").alias("road_id"),
        F.transform("pts", lambda p: F.struct(
            p["lon"].alias("lon"), p["lat"].alias("lat"))).alias("pts"),
        F.transform("pts", lambda p: p["node_id"]).alias("pt_node_ids"),
        F.element_at("pts", 1)["qx"].alias("src_qx"),
        F.element_at("pts", 1)["qy"].alias("src_qy"),
        F.element_at("pts", -1)["qx"].alias("dst_qx"),
        F.element_at("pts", -1)["qy"].alias("dst_qy"),
        F.size("pts").alias("n_pts"),
    )
    roads = roads.withColumn(
        "src_i", F.xxhash64("doc_id", "src_qx", "src_qy")
    ).withColumn(
        "dst_i", F.xxhash64("doc_id", "dst_qx", "dst_qy")
    )
    # F5: cul-de-sac removal (streets_reader/src/lib.rs:43)
    return roads.where(
        (F.col("src_qx") != F.col("dst_qx")) | (F.col("src_qy") != F.col("dst_qy"))
    )


def interior_point_road_map(ints: DataFrame, roads: DataFrame,
                            *cols: str) -> DataFrame:
    """J5 (split_ways.rs:70,88-94): every non-intersection point of each
    surviving road → (doc_id, road_id, *cols of the road, qx, qy), for
    the feature snap join J3. `ints`: the v0 intersections
    (intersections_v0), one row per point key."""
    pt_rows = roads.select(
        "doc_id", "road_id", *cols,
        F.explode(F.expr(
            "slice(pts, 2, greatest(size(pts) - 2, 0))"
        )).alias("p"),
    ).select(
        "doc_id", "road_id", *cols, *point_key("p.lon", "p.lat"),
    )
    return pt_rows.join(ints.select("doc_id", "qx", "qy"),
                        ["doc_id", "qx", "qy"], "left_anti")


def build_network_v0(ways: DataFrame, nodes: DataFrame):
    """Full J1+W1 pass: returns (roads_v0, intersections_v0, flagged_pts)."""
    pts = way_points(ways, nodes)
    flagged = flag_intersections(pts)
    roads = split_to_roads(flagged)
    ints = intersections_v0(flagged)
    return roads, ints, flagged
