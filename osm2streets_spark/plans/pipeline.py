"""The end-to-end street-network pipeline (SURVEY.md §3.1 re-expressed).

documents ──parse──▶ nodes/ways/relations
  ─F2 filter─▶ ways ─K1 lanes─▶ way attrs
  ─J1 point agg─▶ intersections(v0)   ─W1 window split─▶ roads(v0)
  ─T4/T1/T2/T1 per-doc rewrite, then in the same kernel group: T6 pass 2,
   turn restrictions, roster/control, K9 center lines─▶ roads,
   intersections, trims (one checkpoint; frozen seams of split docs
   finished per junction after it)
  ─S5 render─▶ features + tile assignment + span passthrough

The reference recomputes intersection geometry eagerly after every
mutation (lib.rs:99-121); we batch per pass — the final per-intersection
state is what snapshot parity checks (SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import MapConfig, DEFAULT_CONFIG
from ..sources.osm_xml import parse_documents, split_entities, doc_bounds
from ..operators.extract import (
    filter_ways, node_features, restriction_relations, with_parsed_road_tags,
)
from ..operators.split_ways import build_network_v0
from ..operators.lanes_udf import with_lanes
from ..operators.restrictions import restriction_vias
from ..operators.geometry_update import with_projected_geometry
from ..operators.transforms import (
    INTERSECTION_COLS, ROAD_COLS, TRIM_COLS, finish_seams, run_transforms,
    seam_roads,
)
from ..operators.render import render_roads, render_intersections
from ..operators.tiles import with_tile, quadkey
from ..session import _env_int, input_rows, parquet_rows, partition_count

# the rendered feature table every street-network sink writes
FEATURE_COLS = ["doc_id", "feature_type", "feature_id", "feature_json",
                "tile_z", "tile_x", "tile_y", "quadkey"]


def load_documents(spark: SparkSession, fixture_dir: str) -> DataFrame:
    """Read + spread documents across the cluster. A fixture is one
    small parquet file (1 input split); the pipeline's cost is Python
    geometry CPU per doc, so parallelism must come from an explicit
    doc_id repartition, not input size, sized from the parquet footer's
    row count (no Spark job). (At 100 TB the Iceberg table is bucketed
    by doc_id and this becomes a no-op read-time distribution.)"""
    path = f"{fixture_dir}/documents.parquet"
    n = partition_count("docs", parquet_rows(path),
                        spark.sparkContext.defaultParallelism)
    return spark.read.parquet(path).repartition(n, "doc_id")


def parse_stage(docs: DataFrame):
    # persist the TALL parsed frame: nodes, ways AND relations all read
    # from one cached XML pass. Caching only the nodes slice (round 1)
    # silently re-ran the parse for every ways/relations consumer —
    # the second restriction resolve and the way-signal path made that
    # 3+ full parses. (At 100 TB this frame is the bronze Iceberg table.)
    # The parse fans out to EVERY downstream stage (nodes/ways/relations
    # -> graph, bounds, features, restrictions, signals); with a plain
    # persist each consumer's plan embeds the full parse subtree — the
    # intersections plan carried 88 copies of the docs-scan exchange,
    # and walking those trees (driver analysis, AQE, plan printing)
    # dominated fixed overhead. Checkpointing the tall parsed frame
    # itself regressed runtime 17→20 s (measured r5): every consumer
    # scan re-reads FULL parse rows — the checkpoint boundary blocks
    # column pruning and the entity filter. So: persist the tall frame
    # (parse runs once), then checkpoint the three already-pruned entity
    # slices — consumers get a narrow LogicalRDD leaf each, plans stay
    # ~20 nodes, and no scan reads columns it doesn't need.
    # EAGER checkpoints + immediate unpersist of the tall cache: the
    # slices materialize in three jobs (the first runs the parse once,
    # via the cache) and the tall columnar copy is released right away
    # — otherwise tall cache + three slice checkpoints double the
    # block-manager residency and a multi-run loop at the 9,600-doc
    # corpus OOMs the 8 g heap (checkpoint blocks are NOT freed by
    # clearCache, only by ContextCleaner on GC).
    parsed = parse_documents(docs).persist()
    nodes, ways, relations = split_entities(parsed)
    nodes = nodes.localCheckpoint(eager=True)
    ways = ways.localCheckpoint(eager=True)
    relations = relations.localCheckpoint(eager=True)
    parsed.unpersist()
    return nodes, ways, relations


def graph_stage(nodes: DataFrame, ways: DataFrame, cfg: MapConfig = DEFAULT_CONFIG):
    """F2 + K1 + J1 + W1: filtered ways with lanes, split into the v0
    road/intersection graph."""
    fways = filter_ways(ways, cfg.inferred_sidewalks)
    fways = with_parsed_road_tags(fways)
    fways = with_lanes(fways, cfg.driving_side, cfg.inferred_sidewalks)
    roads_v0, ints_v0, _ = build_network_v0(fways, nodes)
    way_attrs = fways.select(
        "doc_id", "way_id", "tags_json", "highway_type", "name", "layer",
        "speed_kph", "oneway", "internal_junction_road", "lane_specs_json",
        "lane_chars", "dir_chars", "total_width", "driveable", "oneway_dir",
        "placement_shift",
    )
    roads = roads_v0.join(way_attrs, ["doc_id", "way_id"])
    return roads, ints_v0


def build_street_network(spark: SparkSession, docs: DataFrame,
                         cfg: MapConfig = DEFAULT_CONFIG,
                         n_docs: int | None = None) -> dict:
    """Returns a dict of DataFrames: nodes, ways, relations, roads,
    intersections, features (roads and intersections rendered),
    output_documents (span passthrough), trims (one row per road end:
    its junction, trim and clockwise position) and debug_steps. Roads,
    intersections, trims and debug_steps are filters of the one
    transforms checkpoint, plus the frozen seams finish_seams and
    seam_roads complete.

    debug_steps holds the transform kernel's row_kind='step' rows, the
    stepwise-debugging snapshots (transform/mod.rs:94-109) recorded in
    the same pass: road_id=step index, name=step name, src_i=n_roads,
    dst_i=n_intersections, one row per pass per (doc, cell) kernel
    group. A dense doc split into cells has one row per cell per pass.

    n_docs: corpus size, which sizes the transforms kernel shuffle.
    Defaults to session.input_rows(docs), the footer row count of its
    parquet inputs, which overestimates a filtered frame (fine for
    partition sizing). A non-parquet source (PBF parses) gives no
    count, and the kernel gets the cores×4 cap.
    SPARK_GRAFT_KERNEL_PARTITIONS pins the kernel partition count
    regardless of core count: the data-proportional sizing of
    scaling-criterion runs, where a cluster of any size runs the same
    task list in more or fewer waves."""
    if n_docs is None:
        n_docs = input_rows(docs)
    n = _env_int("SPARK_GRAFT_KERNEL_PARTITIONS", 0) or partition_count(
        "kernel", n_docs, spark.sparkContext.defaultParallelism)
    nodes, ways, relations = parse_stage(docs)
    # nodes re-cached as a COLUMNAR layer on top of its checkpoint:
    # the checkpoint truncates consumer plans, but its blocks are
    # row-format; bounds/way-points/features/vias all scan nodes, and
    # the in-memory columnar cache scans vectorized (measured: dropping
    # this persist costs ~5 s at sf0.1)
    nodes = nodes.persist()
    roads, ints_v0 = graph_stage(nodes, ways, cfg)
    # ints_v0 feeds the junction rows of the transforms kernel and the
    # interior-point map of the way signals — cache the J1 aggregation
    # instead of re-running it per consumer
    ints_v0 = ints_v0.persist()

    roads = with_projected_geometry(roads, doc_bounds(nodes))
    # osm_way_ids reports the ORIGINAL OSM id: a way the boundary clip
    # sliced into k>1 pieces runs through the engine under synthetic
    # negative ids -(way*100+piece) for uniqueness, but the reference
    # keeps the original id on every clipped copy (clip.rs:52-58,
    # lib.rs:125-127) and its goldens expose it in the features
    roads = roads.withColumn(
        "osm_way_ids",
        F.array(F.when(F.col("way_id") < 0,
                       ((-F.col("way_id") - 1) / 100).cast("long"))
                 .otherwise(F.col("way_id"))))
    # persisted under its checkpoint: measured, dropping it adds two
    # Spark jobs to the graph and transforms segments
    roads = roads.persist()
    feats = node_features(nodes)

    # per-end metadata for the T6 terminus rule and the transform kernel
    # guards (terminus.rs:16-29 MapEdge extension,
    # collapse_short_road.rs:24-28 MapEdge, collapse_intersections.rs
    # :12-14 crossing; the kernel works out the :41-47 restriction
    # guard and the frozen seams from its own input rows)
    # MapEdge flags need NO join at all: a clipped synthetic endpoint
    # carries a negative node id (osm_xml.py boundary clip), so the
    # road's own pt_node_ids column answers it. (Same blind spot as the
    # reference for a real node exactly on the boundary,
    # split_ways.rs:45-46 TODO.)
    roads = roads.withColumn("_src_node", F.element_at("pt_node_ids", 1)) \
                 .withColumn("_dst_node", F.element_at("pt_node_ids", -1)) \
                 .withColumn("src_is_edge", F.col("_src_node") < 0) \
                 .withColumn("dst_is_edge", F.col("_dst_node") < 0)
    # crossing-at-junction flags: the endpoint node id IS the junction
    # node — a broadcast of the sparse crossing-node set makes both
    # lookups map-side (no exchange on roads)
    crossing_flag = feats.where(F.col("feature") == "crossing").select(
        "doc_id", F.col("node_id").alias("_cn"), F.lit(True).alias("_x"))
    for side, ncol in (("src", "_src_node"), ("dst", "_dst_node")):
        roads = roads.join(
            crossing_flag
                        .withColumnRenamed("_cn", ncol)
                        .withColumnRenamed("_x", f"{side}_has_crossing"),
            ["doc_id", ncol], "left")
    # localCheckpoint (lazy) = persist + LINEAGE TRUNCATION. The plan
    # tree above this point is ~15 operators deep; Spark re-analyzes
    # the whole tree on every downstream transformation, which made
    # DAG CONSTRUCTION (driver Python, fully serial) the single
    # largest cost of a run. At 100 TB this boundary is a silver
    # Iceberg table; locally the checkpoint plays that role.
    roads = roads.drop("_src_node", "_dst_node").localCheckpoint(eager=False)

    # everything below reads roads through the checkpoint, which
    # computes the split/lane chain once and keeps its subtree out of
    # the transforms plan. The via rows feed only the kernel, which
    # resolves them itself (T2's guard, then against its final roads),
    # so they need no persist
    vias = restriction_vias(restriction_relations(relations), nodes)

    # Traffic signals tagged on incoming ways, not at the junction node
    # (split_ways.rs:216-241): a signal node interior to a road, with an
    # explicit direction or on a driving-oneway, marks the road's
    # downstream intersection Signalled.
    from ..operators.split_ways import interior_point_road_map, point_key
    interior = interior_point_road_map(ints_v0, roads, "src_i", "dst_i",
                                       "oneway_dir")
    sig_pts = feats.where(F.col("feature") == "traffic_signals").select(
        "doc_id", "signal_dir", *point_key(),
    )
    # signals are a sparse feature class (~0.1% of nodes): broadcast the
    # signal side so the interior-point explode is never shuffled for
    # this join. (At 100 TB both sides are bucketed by doc_id and this
    # becomes a co-partitioned local join.)
    sig_on_road = interior.join(sig_pts, ["doc_id", "qx", "qy"])
    sig_dir = F.when(F.col("signal_dir").isin("forward", "backward"),
                     F.col("signal_dir")) \
               .when(F.col("oneway_dir") != "", F.col("oneway_dir"))
    # (a junction targeted twice is one target to the kernel)
    signal_targets = sig_on_road.select(
        "doc_id", F.when(sig_dir == "forward", F.col("dst_i"))
                   .when(sig_dir.isNotNull(), F.col("src_i")).alias("i_id"),
    ).where(F.col("i_id").isNotNull())
    # one junction row per v0 intersection and feature of its node: the
    # signal/crossing lookup of the final roster (sparse → broadcast)
    node_feats = feats.select(
        "doc_id", F.col("node_id").alias("osm_node_id"),
        (F.col("feature") == "traffic_signals").alias("has_signal"),
        F.when(F.col("feature") == "crossing", F.col("crossing_kind"))
         .alias("crossing_kind"),
        "crossing_island",
    )
    extras = ints_v0.join(node_feats, ["doc_id", "osm_node_id"], "left") \
        .withColumn("row_kind", F.lit("junction")) \
        .unionByName(vias.withColumn("row_kind", F.lit("restriction")),
                     allowMissingColumns=True) \
        .unionByName(signal_targets.withColumn(
            "row_kind", F.lit("signal_target")), allowMissingColumns=True)

    # lane-relevant raw-tag fingerprint for the T2 equality check —
    # the reference compares LaneSpecs that EMBED the muv Lane
    # (osm2lanes lib.rs:289), so surface/smoothness/oneway/width
    # differences block splicing even when our lane model can't see
    # them. The `service` VALUE is deliberately NOT in the
    # fingerprint: muv's Lane does not embed it, and the
    # seattle_slip_lane golden splices service=parking_aisle with
    # service=driveway chains at their shared junctions.
    # NOTE `lanes` is NOT a fingerprint key: the raw count tag is
    # not embedded in the muv Lane — only the DERIVED specs are,
    # and spec equality is checked separately (st_georges golden:
    # Lambeth Road 20139792 [untagged 2-way default] merges with
    # 376571542 [explicit lanes=2] — identical lane specs).
    lane_keys = ("surface", "smoothness", "oneway", "width", "est_width",
                 "maxspeed", "tracktype")
    from functools import reduce
    # maxheight enters the fingerprint only when METRIC — muv's
    # distance parser drops values it can't read, so an imperial
    # maxheight (seattle 14'0") does NOT distinguish lanes while a
    # metric one (bristol 2.6 building passage) does
    roads = roads.withColumn(
        "lane_fingerprint",
        F.to_json(F.map_filter(
            F.from_json("tags_json", "map<string,string>"),
            lambda k, v: reduce(lambda x, y: x | y,
                                (k.startswith(p) for p in lane_keys))
            | ((k == "maxheight")
               & v.rlike(r"^\d+(\.\d+)?\s*m?$")),
        )))
    # the transforms kernel computes each group's initial trims and its
    # T1/T2 guards itself (trim-annihilated roads, the
    # trim_roads_for_merging memo, restricted roads, frozen seams), and
    # after the transforms finishes every junction it holds whole: T6
    # pass 2, restrictions, intersection rows and center lines
    tout = run_transforms(roads, extras, cfg.driving_side,
                          cfg.zip_sidepaths, cfg.remove_disconnected,
                          cfg.transform_split_threshold,
                          cfg.transform_split_zoom, n) \
        .localCheckpoint(eager=False)
    # the seam junctions of docs over the split threshold (none
    # otherwise) finish in their own per-junction pass, then the roads
    # with a frozen end take their seam trims. The seam pass feeds the
    # intersections, the trims and the seam roads, so its checkpoint
    # runs its Python once. The two checkpoints also bound perfbench's
    # segments: t6_pass2 runs the kernel (the seam shuffle computes its
    # stage), apply_trims the seam roads, render the rest
    seams = finish_seams(tout, cfg.driving_side).localCheckpoint(eager=False)
    frozen_roads = seam_roads(seams).localCheckpoint(eager=False)
    done = tout.unionByName(seams)
    kind = F.col("row_kind")
    roads_final = tout.where(kind == "road").unionByName(frozen_roads) \
        .select(ROAD_COLS)
    ints_final = done.where(kind == "intersection").select(INTERSECTION_COLS)

    road_feats = render_roads(roads_final)
    int_feats = render_intersections(ints_final)
    features = road_feats.unionByName(int_feats)
    features = quadkey(with_tile(features, "c_lon", "c_lat", cfg.cell_zoom))

    # span passthrough (north_rule per-row invariant): the output document
    # table carries the input span sequence untouched
    out_docs = docs.select("doc_id", "spans")

    return {
        "nodes": nodes, "ways": ways, "relations": relations,
        "roads": roads_final, "intersections": ints_final,
        "features": features, "output_documents": out_docs,
        "trims": done.where(kind == "trim").select(TRIM_COLS),
        "debug_steps": tout.where(kind == "step"),
    }


def flagship_query(spark: SparkSession, fixture_dir: str) -> DataFrame:
    """The headline query: full network build, returning the rendered
    feature table (one row per road/intersection polygon with tile
    assignment)."""
    docs = load_documents(spark, fixture_dir)
    net = build_street_network(spark, docs)
    return net["features"].select(FEATURE_COLS)
