"""The end-to-end street-network pipeline (SURVEY.md §3.1 re-expressed).

documents ──parse──▶ nodes/ways/relations
  ─F2 filter─▶ ways ─K1 lanes─▶ way attrs
  ─J1 point agg─▶ intersections(v0)   ─W1 window split─▶ roads(v0)
  ─T6 pass 1 (trims only)─▶ too_short flags
  ─T4/T1/T2/T1 per-doc rewrite─▶ roads(v1)
  ─T6 pass 2─▶ trims + polygons + movements/kind
  ─K9 join-back─▶ roads(v2, trimmed center lines)
  ─S5 render─▶ features + tile assignment + span passthrough

The reference recomputes intersection geometry eagerly after every
mutation (lib.rs:99-121); we batch per pass — the final per-intersection
state is what snapshot parity checks (SURVEY.md §4).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import MapConfig, DEFAULT_CONFIG
from ..sources.osm_xml import parse_documents, split_entities, doc_bounds
from ..operators.extract import (
    filter_ways, node_features, restriction_relations, with_parsed_road_tags,
)
from ..operators.split_ways import build_network_v0
from ..operators.lanes_udf import with_lanes
from ..operators.restrictions import (
    resolve_restrictions, restrictions_by_intersection,
)
from ..operators.geometry_update import (
    with_projected_geometry, build_road_ends, run_t6, apply_trims,
    apply_trim_flags, finalize_intersections,
)
from ..operators.transforms import run_transforms
from ..operators.render import render_roads, render_intersections
from ..operators.tiles import with_tile, quadkey
from ..session import _env_int, input_rows, parquet_rows, partition_count


_TIMING = os.environ.get("SPARK_GRAFT_TIMING") == "1"


def _tick(label: str, _t0: list = [0.0]) -> None:
    """SPARK_GRAFT_TIMING=1 prints wall time between pipeline segments.
    With AQE on, a lazy localCheckpoint's toRdd EXECUTES the upstream
    query stages at call time, so these segment times bundle Catalyst
    analysis + job execution for everything above that boundary."""
    if _TIMING:
        now = time.time()
        if label != "start":
            print(f"    [timing] {label}: {now - _t0[0]:.2f}s", flush=True)
        _t0[0] = now


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
    roads_v0, ints_v0, flagged = build_network_v0(fways, nodes)
    way_attrs = fways.select(
        "doc_id", "way_id", "tags_json", "highway_type", "name", "layer",
        "speed_kph", "oneway", "internal_junction_road", "lane_specs_json",
        "lane_chars", "dir_chars", "total_width", "driveable", "oneway_dir",
        "placement_shift",
    )
    roads = roads_v0.join(way_attrs, ["doc_id", "way_id"])
    return roads, ints_v0, flagged


def build_street_network(spark: SparkSession, docs: DataFrame,
                         cfg: MapConfig = DEFAULT_CONFIG,
                         transforms: bool = True,
                         two_pass_t6: bool = True,
                         n_docs: int | None = None,
                         debug_steps: bool = False) -> dict:
    """Returns a dict of DataFrames: roads, intersections, road_features,
    intersection_features, features (union), output_documents (span
    passthrough).

    n_docs: corpus size, which sizes the kernel shuffles (T6,
    transforms). Defaults to session.input_rows(docs), the footer row
    count of its parquet inputs, which overestimates a filtered frame
    (fine for partition sizing). A non-parquet source (PBF parses)
    gives no count, and the kernels get the cores×4 cap.
    SPARK_GRAFT_KERNEL_PARTITIONS pins the kernel partition count
    regardless of core count: the data-proportional sizing of
    scaling-criterion runs, where a cluster of any size runs the same
    task list in more or fewer waves."""
    debug_steps_df = None  # set when debug_steps and transforms run
    if n_docs is None:
        n_docs = input_rows(docs)
    n = _env_int("SPARK_GRAFT_KERNEL_PARTITIONS", 0) or partition_count(
        "kernel", n_docs, spark.sparkContext.defaultParallelism)
    _tick("start")
    nodes, ways, relations = parse_stage(docs)
    # nodes re-cached as a COLUMNAR layer on top of its checkpoint:
    # the checkpoint truncates consumer plans, but its blocks are
    # row-format; bounds/way-points/features/vias all scan nodes, and
    # the in-memory columnar cache scans vectorized (measured: dropping
    # this persist costs ~5 s at sf0.1)
    nodes = nodes.persist()
    roads, ints_v0, flagged = graph_stage(nodes, ways, cfg)
    # ints_v0 feeds the final intersections, the T1-merge node roster
    # and (in registry queries) degree/tile projections — cache the J1
    # aggregation instead of re-running it per consumer
    ints_v0 = ints_v0.persist()

    anchors = doc_bounds(nodes)
    roads = with_projected_geometry(roads, anchors)
    # osm_way_ids reports the ORIGINAL OSM id: a way the boundary clip
    # sliced into k>1 pieces runs through the engine under synthetic
    # negative ids -(way*100+piece) for uniqueness, but the reference
    # keeps the original id on every clipped copy (clip.rs:52-58,
    # lib.rs:125-127) and its goldens expose it in the features
    roads = roads.withColumn(
        "osm_way_ids",
        F.array(F.when(F.col("way_id") < 0,
                       ((-F.col("way_id") - 1) / 100).cast("long"))
                 .otherwise(F.col("way_id")))) \
                 .withColumn("too_short", F.lit(False))
    # roads feeds T6 pass 1 (×2 ends), restrictions resolution and the
    # transforms — persist to stop the split/lane chain recomputing per
    # consumer (this was the dominant cost before caching).
    roads = roads.persist()

    feats = node_features(nodes)
    restr = restriction_relations(relations)
    # tiny frame, but its subtree (relation pivot + via join) otherwise
    # re-executes as the build side of the has_restriction broadcast
    resolved = resolve_restrictions(restr, nodes, roads).persist()

    # Traffic signals tagged on incoming ways, not at the junction node
    # (split_ways.rs:216-241): a signal node interior to a road, with an
    # explicit direction or on a driving-oneway, marks the road's
    # downstream intersection Signalled.
    from ..operators.split_ways import interior_point_road_map
    interior = interior_point_road_map(flagged, roads)
    sig_pts = feats.where(F.col("feature") == "traffic_signals").select(
        "doc_id", "signal_dir",
        F.round(F.col("lon") * 1e7).cast("long").alias("qx"),
        F.round(F.col("lat") * 1e7).cast("long").alias("qy"),
    )
    # signals are a sparse feature class (~0.1% of nodes): broadcast the
    # signal side so the interior-point explode and the roads table are
    # never shuffled for this join. (At 100 TB both sides are bucketed
    # by doc_id and this becomes a co-partitioned local join.)
    sig_hits = interior.join(sig_pts, ["doc_id", "qx", "qy"])
    sig_on_road = roads.select(
        "doc_id", "road_id", "src_i", "dst_i", "oneway_dir",
    ).join(sig_hits, ["doc_id", "road_id"])
    sig_dir = F.when(F.col("signal_dir").isin("forward", "backward"),
                     F.col("signal_dir")) \
               .when(F.col("oneway_dir") != "", F.col("oneway_dir"))
    way_signal_is = sig_on_road.select(
        "doc_id", sig_dir.alias("_d"), "src_i", "dst_i",
    ).where(F.col("_d").isNotNull()).select(
        "doc_id",
        F.when(F.col("_d") == "forward", F.col("dst_i"))
         .otherwise(F.col("src_i")).alias("i_id"),
    ).distinct()

    # per-end metadata for the T6 terminus rule and the transform kernel
    # guards (terminus.rs:16-29 MapEdge extension,
    # collapse_short_road.rs:24-28 MapEdge, collapse_intersections.rs
    # :12-14 crossing, :41-47 restrictions)
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
    _tick("roads checkpoint (parse+graph+flags)")

    imerges = None
    if transforms:
        if two_pass_t6:
            # pass 1: trims only, to find trim-annihilated roads
            # (update_geometry.rs:58-63 → CollapseShortRoads candidates)
            # and to feed the trim_roads_for_merging memo. The degree
            # split (closed-form deg ≤ 2 trims, kernel only for deg ≥ 3)
            # happens INSIDE t6_process so one exchange serves the whole
            # pass and the sequential replay shares it bit-for-bit.
            ends1 = build_road_ends(roads, None, cfg.driving_side)
            trims1 = run_t6(ends1, trims_only=True, n=n)
            roads = apply_trim_flags(roads, trims1)
        restricted_roads = resolved.select(
            "doc_id", F.explode(F.array("from_road", "to_road"))
            .alias("road_id")).distinct() \
            .withColumn("has_restriction", F.lit(True))
        roads = roads.join(restricted_roads,
                           ["doc_id", "road_id"], "left")
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
        lane_keys = ("surface", "smoothness", "oneway",
                     "width", "est_width", "maxspeed",
                     "tracktype")
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

        if debug_steps:
            # stepwise debugging (transform/mod.rs:94-109) re-runs the
            # transform kernels recording per-pass network sizes — an
            # opt-in, more expensive path, exactly like the reference's
            from ..operators.transforms import run_transform_steps
            debug_steps_df = run_transform_steps(
                roads, cfg.zip_sidepaths, cfg.remove_disconnected,
                cfg.transform_split_threshold, cfg.transform_split_zoom,
                n)
        tout = run_transforms(roads, cfg.zip_sidepaths,
                              cfg.remove_disconnected,
                              cfg.transform_split_threshold,
                              cfg.transform_split_zoom, n) \
            .localCheckpoint(eager=False)
        _tick("transforms checkpoint (t6 pass1 + fixpoint kernel)")
        roads = tout.where(F.col("row_kind") == "road").drop("row_kind")
        imerges = tout.where(F.col("row_kind") == "imerge").select(
            "doc_id", F.col("src_i").alias("surviving_i"),
            F.col("dst_i").alias("absorbed_i"))

        # re-resolve turn restrictions AFTER the transforms: T2 splices
        # roads (from/to ids change), T1 merges intersections (via ids
        # change) — resolving against the pre-transform graph silently
        # drops them (round-1 VERDICT "What's wrong" #4)
        resolved = resolve_restrictions(restr, nodes, roads,
                                        imerges=imerges)
    restr_by_i = restrictions_by_intersection(resolved)
    ends = build_road_ends(roads, restr_by_i, cfg.driving_side)
    # pass-2 trims feed both the road rebuild and the intersections
    # table; roads_final feeds the render and the live-intersection
    # semi-join — persist both to keep every UDF stage single-execution
    # plain persist here: inputs are already LogicalRDD scans (the
    # checkpoints above), so downstream analysis stays shallow and two
    # more checkpoint barriers would only serialize the tail
    # lazy localCheckpoint rather than plain persist: these two feed
    # FOUR consumers each (rebuild/render/live-is/finalize), and with
    # persist every downstream transformation re-ANALYZES their full
    # subtree — the features plan carried ~254 Exchange nodes of
    # repeated persisted subtrees and DAG construction dominated wall
    # time. A checkpoint truncates the lineage to a LogicalRDD at call
    # time (toRdd paid once here, on an already-shallow tree), so the
    # render fan-out analyzes ~20-node trees instead.
    trims = run_t6(ends, n=n).localCheckpoint(eager=False)
    _tick("trims checkpoint (t6 pass2)")
    roads_final = apply_trims(roads, trims).localCheckpoint(eager=False)
    _tick("roads_final checkpoint (apply_trims)")

    # intersections surviving the transforms = endpoints of final roads
    live_is = roads_final.select(
        "doc_id", F.explode(F.array("src_i", "dst_i")).alias("i_id")
    ).distinct()
    ints = ints_v0.join(live_is, ["doc_id", "i_id"], "left_semi")
    ints = ints.join(
        anchors.select("doc_id", F.col("min_lon").alias("lon0"),
                       F.col("min_lat").alias("lat0")),
        "doc_id",
    )
    if imerges is not None:
        # a way-signal's target junction may have been absorbed by T1
        way_signal_is = way_signal_is.join(
            imerges.withColumnRenamed("absorbed_i", "i_id"),
            ["doc_id", "i_id"], "left",
        ).withColumn("i_id", F.coalesce("surviving_i", "i_id")) \
         .drop("surviving_i").distinct()
    ints_final = finalize_intersections(ints, trims, feats,
                                        imerges=imerges, ints_v0=ints_v0,
                                        signalled_is=way_signal_is)

    road_feats = render_roads(roads_final)
    int_feats = render_intersections(ints_final)
    features = road_feats.unionByName(int_feats)
    features = quadkey(with_tile(features, "c_lon", "c_lat", cfg.cell_zoom))
    _tick("render fan-out analysis")

    # span passthrough (north_rule per-row invariant): the output document
    # table carries the input span sequence untouched
    out_docs = docs.select("doc_id", "spans")

    out = {
        "nodes": nodes, "ways": ways, "relations": relations,
        "roads": roads_final, "intersections": ints_final,
        "features": features, "output_documents": out_docs,
        "trims": trims,
    }
    if debug_steps:
        out["debug_steps"] = debug_steps_df
    return out


def flagship_query(spark: SparkSession, fixture_dir: str) -> DataFrame:
    """The headline query: full network build, returning the rendered
    feature table (one row per road/intersection polygon with tile
    assignment)."""
    docs = load_documents(spark, fixture_dir)
    net = build_street_network(spark, docs)
    return net["features"].select(
        "doc_id", "feature_type", "feature_id", "feature_json",
        "tile_z", "tile_x", "tile_y", "quadkey",
    )
