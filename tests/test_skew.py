"""Skew handling: the dense_cell starburst doc carries one junction of
degree 60 — orders of magnitude above the median — and must flow
through the T6 kernel, movements enumeration and render unharmed."""

import json

import pytest
from pyspark.sql import functions as F

from osm2streets_spark.plans.pipeline import load_documents, build_street_network


@pytest.fixture(scope="module")
def dense_net(spark, fixture_dir):
    docs = load_documents(spark, fixture_dir)
    dense = docs.where(F.col("doc_id").startswith("dense_cell"))
    return build_street_network(spark, dense)


def test_starburst_hub(dense_net):
    # With exact pass-1 trims, 11 of the 60 spokes are trim-annihilated
    # at the degree-60 hub (adjacent spokes ~6 deg apart -> facing-edge
    # trims ~ w/sin(6 deg) exceed spoke length) and collapse, exactly as
    # the reference does (update_geometry.rs:58-63 -> collapse). 49
    # spokes survive; their outer termini remain. (r6: the haversine
    # M_PER_DEG flipped one borderline spoke's annihilation margin.)
    ints = dense_net["intersections"].collect()
    assert len(ints) == 50  # hub + 49 surviving spoke termini
    hub = [i for i in ints if i.kind == "Intersection"]
    assert len(hub) == 1
    movements = json.loads(hub[0].movements_json)
    assert len(movements) == 49 * 48
    termini = [i for i in ints if i.kind == "Terminus"]
    assert len(termini) == 49


def test_starburst_roads_render(dense_net):
    feats = dense_net["features"]
    assert feats.where(F.col("feature_type") == "road").count() == 49
    # every feature lands in exactly one tile cell
    assert feats.where(F.col("quadkey").isNull()).count() == 0


def test_adaptive_cell_split(dense_net):
    """north_rule adaptive resolution: the starburst's ~121 features all
    land in one-ish z16 cell; with threshold 16 the dense cells must be
    re-assigned at deeper zooms while sparse cells stay at base."""
    from osm2streets_spark.operators.tiles import adaptive_cells

    feats = dense_net["features"].select("doc_id", "feature_id",
                                         "c_lon", "c_lat")
    out = adaptive_cells(feats, "c_lon", "c_lat", base_zoom=16,
                         threshold=16, max_zoom=20)
    assert out.count() == feats.count()  # nothing lost
    zooms = {r.tile_z for r in out.select("tile_z").distinct().collect()}
    assert max(zooms) > 16  # dense cells split deeper
    counts = out.groupBy("tile_z", "tile_x", "tile_y").count().collect()
    over = [c for c in counts if c["count"] > 16 and c.tile_z < 20]
    assert over == []  # every non-max-zoom cell is under threshold


def _road(doc_id, road_id, way_id, src_i, dst_i, xy):
    """One run_transforms input road with every _ROAD_FIELDS column."""
    return {
        "doc_id": doc_id, "road_id": road_id, "way_id": way_id,
        "src_i": src_i, "dst_i": dst_i, "xy": [float(v) for v in xy],
        "highway_type": "residential", "name": "", "layer": 0,
        "speed_kph": 0.0, "oneway_dir": "",
        "lane_specs_json": "[]", "lane_chars": "dd",
        "dir_chars": "^v", "total_width": 7.0, "driveable": True,
        "internal_junction_road": False,
        "osm_way_ids": [way_id], "lon0": 0.0, "lat0": 0.0,
        "src_is_edge": False, "dst_is_edge": False,
        "src_has_crossing": False, "dst_has_crossing": False,
        "placement_shift": 0.0, "lane_fingerprint": "",
    }


def test_dense_doc_transform_split(spark):
    """north_rule skew handling: a single doc with more roads than the
    split threshold must fan out across multiple (doc, cell) transform
    groups — bounded per-task payload — while a sparse doc keeps
    exactly the single-group semantics (bit-identical output)."""
    import numpy as np
    from osm2streets_spark.config import DEFAULT_CONFIG
    from osm2streets_spark.operators.transforms import run_transforms

    rng = np.random.RandomState(7)
    rows = []
    # 300 disconnected 2-point roads spread over ~100 km: many zoom-12
    # cells. No collapse candidates (all distinct endpoints, no
    # junction=intersection tags, no too_short flags).
    for k in range(300):
        cx = float(rng.uniform(0, 90000))
        cy = float(rng.uniform(0, 90000))
        rows.append(_road("dense", k, k, 2 * k, 2 * k + 1,
                          [cx, cy, cx + 50.0, cy + 40.0]))
    roads = spark.createDataFrame(rows)
    # roads only: no junction, restriction or signal_target rows
    extras = spark.createDataFrame([], "doc_id string, i_id long, "
                                       "row_kind string")
    side = DEFAULT_CONFIG.driving_side

    split = run_transforms(roads, extras, side, split_threshold=100,
                           split_zoom=12)
    whole = run_transforms(roads, extras, side, split_threshold=1000)
    got_split = {r.road_id for r in
                 split.where("row_kind = 'road'").collect()}
    got_whole = {r.road_id for r in
                 whole.where("row_kind = 'road'").collect()}
    # T4 keeps only the largest component in the unsplit path; the
    # split path skips T4 (documented) — compare without T4 instead
    split_noT4 = run_transforms(roads, extras, side,
                                with_remove_disconnected=False,
                                split_threshold=100, split_zoom=12)
    whole_noT4 = run_transforms(roads, extras, side,
                                with_remove_disconnected=False,
                                split_threshold=1000)
    ids_a = {r.road_id for r in
             split_noT4.where("row_kind = 'road'").collect()}
    ids_b = {r.road_id for r in
             whole_noT4.where("row_kind = 'road'").collect()}
    assert ids_a == ids_b == set(range(300))
    # T4-on: the whole-doc path keeps one component (these 300 roads
    # are all singleton components, so exactly one survives); the split
    # path skips T4 entirely and keeps all 300 (documented semantics)
    assert len(got_whole) == 1
    assert got_split == set(range(300))


def test_restriction_at_a_frozen_seam(spark):
    """A ban via the seam junction 102 of a split doc, from way 11
    (road 2, in the west cell) to way 12 (road 3, in the east cell).
    Both roads are restricted, though each cell holds only one of them,
    so T2 splices neither at its other, degree-2 end (101 with road 1,
    103 with road 4), as the sequential twin's whole-doc resolve says."""
    from osm2streets_spark.config import DEFAULT_CONFIG
    from osm2streets_spark.operators.transforms import (
        apply_standard_transforms, run_transforms,
    )
    from osm2streets_spark.plans.sequential import _resolve_restrictions

    # a chain 100 → 101 → … → 104 along y = 100: zoom-12 tile columns
    # meet at x = 0 (lon 0), and a 3-point road's middle point picks
    # its cell, so roads 1-2 are west and 3-4 east
    roads = [_road("seam", k, 9 + k, 99 + k, 100 + k,
                   [x, 100, x + 100, 100, x + 200, 100])
             for k, x in zip((1, 2, 3, 4), (-400, -200, 0, 200))]
    ban = {"restriction_type": "Ban", "from_way": 11, "to_way": 12}
    extras = spark.createDataFrame(
        [dict(ban, doc_id="seam", i_id=102, row_kind="restriction")])
    out = run_transforms(spark.createDataFrame(roads), extras,
                         DEFAULT_CONFIG.driving_side, split_threshold=3,
                         split_zoom=12).collect()
    got = {(r.road_id, r.src_i, r.dst_i, tuple(r.osm_way_ids))
           for r in out if r.row_kind in ("road", "seam_end")}
    assert sorted((r.road_id, r.i_id) for r in out
                  if r.row_kind == "seam_end") == [(2, 102), (3, 102)]

    # the twin: J4 over the whole doc, then each cell's transforms
    twin = [dict(r) for r in roads]
    resolved = _resolve_restrictions([dict(ban, via_node=7)], {7: 102}, twin)
    restricted = {x["from_road"] for x in resolved} \
        | {x["to_road"] for x in resolved}
    for r in twin:
        r["has_restriction"] = r["road_id"] in restricted
    want = set()
    for cell in ({1, 2}, {3, 4}):
        want |= {(r["road_id"], r["src_i"], r["dst_i"],
                  tuple(r["osm_way_ids"]))
                 for r in apply_standard_transforms(
                     [r for r in twin if r["road_id"] in cell], {102},
                     False, {}, False, [])}
    assert got == want == {(1, 100, 101, (10,)), (2, 101, 102, (11,)),
                           (3, 102, 103, (12,)), (4, 103, 104, (13,))}


def test_split_path_finishes_like_the_twin(spark, fixture_dir):
    """The quadkey-split path gives the dense_cell docs the final roads
    and intersections of the sequential twin run with the same cfg:
    each road's trimmed_length and center_xy, each intersection's kind,
    control, movement count, osm_node_ids and polygon_xy. The split
    runs the per-cell kernels, and the starburst hub, whose spokes
    span cells, is a frozen seam that finish_seams completes.
    s_split_transforms checks only five road columns."""
    from dataclasses import replace

    import pyarrow.parquet as pq

    from osm2streets_spark.config import DEFAULT_CONFIG
    from osm2streets_spark.plans.sequential import convert_document
    from osm2streets_spark.sources.fixtures import (
        SPLIT_GT_THRESHOLD, SPLIT_GT_ZOOM,
    )

    cfg = replace(DEFAULT_CONFIG,
                  transform_split_threshold=SPLIT_GT_THRESHOLD,
                  transform_split_zoom=SPLIT_GT_ZOOM)
    dense = F.col("doc_id").startswith("dense_cell")
    net = build_street_network(
        spark, load_documents(spark, fixture_dir).where(dense), cfg)
    # more than one kernel group per doc: the split fired
    assert net["debug_steps"].where("name = 'original'").count() > 1

    def n_moves(movements_json):
        return len(json.loads(movements_json)) if movements_json else 0

    got_roads = {(r.doc_id, r.road_id): (r.trimmed_length,
                                         list(r.center_xy))
                 for r in net["roads"].collect()}
    got_ints = {(r.doc_id, r.i_id): (r.kind, r.control,
                                     n_moves(r.movements_json),
                                     list(r.osm_node_ids),
                                     list(r.polygon_xy))
                for r in net["intersections"].collect()}
    want_roads, want_ints = {}, {}
    for d in pq.read_table(f"{fixture_dir}/documents.parquet",
                           columns=["doc_id", "spans"]).to_pylist():
        if not d["doc_id"].startswith("dense_cell"):
            continue
        roads, ints, *_ = convert_document(d["doc_id"], d["spans"], cfg)
        want_roads.update({(d["doc_id"], r["road_id"]): (
            r["trimmed_length"], list(r["center_xy"])) for r in roads})
        want_ints.update({(d["doc_id"], i["i_id"]): (
            i["kind"], i["control"], i["n_movements"], i["osm_node_ids"],
            i["polygon_xy"]) for i in ints})
    assert want_roads and want_ints
    assert got_roads == want_roads
    assert got_ints == want_ints
