"""The five named binding APIs (osm2streets-py/src/lib.rs:196-314):
way_to_xml, get_osm_tags_for_way, get_geometry_for_way,
debug_movements_from_lane_geojson,
debug_roads_connected_to_intersection_geojson."""

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm2streets_spark.config import DEFAULT_CONFIG
from osm2streets_spark.operators.debug_api import (
    movement_arrows, movements_from_lane, osm_tags_for_way,
    roads_connected_to_intersections, way_geometry, way_xml,
)
from osm2streets_spark.plans.pipeline import (
    build_street_network, load_documents,
)
from osm2streets_spark.sources.osm_xml import (
    parse_documents, split_entities,
)


@pytest.fixture(scope="module")
def net(spark, fixture_dir):
    docs = load_documents(spark, fixture_dir)
    one = docs.where(F.col("doc_id").startswith("grid"))
    return build_street_network(spark, one)


@pytest.fixture(scope="module")
def parsed(spark, fixture_dir):
    docs = load_documents(spark, fixture_dir)
    one = docs.where(F.col("doc_id").startswith("grid"))
    nodes, ways, rels = split_entities(parse_documents(one))
    return nodes, ways, rels


def test_way_xml_exact(spark):
    """Byte-faithful mirror incl. the reference's raw-string quirk:
    <nd>/<tag> lines end with the LITERAL two characters \\n
    (lib.rs:299,302 use Rust raw strings), only the way-open tag gets a
    real newline (lib.rs:297); tags iterate sorted (BTreeMap)."""
    ways = spark.createDataFrame(
        [("d1", 7, [3, 1, 2], '{"highway":"residential","name":"A"}')],
        "doc_id string, way_id long, node_ids array<long>, "
        "tags_json string")
    out = way_xml(ways).collect()[0]
    assert out.xml == (
        '<way id="7">\n'
        '  <nd ref="3"/>\\n  <nd ref="1"/>\\n  <nd ref="2"/>\\n'
        '  <tag k="highway" v="residential"/>\\n  <tag k="name" v="A"/>\\n'
        "</way>")


def test_osm_tags_lookup(parsed):
    _, ways, _ = parsed
    row = osm_tags_for_way(ways).where(F.col("tags_json") != "{}").first()
    tags = json.loads(row.tags_json)
    assert isinstance(tags, dict) and tags


def test_way_geometry_chevrons(net, parsed):
    nodes, ways, _ = parsed
    out = way_geometry(ways, nodes, net["roads"]).collect()
    assert out
    for row in out[:10]:
        fc = json.loads(row.feature_json)
        assert fc["type"] == "FeatureCollection"
        feats = fc["features"]
        body = [f for f in feats if f["properties"]["type"] == "way_body"]
        chev = [f for f in feats if f["properties"]["type"] == "chevron"]
        assert len(body) == 1 and len(chev) >= 1  # max(1, len/50)
        for f in feats:
            ring = f["geometry"]["coordinates"][0]
            assert ring[0] == ring[-1] and len(ring) >= 4


def test_movement_arrows(net):
    arrows = movement_arrows(net["roads"], net["intersections"],
                             DEFAULT_CONFIG.driving_side).collect()
    assert arrows
    # every arrow's (from, to) pair is in that intersection's movements
    mv = {(r.doc_id, r.i_id): set(map(tuple, json.loads(r.movements_json)))
          for r in net["intersections"]
          .where(F.col("movements_json").isNotNull()).collect()}
    for a in arrows:
        assert (a.from_road, a.to_road) in mv[(a.doc_id, a.i_id)]
        ring = json.loads(a.arrow_json)["geometry"]["coordinates"][0]
        assert ring[0] == ring[-1] and len(ring) == 8  # arrow heptagon


def test_movements_from_lane(net):
    arrows = movement_arrows(net["roads"], net["intersections"],
                             DEFAULT_CONFIG.driving_side)
    # pick a road that has outgoing movements at its forward end
    some = arrows.first()
    road = net["roads"].where(F.col("road_id") == some.from_road).first()
    got = movements_from_lane(arrows, net["roads"],
                              some.from_road, 0).collect()
    # expected intersection: dst_i for a '^' lane 0, else src_i
    want_i = road.dst_i if road.dir_chars[0] == "^" else road.src_i
    for g in got:
        assert g.from_road == some.from_road and g.i_id == want_i


def test_roads_connected_matches_render(net):
    """The per-intersection road polygons ARE the S5 road polygons
    (same center line buffered by the same width, lib.rs:213-218)."""
    conn = roads_connected_to_intersections(net["roads"])
    rows = conn.collect()
    assert rows
    # every road appears once per end
    from collections import Counter
    per_road = Counter(r.road_id for r in rows)
    n_roads = net["roads"].count()
    assert sum(per_road.values()) == 2 * n_roads
    # geometry check vs the rendered road feature for one row
    road_feats = {r.feature_id: json.loads(r.feature_json)
                  for r in net["features"]
                  .where(F.col("feature_type") == "road").collect()}
    r0 = rows[0]
    ours = json.loads(r0.feature_json)["geometry"]["coordinates"][0]
    ref = road_feats[r0.road_id]["geometry"]["coordinates"][0]
    assert np.allclose(np.array(ours), np.array(ref), atol=1e-9)
