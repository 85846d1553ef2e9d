"""The last named reference binding APIs, re-expressed as DataFrame
functions (reference osm2streets-py/src/lib.rs:196-314):

* way_to_xml (lib.rs:290-314) — XML string per way, pure Catalyst;
* get_osm_tags_for_way (lib.rs:229-236) — tags lookup, pure Catalyst;
* get_geometry_for_way (lib.rs:250-288) — raw way buffered to
  1.5x road width + direction chevrons every ~50 m;
* debug_movements_from_lane_geojson (lib.rs:196-203 →
  render/mod.rs:179-273) — movement arrows leaving one road/lane;
* debug_roads_connected_to_intersection_geojson (lib.rs:210-221) —
  each incident road's center line buffered by its total width.

The reference computes these on demand for ONE id; the DataFrame
analogue computes the table for ALL ids (scans stay distributed,
filters push down) and the per-id accessor is a `.where`. Semantics
reproduced (cited), algorithms re-derived — no reference code copied.
"""

from __future__ import annotations

import json

import numpy as np

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..geom.core import (
    cumulative_lengths, geojson_feature, interpolate_along, polyline_length,
    thicken_polyline,
)
from .geometry_update import map_groups, road_ends, row_udf

# ---------------------------------------------------------------------------
# way_to_xml (lib.rs:290-314)
# ---------------------------------------------------------------------------


def way_xml(ways: DataFrame) -> DataFrame:
    """One XML string per way, mirroring way_to_xml BYTE-FOR-BYTE —
    including the reference's raw-string quirk: the ``<nd>``/``<tag>``
    lines are formatted with Rust raw strings (lib.rs:299,302), so the
    two characters ``\\n`` are emitted LITERALLY (no newline); only the
    ``>`` after the way id is followed by a real newline (lib.rs:297).
    Tags iterate in BTreeMap (sorted-key) order. The fixture parse
    carries no ``version`` attribute, so the optional version clause
    (lib.rs:294-296) never fires here.

    Pure Catalyst: string concat over the node_ids array and the
    sorted tag entries — no UDF, no shuffle."""
    nd = F.array_join(
        F.transform(
            "node_ids",
            lambda n: F.concat(F.lit('  <nd ref="'), n.cast("string"),
                               F.lit('"/>\\n'))),
        "")
    tags = F.array_join(
        F.transform(
            F.array_sort(F.map_entries(
                F.from_json("tags_json", "map<string,string>"))),
            lambda e: F.concat(F.lit('  <tag k="'), e["key"],
                               F.lit('" v="'), e["value"],
                               F.lit('"/>\\n'))),
        "")
    return ways.select(
        "doc_id", "way_id",
        F.concat(F.lit('<way id="'), F.col("way_id").cast("string"),
                 F.lit('">\n'), nd, tags, F.lit("</way>")).alias("xml"))


def osm_tags_for_way(ways: DataFrame) -> DataFrame:
    """get_osm_tags_for_way (lib.rs:229-236): the way's OSM tags as a
    JSON string (ours is compact sorted-key JSON where the reference
    pretty-prints; same content). Unknown ids simply yield no row —
    the DataFrame analogue of the PyValueError."""
    return ways.select("doc_id", "way_id", "tags_json")


# ---------------------------------------------------------------------------
# get_geometry_for_way (lib.rs:250-288)
# ---------------------------------------------------------------------------

def _rot(v: np.ndarray, deg: float) -> np.ndarray:
    rad = np.deg2rad(deg)
    c, s = np.cos(rad), np.sin(rad)
    return np.array([c * v[0] - s * v[1], s * v[0] + c * v[1]])


def _dir_at_dist(pl: np.ndarray, dist: float) -> np.ndarray:
    """Unit direction of the segment containing ``dist`` along pl."""
    cum = cumulative_lengths(pl)
    i = int(np.searchsorted(cum[1:], dist, side="left"))
    i = min(i, len(pl) - 2)
    seg = pl[i + 1] - pl[i]
    n = float(np.hypot(*seg))
    return seg / n if n > 0 else np.array([1.0, 0.0])


def _chevrons(pl: np.ndarray, width: float) -> list[np.ndarray]:
    """Direction chevrons (lib.rs:263-281): max(1, floor(len/50)) of
    them at fractions i/(n+1) along the way; each is the polyline
    [tip + (w/2 at +135 deg), tip, tip + (w/2 at -135 deg)] buffered to
    0.2*width."""
    total = polyline_length(pl)
    n = max(1, int(total / 50.0))
    out = []
    for i in range(1, n + 1):
        d = (i / (n + 1.0)) * total
        tip = interpolate_along(pl, d)
        heading = _dir_at_dist(pl, d)
        arm_a = tip + _rot(heading, 135.0) * (width / 2.0)
        arm_b = tip + _rot(heading, -135.0) * (width / 2.0)
        out.append(thicken_polyline(
            np.array([arm_a, tip, arm_b]), width * 0.2))
    return out


def way_geometry(ways: DataFrame, nodes: DataFrame,
                 roads: DataFrame) -> DataFrame:
    """get_geometry_for_way (lib.rs:250-288): the RAW way polyline
    (streets_reader ways — pre-split, pre-trim) buffered to 1.5x the
    road's total width, plus direction chevrons. → (doc_id, way_id,
    feature_json) where feature_json is a FeatureCollection: body
    polygon first, then the chevrons.

    DIVERGENCE (documented): the reference SUBTRACTS each chevron from
    the body polygon (lib.rs:281-283, a full polygon-clipping pass);
    we emit body + chevrons as separate features — the same debug
    visual (chevrons drawn over the body) without a polygon boolean
    kernel. Width comes from the minimum-road_id road derived from the
    way (reference: first road in BTreeMap order, lib.rs:253-258);
    ways that produced no road carry no row, like the unwrap panic.
    The projection anchor is the roads' own (one per doc)."""
    width_per_way = roads.select(
        F.col("doc_id"), F.element_at("osm_way_ids", 1).alias("way_id"),
        "road_id", "total_width", "lon0", "lat0",
    ).groupBy("doc_id", "way_id").agg(
        F.min_by("total_width", "road_id").alias("total_width"),
        F.min("lon0").alias("lon0"), F.min("lat0").alias("lat0"))

    pts = ways.select(
        "doc_id", "way_id", F.posexplode("node_ids").alias("pos", "node_id"),
    ).join(nodes.select("doc_id", "node_id", "lon", "lat"),
           ["doc_id", "node_id"])
    pts = pts.join(width_per_way, ["doc_id", "way_id"])

    from ..geom.core import lonlat_to_xy

    def _build(rows):
        rows.sort(key=lambda r: r["pos"])
        g = rows[0]
        lo, la = float(g["lon0"]), float(g["lat0"])
        w, way_id = float(g["total_width"]), int(g["way_id"])
        pl = lonlat_to_xy(np.array([[r["lon"], r["lat"]] for r in rows]),
                          lo, la)
        if len(pl) < 2:
            return []
        feats = [geojson_feature(
            "Polygon", thicken_polyline(pl, 1.5 * w), lo, la,
            {"type": "way_body", "way_id": way_id})]
        feats += [
            geojson_feature("Polygon", c, lo, la,
                            {"type": "chevron", "way_id": way_id,
                             "idx": ci})
            for ci, c in enumerate(_chevrons(pl, w))]
        return [(g["doc_id"], way_id,
                 '{"type":"FeatureCollection","features":[%s]}'
                 % ",".join(feats))]

    schema = StructType([StructField("doc_id", StringType()),
                         StructField("way_id", LongType()),
                         StructField("feature_json", StringType())])
    return map_groups(pts, ["doc_id", "way_id"], _build, schema)


# ---------------------------------------------------------------------------
# movement arrows (render/mod.rs:179-273)
# ---------------------------------------------------------------------------


ARROW_THICKNESS = 0.5


def _arrow_ring(a: np.ndarray, b: np.ndarray) -> np.ndarray | None:
    """Straight arrow a→b, triangle cap at b (make_arrow semantics
    re-derived: shaft ARROW_THICKNESS wide, head 2x as wide and 2x
    ARROW_THICKNESS long)."""
    v = b - a
    length = float(np.hypot(*v))
    if length < 1e-9:
        return None
    d = v / length
    n = np.array([d[1], -d[0]])  # right-hand normal
    head_len = min(2.0 * ARROW_THICKNESS, 0.5 * length)
    base = b - d * head_len
    t2, h2 = ARROW_THICKNESS / 2.0, ARROW_THICKNESS
    ring = np.array([
        a + n * t2, base + n * t2, base + n * h2, b,
        base - n * h2, base - n * t2, a - n * t2, a + n * t2,
    ])
    return ring


def movement_arrows(roads_final: DataFrame, ints_final: DataFrame,
                    driving_side: str) -> DataFrame:
    """One arrow polygon per movement per intersection
    (render/mod.rs:218-273): the arrow runs from where it LEAVES the
    source road to where it ENTERS the destination road — the at-
    junction endpoint of each road's first center-line segment, offset
    1.3 m to the appropriate side for bidirectional roads so opposing
    arrows don't overlap (mod.rs:226-259).

    → (doc_id, i_id, from_road, to_road, arrow_json)."""
    ends = road_ends(
        roads_final, "center_xy", "oneway_dir", "driveable", "lon0", "lat0",
    ).join(
        ints_final.where(F.col("movements_json").isNotNull()).select(
            "doc_id", "i_id", "movements_json"),
        ["doc_id", "i_id"])

    off = -1.3 if driving_side == "right" else 1.3

    def _build(rows):
        g = rows[0]
        lo, la = float(g["lon0"]), float(g["lat0"])
        road_pts = {}
        for row in rows:
            xy = np.asarray(row["center_xy"], dtype=float).reshape(-1, 2)
            if len(xy) < 2:
                continue
            # first center-line segment pointing AWAY from i
            p0, p1 = ((xy[0], xy[1]) if row["is_src_end"]
                      else (xy[-1], xy[-2]))
            seg = p1 - p0
            sl = float(np.hypot(*seg))
            if sl < 1e-9:
                continue
            d = seg / sl
            n = np.array([d[1], -d[0]])
            bidi = not (bool(row["driveable"])
                        and row["oneway_dir"] in ("forward", "backward"))
            if bidi:
                road_pts[int(row["road_id"])] = (p0 + n * off, p0 - n * off)
            else:
                road_pts[int(row["road_id"])] = (p0, p0)
        out = []
        for frm, to in json.loads(g["movements_json"]):
            if frm == to or frm not in road_pts or to not in road_pts:
                continue
            ring = _arrow_ring(road_pts[frm][0], road_pts[to][1])
            if ring is None:
                continue
            out.append((g["doc_id"], int(g["i_id"]), frm, to,
                        geojson_feature(
                            "Polygon", ring, lo, la,
                            {"type": "movement", "from": frm, "to": to})))
        return out

    schema = StructType([StructField("doc_id", StringType()),
                         StructField("i_id", LongType()),
                         StructField("from_road", LongType()),
                         StructField("to_road", LongType()),
                         StructField("arrow_json", StringType())])
    return map_groups(ends, ["doc_id", "i_id"], _build, schema)


def movements_from_lane(arrows: DataFrame, roads_final: DataFrame,
                        road_id: int, lane_index: int) -> DataFrame:
    """debug_movements_from_lane_geojson (render/mod.rs:179-194): pick
    the intersection the lane FEEDS (dst_i for a forward lane, src_i
    for a backward one — dir_chars '^'=forward) and keep the arrows
    leaving this road there."""
    tgt = roads_final.where(F.col("road_id") == road_id).select(
        "doc_id",
        F.when(F.substring("dir_chars", lane_index + 1, 1) == "^",
               F.col("dst_i")).otherwise(F.col("src_i")).alias("i_id"),
        F.col("road_id").alias("from_road"))
    return arrows.join(F.broadcast(tgt),
                       ["doc_id", "i_id", "from_road"])


# ---------------------------------------------------------------------------
# debug_roads_connected_to_intersection_geojson (lib.rs:210-221)
# ---------------------------------------------------------------------------


def connected_road_row(road_id, center_xy, total_width, lon0,
                       lat0) -> str:
    """One incident road's center line buffered by its total width, as
    a GeoJSON Polygon feature."""
    return geojson_feature(
        "Polygon",
        thicken_polyline(np.asarray(center_xy, dtype=float).reshape(-1, 2),
                         float(total_width)),
        float(lon0), float(lat0), {"type": "road", "road_id": int(road_id)})


def roads_connected_to_intersections(roads_final: DataFrame) -> DataFrame:
    """Every (intersection, incident road) with the road's center line
    buffered by its total width (lib.rs:213-218: center_line
    .make_polygons(total_width) per road of the intersection). The
    per-id accessor is `.where(i_id = ...)`. Reuses the same
    thicken_polyline buffering as the S5 road render. Center lines
    under 2 points are dropped in Catalyst before the kernel runs: a
    filter on the kernel's own output would be pushed below it and run
    the Python kernel twice."""
    ends = road_ends(roads_final.where(F.size("center_xy") >= 4),
                     "center_xy", "total_width", "lon0", "lat0")
    feature = row_udf(connected_road_row, StringType())(
        "road_id", "center_xy", "total_width", "lon0", "lat0")
    return ends.select("doc_id", "i_id", "road_id",
                       feature.alias("feature_json"))
