"""S4: multipolygon relation assembly.

Reference streets_reader/src/osm_reader/multipolygon.rs:11-60+: glue a
relation's way members (roles outer/inner) end-to-end into closed
rings, then build polygons (outers with inner holes). Optional for the
road pipeline; used for boundaries/landuse.

Spark shape: explode members → join member ways' point lists → one
grouped pass per relation assembling rings (classic polygonize:
repeatedly append the way whose endpoint matches the open ring's end,
reversing as needed).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType,
)

from ..geom.core import feature_dumps
from .geometry_update import map_groups


def assemble_rings(way_pts: list[tuple[list, str]]) -> dict:
    """way_pts: [(points [[lon,lat]...], role)] → {'outer': [rings],
    'inner': [rings]}; unclosed chains are dropped (reference bails on
    broken multipolygons)."""
    out = {"outer": [], "inner": []}
    for role in ("outer", "inner"):
        segs = [list(map(tuple, pts)) for pts, r in way_pts if r == role]
        while segs:
            ring = segs.pop(0)
            progress = True
            while ring[0] != ring[-1] and progress:
                progress = False
                for i, s in enumerate(segs):
                    if s[0] == ring[-1]:
                        ring.extend(s[1:])
                    elif s[-1] == ring[-1]:
                        ring.extend(reversed(s[:-1]))
                    elif s[-1] == ring[0]:
                        ring[0:0] = s[:-1]
                    elif s[0] == ring[0]:
                        ring[0:0] = list(reversed(s[1:]))
                    else:
                        continue
                    segs.pop(i)
                    progress = True
                    break
            if ring[0] == ring[-1] and len(ring) >= 4:
                out[role].append([list(p) for p in ring])
    return out


MP_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("rel_id", LongType()),
    StructField("n_outer", LongType()),
    StructField("n_inner", LongType()),
    StructField("area_deg2", DoubleType()),
    StructField("geojson", StringType()),
])


def assemble_multipolygons(relations: DataFrame, ways: DataFrame,
                           nodes: DataFrame) -> DataFrame:
    """relations with type=multipolygon → one polygon feature per
    relation (rings assembled per assemble_rings)."""
    from .extract import tag

    mp = relations.where(tag("type") == "multipolygon")
    members = mp.select(
        "doc_id", "rel_id", F.posexplode("members").alias("m_idx", "mem")
    ).where(F.col("mem.type") == "way").select(
        "doc_id", "rel_id", "m_idx",
        F.col("mem.ref").alias("way_id"), F.col("mem.role").alias("role"))
    way_geoms = ways.select(
        "doc_id", "way_id", F.explode(F.arrays_zip(
            F.sequence(F.lit(0), F.size("node_ids") - 1).alias("pos"),
            F.col("node_ids").alias("node_id"))).alias("z")
    ).select("doc_id", "way_id", F.col("z.pos").alias("pos"),
             F.col("z.node_id").alias("node_id"))
    way_geoms = way_geoms.join(
        nodes.select("doc_id", "node_id", "lon", "lat"),
        ["doc_id", "node_id"])
    joined = members.join(way_geoms, ["doc_id", "way_id"])

    def _process(rows):
        # member ways in (way_id, role) first-occurrence order, stably
        # sorted by way_id; each way's points by position
        members: dict[tuple, list[dict]] = {}
        for r in rows:
            members.setdefault((r["way_id"], r["role"]), []).append(r)
        way_pts = []
        for (_, role), wrs in sorted(members.items(),
                                     key=lambda t: t[0][0]):
            wrs.sort(key=lambda r: r["pos"])
            way_pts.append(([[round(float(r["lon"]), 9),
                              round(float(r["lat"]), 9)] for r in wrs],
                            role))
        rings = assemble_rings(way_pts)
        if not rings["outer"]:
            return []
        area = 0.0
        for ring in rings["outer"]:
            arr = np.asarray(ring)
            x, y = arr[:, 0], arr[:, 1]
            area += abs(0.5 * float(np.dot(x, np.roll(y, -1))
                                    - np.dot(y, np.roll(x, -1))))
        if len(rings["outer"]) == 1:
            kind = "Polygon"
            coords = [rings["outer"][0]] + rings["inner"]
        else:
            kind = "MultiPolygon"
            coords = [[o] for o in rings["outer"]]
        rel_id = int(rows[0]["rel_id"])
        return [(rows[0]["doc_id"], rel_id, len(rings["outer"]),
                 len(rings["inner"]), round(area, 12),
                 feature_dumps(kind, coords, {
                     "type": "multipolygon", "rel_id": rel_id}))]

    return map_groups(joined, ["doc_id", "rel_id"], _process, MP_SCHEMA)
