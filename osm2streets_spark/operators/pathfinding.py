"""G1-G4: per-document graph algorithms.

Reference osm2streets/src/pathfinding.rs: Dijkstra distance (:14-27)
and A* simple path with zero heuristic = Dijkstra (:31-69); the r-hop
BFS (:72-93) is registry's g_rhop self-join over quantized junction
keys. Per-doc graphs are tiny, so each doc's graph is one map_groups
kernel call (networkx), like the reference's petgraph usage — the
distribution axis is documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType,
)

from .geometry_update import map_groups

DIST_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("src_i", LongType()),
    StructField("dst_i", LongType()),
    StructField("dist_m", DoubleType()),
])


def _doc_graph(rows: list[dict]):
    import networkx as nx

    g = nx.Graph()
    for row in rows:
        # oneway roads are still bidirectional for distance queries in
        # the reference default (pathfinding.rs:14-27 builds Undirected
        # unless oneway — we keep the undirected simplification and
        # document it). Parallel edges keep the MIN weight so the graph
        # is deterministic regardless of row arrival order.
        a, b, w = int(row["src_i"]), int(row["dst_i"]), \
            float(row["length_m"])
        if g.has_edge(a, b):
            w = min(w, g[a][b]["weight"])
        g.add_edge(a, b, weight=w)
    return g


def shortest_dists_from_hubs(roads: DataFrame) -> DataFrame:
    """G1: single-source Dijkstra from the first two intersections
    (by id) of each doc to every reachable intersection."""
    src = roads.select("doc_id", "src_i", "dst_i", "length_m")

    def _process(rows):
        import networkx as nx

        doc_id = rows[0]["doc_id"]
        g = _doc_graph(rows)
        out = []
        for hub in sorted(g.nodes())[:2]:
            # distance only — the reference's path_dist_to returns a
            # Distance (pathfinding.rs:14-27); hop counts are
            # tie-unstable across equal-length paths
            dist = nx.single_source_dijkstra_path_length(g, hub)
            out += [(doc_id, hub, int(node), round(float(d), 3))
                    for node, d in dist.items()]
        return out

    return map_groups(src, ["doc_id"], _process, DIST_SCHEMA)


PATH_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("profile", StringType()),
    StructField("from_i", LongType()),
    StructField("to_i", LongType()),
    StructField("dist_m", DoubleType()),
    StructField("n_roads", LongType()),
    StructField("way_path", StringType()),
])

# lane-char sets for simple_path profiles (reference simple_path takes
# a &[LaneType]; chars per lanes/inference.TO_CHAR)
PROFILES = {
    "drive": set("dB"),
    "foot": set("sfF"),
    "bike": set("bF"),
}


def simple_paths(roads: DataFrame) -> DataFrame:
    """G2 simple_path (pathfinding.rs:31-69): A* (zero heuristic ⇒
    Dijkstra) over a DIRECTED graph that only includes a road direction
    when one of the requested lane types travels that way — a
    footway-only profile routes through footways a driving profile
    cannot use. One deterministic (min-id → max-id) path per doc per
    profile; way_path records the way ids crossed."""
    src = roads.select("doc_id", "way_id", "src_i", "dst_i", "length_m",
                       "lane_chars", "dir_chars")

    def _process(rows):
        import networkx as nx

        doc_id = rows[0]["doc_id"]
        out = []
        for prof, lane_set in sorted(PROFILES.items()):
            g = nx.DiGraph()
            for row in rows:
                fwd = back = False
                for lt, d in zip(row["lane_chars"] or "",
                                 row["dir_chars"] or ""):
                    if lt in lane_set:
                        if d == "^":
                            fwd = True
                        else:
                            back = True
                w = float(row["length_m"])
                a, b, way = int(row["src_i"]), int(row["dst_i"]), \
                    int(row["way_id"])
                if fwd:
                    g.add_edge(a, b, weight=w, way=way)
                if back:
                    g.add_edge(b, a, weight=w, way=way)
            if not g.nodes:
                continue
            frm, to = min(g.nodes), max(g.nodes)
            try:
                # astar with h=0 ≡ dijkstra (the reference's zero
                # heuristic, pathfinding.rs:62)
                path = nx.astar_path(g, frm, to, heuristic=None,
                                     weight="weight")
            except (nx.NetworkXNoPath, nx.NodeNotFound):
                continue
            dist = sum(g[a][b]["weight"] for a, b in zip(path, path[1:]))
            ways = [str(g[a][b]["way"]) for a, b in zip(path, path[1:])]
            out.append((doc_id, prof, frm, to, round(dist, 3), len(ways),
                        ",".join(ways)))
        return out

    return map_groups(src, ["doc_id"], _process, PATH_SCHEMA)
