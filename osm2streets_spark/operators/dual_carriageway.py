"""T5/J12: dual-carriageway endpoint detection.

Reference transform/dual_carriageways.rs:38-98: an intersection is a DC
endpoint when its incident roads of one name are exactly {2 oneways +
1 bidirectional}. The reference's merge() is detection/debug only — it
emits labels and breaks after the first candidate (dual_carriageways.rs:
7-26) — so, like the reference, we detect and do not merge.

Unlike the reference's per-intersection loop this is a single groupBy:
incident road-ends × (name, oneway) → counts → filter. Fully
SQL-expressible → DuckDB oracle twin in the registry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .geometry_update import map_groups


def dc_sides_doc(doc_id: str, recs: list[tuple]) -> list[tuple]:
    """Pure per-doc A7 kernel (dual_carriageways.rs:166-198 trace,
    :263-281 side lengths). recs: (road_id, src_i, dst_i, name, oneway,
    length_m) tuples SORTED by road_id. Shared by the Spark wrapper and
    the sequential replay."""
    rows = []
    by_name: dict = {}
    bidi_nodes: dict = {}
    for road_id, src_i, dst_i, name, oneway, length_m in recs:
        if not name:
            continue
        if oneway:
            by_name.setdefault(name, []).append(
                (road_id, src_i, dst_i, length_m))
        else:
            bidi_nodes.setdefault(name, set()).update((src_i, dst_i))
    for name, edges in sorted(by_name.items()):
        if len(edges) < 2:
            continue
        out_deg, in_deg = {}, {}
        for _, src_i, dst_i, _ in edges:
            out_deg[src_i] = out_deg.get(src_i, 0) + 1
            in_deg[dst_i] = in_deg.get(dst_i, 0) + 1
        starts = {n for n in out_deg
                  if out_deg.get(n, 0) > in_deg.get(n, 0)}
        starts |= {n for n in bidi_nodes.get(name, set()) if n in out_deg}
        start_set = set(starts)
        used = set()
        side = 0
        for start in sorted(starts):
            chain, total, node = [], 0.0, start
            while True:
                nxt = next((e for e in edges
                            if e[1] == node and e[0] not in used), None)
                if nxt is None:
                    break
                used.add(nxt[0])
                chain.append(nxt)
                total += float(nxt[3] or 0.0)
                node = nxt[2]
                if node in start_set:
                    break
            if chain:
                rows.append((doc_id, name, side, len(chain),
                             round(total, 3)))
                side += 1
    return rows


def trace_dual_carriageway_sides(roads: DataFrame) -> DataFrame:
    """A7 (dual_carriageways.rs:166-198 trace, :263-281 side lengths):
    between a pair of DC endpoints of one street name, the two oneway
    chains are the carriageway sides; walk each following its oneway
    direction and sum untrimmed lengths. Per-doc kernel (the walk is a
    sequential graph traversal, like the reference)."""
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    SIDE_SCHEMA = StructType([
        StructField("doc_id", StringType()),
        StructField("name", StringType()),
        StructField("side_idx", LongType()),
        StructField("n_segments", LongType()),
        StructField("length_m", DoubleType()),
    ])

    src = roads.select("doc_id", "road_id", "src_i", "dst_i", "name",
                       "oneway", "length_m")

    def _process(rows):
        rows.sort(key=lambda r: r["road_id"])
        return dc_sides_doc(rows[0]["doc_id"], [
            (r["road_id"], r["src_i"], r["dst_i"], r["name"], r["oneway"],
             r["length_m"]) for r in rows])

    return map_groups(src, ["doc_id"], _process, SIDE_SCHEMA)


def detect_dual_carriageway_endpoints(roads: DataFrame) -> DataFrame:
    """roads needs: doc_id, src_qx/qy, dst_qx/qy, name, oneway (bool).
    → (doc_id, qx, qy, name, n_oneway, n_bidi)."""
    src = roads.select(
        "doc_id", F.col("src_qx").alias("qx"), F.col("src_qy").alias("qy"),
        "name", "oneway")
    dst = roads.select(
        "doc_id", F.col("dst_qx").alias("qx"), F.col("dst_qy").alias("qy"),
        "name", "oneway")
    ends = src.unionAll(dst)
    g = ends.where(F.col("name").isNotNull() & (F.col("name") != "")) \
        .groupBy("doc_id", "qx", "qy", "name").agg(
            F.sum(F.col("oneway").cast("int")).alias("n_oneway"),
            F.sum((~F.col("oneway")).cast("int")).alias("n_bidi"),
        )
    return g.where((F.col("n_oneway") == 2) & (F.col("n_bidi") == 1))
