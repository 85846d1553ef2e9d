"""Single-node sequential replay of the street-network pipeline.

Runs the SAME pure kernels as the distributed plan (lane inference,
transform fixpoint, T6 junction kernel, center rebuild) over one
document at a time in plain Python — no Spark. Two jobs:

1. ORACLE for the engine's heart: the fixture generator runs this
   replay at generation time and writes gt_transformed.parquet /
   gt_movements.parquet; the driver's DuckDB oracle reads those tables
   and compares them against the distributed sn_transformed_roads /
   sn_movements queries. The kernels are shared (like gt_ways already
   shares get_lane_specs_ltr), so what this cross-checks is everything
   the kernels are NOT: the Spark glue — joins, windows, repartitions,
   the trims pivot, the pass-1 candidate gate, imerge plumbing, Arrow
   batch boundaries, id hashing. Those are where distributed bugs live
   (both round-1 red CORRECTNESS rows were exactly that class).

2. Single-node throughput baseline: the reference publishes no numbers
   (BASELINE.md), so this replay IS the single-node engine to beat —
   same work, zero coordination overhead.

Bit-identity with the cluster path requires identical ids (the
collapse kernels are order-sensitive: T1 candidates sort by road_id,
T2 iterates junctions sorted by i_id), hence the pure-Python Spark
xxhash64 (..xxh).

Reference semantics mirrored from the same file:line cites as the
distributed operators; see operators/*.py.
"""

from __future__ import annotations

import json
import math
import re
from decimal import Decimal, ROUND_HALF_UP

import numpy as np

from ..config import (
    MapConfig, DEFAULT_CONFIG, HIGHWAY_WHITELIST, RAILWAY_WHITELIST,
)
from ..geom.core import lonlat_to_xy, simplify_rdp, shift_polyline, \
    polyline_length
from ..lanes import get_lane_specs_ltr, lanes_to_chars, dirs_to_chars
from ..lanes.inference import oneway_for_driving, DRIVING, car_access_blocked
from ..lanes.placement import placement_shift
from ..operators.geometry_update import t6_process, rebuild_center
from ..operators.transforms import apply_standard_transforms
from ..sources.osm_xml import _parse_one_doc
from ..xxh import xxhash64

M_PER_DEG = 111_194.92664455873
LANE_KEYS = ("surface", "smoothness", "oneway", "width",
             "est_width", "maxspeed", "tracktype")
_METRIC_MAXHEIGHT = re.compile(r"^\d+(\.\d+)?\s*m?$")


def _qz(v: float) -> int:
    """Spark F.round(col).cast('long'): HALF_UP (away from zero)."""
    return int(math.copysign(math.floor(abs(v) * 1e7 + 0.5), v))


def _keep_way(tags: dict, n_pts: int, inferred_sidewalks: bool) -> bool:
    hw = tags.get("highway")
    rw = tags.get("railway")
    keep = (hw in HIGHWAY_WHITELIST
            or (rw in RAILWAY_WHITELIST and hw is None)
            or (hw == "construction" and "construction" in tags))
    keep = keep and tags.get("area", "no") != "yes"
    if inferred_sidewalks:
        keep = keep and not (hw == "footway"
                             and tags.get("footway") in ("sidewalk",
                                                         "crossing"))
    keep = keep and not (hw == "service" and tags.get("golf") == "cartpath")
    return keep and n_pts >= 2


def _parse_road_tags(tags: dict) -> dict:
    ms = tags.get("maxspeed") or ""
    m = re.match(r"^(\d+(?:\.\d+)?)(?:\s*(mph))?$", ms)
    speed = None
    if m:
        speed = float(m.group(1)) * (1.609344 if m.group(2) == "mph" else 1.0)
        speed = round(speed, 3)
    lm = re.match(r"^(-?\d+)", tags.get("layer") or "")
    return {
        "highway_type": tags.get("highway") or tags.get("railway"),
        "name": tags.get("name"),
        "speed_kph": speed,
        "layer": int(lm.group(1)) if lm else 0,
        "internal_junction_road": tags.get("junction") == "intersection",
    }


def _lane_cols(tags: dict, driving_side: str, inferred_sidewalks: bool) -> dict:
    """Mirror of lanes_udf.lane_row for one way."""
    specs = get_lane_specs_ltr(tags, driving_side=driving_side,
                               inferred_sidewalks=inferred_sidewalks)
    # lane-direction-derived onewayness, mirror of lanes_udf
    # (road.rs:228-254)
    ow = oneway_for_driving(specs)
    fingerprint = json.dumps(
        {k: v for k, v in sorted(tags.items())
         if any(k.startswith(p) for p in LANE_KEYS)
         or (k == "maxheight" and _METRIC_MAXHEIGHT.match(v or ""))},
        separators=(",", ":"))
    return {
        "lane_specs_json": json.dumps([s.as_dict() for s in specs],
                                      separators=(",", ":")),
        "lane_chars": lanes_to_chars(specs),
        "dir_chars": dirs_to_chars(specs),
        "total_width": round(sum(s.width for s in specs), 6),
        "driveable": (any(s.lt == DRIVING for s in specs)
                      and not car_access_blocked(tags)),
        "oneway_dir": ow or "",
        "placement_shift": round(
            placement_shift(tags, specs, driving_side), 6),
        "lane_fingerprint": fingerprint,
    }


def _multipolygon_rows(doc_id: str, nodes: dict, way_rows: list,
                       rel_rows: list) -> list[dict]:
    """Sequential twin of assemble_multipolygons over the RAW parse
    (same ring assembly kernel, coordinate rounding, area and geojson
    construction)."""
    from ..operators.multipolygon import assemble_rings

    ways = {wid: refs for wid, refs, _ in way_rows}
    out = []
    for rid, members, tj in rel_rows:
        tags = json.loads(tj)
        if tags.get("type") != "multipolygon":
            continue
        way_pts = []
        groups: dict = {}
        for m in members:
            if m.get("type") != "way":
                continue
            groups[(m["ref"], m.get("role"))] =                 groups.get((m["ref"], m.get("role")), 0) + 1
        for (wid, role), k in sorted(groups.items(),
                                     key=lambda t: t[0][0]):
            refs = ways.get(wid)
            if refs is None:
                continue
            pts = []
            for nref in refs:
                if nref not in nodes:
                    continue
                lon, lat, _ = nodes[nref]
                pts.append([round(float(lon), 9), round(float(lat), 9)])
            if k > 1:
                # a way listed k times joins with k member rows — each
                # position appears k times (identical values)
                pts = [p for p in pts for _ in range(k)]
            way_pts.append((pts, role))
        rings = assemble_rings(way_pts)
        if not rings["outer"]:
            continue
        area = 0.0
        for ring in rings["outer"]:
            arr = np.asarray(ring)
            x, y = arr[:, 0], arr[:, 1]
            area += abs(0.5 * float(np.dot(x, np.roll(y, -1))
                                    - np.dot(y, np.roll(x, -1))))
        feat = {
            "type": "Feature",
            "geometry": {
                "type": "Polygon" if len(rings["outer"]) == 1
                else "MultiPolygon",
                "coordinates": (
                    [rings["outer"][0]] + rings["inner"]
                    if len(rings["outer"]) == 1
                    else [[o] for o in rings["outer"]]),
            },
            "properties": {"type": "multipolygon", "rel_id": int(rid)},
        }
        out.append({"doc_id": doc_id, "rel_id": int(rid),
                    "n_outer": len(rings["outer"]),
                    "n_inner": len(rings["inner"]),
                    "area_deg2": round(area, 12),
                    "geojson": json.dumps(feat, separators=(",", ":"))})
    return out


def _road_ends(doc_id: str, roads: list[dict], driving_side: str,
               restr_json_by_i: dict | None) -> list[dict]:
    """Mirror of build_road_ends for one document: its road-end dicts,
    in road order, as t6_process takes them."""
    rows = []
    for r in roads:
        fwd = r["oneway_dir"] == "forward"
        back = r["oneway_dir"] == "backward"
        bidi = r["oneway_dir"] == ""
        is_link = (str(r["highway_type"] or "").endswith("_link")
                   or r["highway_type"] == "motorway")
        for is_src in (True, False):
            i_id = r["src_i"] if is_src else r["dst_i"]
            pre = r.get("pretrim_src") if is_src else r.get("pretrim_dst")
            rows.append({
                "doc_id": doc_id, "i_id": i_id, "road_id": r["road_id"],
                "is_src_end": is_src, "xy": list(r["xy"]),
                "total_width": r["total_width"],
                "driveable": bool(r["driveable"]),
                "can_out": bool(bidi or (back if is_src else fwd)),
                "can_in": bool(bidi or (fwd if is_src else back)),
                "is_link": bool(is_link),
                "pretrim": float(pre) if pre is not None else np.nan,
                "is_edge": bool((r.get("src_is_edge") if is_src
                                 else r.get("dst_is_edge")) or False),
                "other_i": r["dst_i"] if is_src else r["src_i"],
                "restrictions_json": (restr_json_by_i or {}).get(i_id),
                "driving_side": driving_side,
            })
    return rows


def _resolve_restrictions(restrictions: list, node_q: dict,
                          roads: list[dict],
                          imerges: dict | None = None) -> list[dict]:
    """The twin of J4 (restrictions.restriction_vias, then the
    transforms kernel's way matching): via-node → i_id; from/to way
    → incident road. Post-transform, a road matches every constituent
    way (osm_way_ids) and absorbed via intersections re-home."""
    incident = {}
    for r in roads:
        for w in r.get("osm_way_ids") or [r["way_id"]]:
            for i in (r["src_i"], r["dst_i"]):
                incident.setdefault((w, i), set()).add(r["road_id"])
    out = set()
    for rr in restrictions:
        if rr.get("via_node") is None or rr["via_node"] not in node_q:
            continue
        i_id = node_q[rr["via_node"]]
        if imerges is not None:
            i_id = imerges.get(i_id, i_id)
        for frm in incident.get((rr["from_way"], i_id), ()):
            for to in incident.get((rr["to_way"], i_id), ()):
                out.add((i_id, rr["restriction_type"], frm, to))
    return [{"i_id": i, "restriction_type": t, "from_road": f, "to_road": o}
            for i, t, f, o in sorted(out)]


def convert_document(doc_id: str, spans, cfg: MapConfig = DEFAULT_CONFIG,
                     debug_sink: dict | None = None):
    """→ (roads, intersections): the sequential twin of
    build_street_network for one document. Road dicts carry way_id /
    osm_way_ids / trimmed_length / lane_chars; intersection dicts carry
    qx / qy / kind / control / n_movements."""
    rows: list = []
    _parse_one_doc(doc_id, spans, rows)
    nodes, way_rows, rel_rows = {}, [], []
    for r in rows:
        # row tuple: (doc_id, entity, osm_id, lon, lat, node_ids,
        #             members_json, tags_json)
        if r[1] == "node":
            nodes[r[2]] = (r[3], r[4], r[7])
        elif r[1] == "way":
            way_rows.append((r[2], r[5], r[7]))
        else:
            rel_rows.append((r[2], json.loads(r[6]), r[7]))
    mp_rows = _multipolygon_rows(doc_id, nodes, way_rows, rel_rows)
    if not nodes:
        return [], [], [], mp_rows, [], []

    # F2 + tag parses + K1 per way
    ways = {}
    for wid, refs, tj in way_rows:
        tags = json.loads(tj)
        if not _keep_way(tags, len(refs), cfg.inferred_sidewalks):
            continue
        # refs to nodes missing from the extract drop (the distributed
        # path drops them in the way_points⨝nodes inner join); the
        # ENDPOINT flag stays tied to the ORIGINAL positions — if a
        # way's first ref is missing, the surviving first point is NOT
        # an endpoint, exactly as in split_ways.way_points
        kept = [(pos, nid) for pos, nid in enumerate(refs)
                if nid in nodes]
        if len(kept) < 2:
            continue
        w = {"way_id": wid, "refs": [nid for _, nid in kept],
             "orig_pos": [pos for pos, _ in kept],
             "orig_n": len(refs), "tags": tags}
        w.update(_parse_road_tags(tags))
        w.update(_lane_cols(tags, cfg.driving_side, cfg.inferred_sidewalks))
        ways[wid] = w

    # J1: point-use counting over quantized way points (split_ways.rs:26-68)
    use_count: dict[tuple, int] = {}
    endpoint: set[tuple] = set()
    for w in ways.values():
        for pos, nid in zip(w["orig_pos"], w["refs"]):
            q = (_qz(nodes[nid][0]), _qz(nodes[nid][1]))
            use_count[q] = use_count.get(q, 0) + 1
            if pos == 0 or pos == w["orig_n"] - 1:
                endpoint.add(q)
    int_pts = {q for q, n in use_count.items()
               if n >= 2 or q in endpoint}

    # intersections_v0: osm_node_id = max node id at the point
    ints_v0: dict[tuple, int | None] = {}
    for w in ways.values():
        for nid in w["refs"]:
            q = (_qz(nodes[nid][0]), _qz(nodes[nid][1]))
            if q in int_pts:
                cur = ints_v0.get(q)
                ints_v0[q] = nid if cur is None else max(cur, nid)

    # W1: split each way at interior intersection points; F5 cul-de-sacs
    lon0 = min(lon for lon, _, _ in nodes.values())
    lat0 = min(lat for _, lat, _ in nodes.values())
    i_id_of = {q: xxhash64(doc_id, q[0], q[1]) for q in int_pts}
    roads: list[dict] = []
    interior_pts: dict[tuple, list] = {}  # q -> [road dicts] (J5)
    for wid in ways:
        w = ways[wid]
        refs = w["refs"]
        qs = [(_qz(nodes[n][0]), _qz(nodes[n][1])) for n in refs]
        cut = [i for i, q in enumerate(qs) if q in int_pts]
        for seg_idx in range(len(cut) - 1):
            a, b = cut[seg_idx], cut[seg_idx + 1]
            if qs[a] == qs[b]:
                continue  # F5: single-segment pure loop piece
            seg_refs = refs[a:b + 1]
            pts = np.array([[nodes[n][0], nodes[n][1]] for n in seg_refs])
            xy = lonlat_to_xy(pts, lon0, lat0)
            xy = simplify_rdp(xy, 0.5)
            sh = float(w["placement_shift"] or 0.0)
            if abs(sh) > 1e-9:
                xy = shift_polyline(xy, sh)
            r = {
                "road_id": xxhash64(doc_id, wid, seg_idx),
                "way_id": wid, "seg_idx": seg_idx,
                "src_i": i_id_of[qs[a]], "dst_i": i_id_of[qs[b]],
                "src_q": qs[a], "dst_q": qs[b],
                "pt_node_ids": seg_refs,
                "xy": xy.ravel().tolist(),
                "geom_length": float(polyline_length(xy)),
                # original OSM id for clipped pieces (mirrors pipeline)
                "osm_way_ids": [(-wid - 1) // 100 if wid < 0 else wid],
                "too_short": False,
                "lon0": lon0, "lat0": lat0,
                "src_is_edge": seg_refs[0] < 0,
                "dst_is_edge": seg_refs[-1] < 0,
                "oneway_dir": w["oneway_dir"],
            }
            for k in ("highway_type", "name", "speed_kph", "layer",
                      "internal_junction_road", "lane_specs_json",
                      "lane_chars", "dir_chars", "total_width",
                      "driveable", "placement_shift", "lane_fingerprint"):
                r[k] = w[k]
            for pos in range(a + 1, b):
                if qs[pos] not in int_pts:
                    interior_pts.setdefault(qs[pos], []).append(r)
            roads.append(r)
    if not roads:
        return [], [], [], mp_rows, [], []

    # features (F1) + crossing endpoint flags + way-signal targets
    signal_nodes, crossing_nodes, sig_dirs = set(), set(), {}
    feat_recs = []
    for nid, (lon, lat, tj) in nodes.items():
        tags = json.loads(tj) if tj and tj != "{}" else {}
        hw = tags.get("highway")
        if hw == "traffic_signals":
            signal_nodes.add(nid)
            sig_dirs[nid] = tags.get("traffic_signals:direction", "")
        elif hw == "crossing":
            crossing_nodes.add(nid)
        # F1 node_features mirror (extract.py:51-69)
        if hw in ("traffic_signals", "crossing") \
                or tags.get("cycleway") == "asl":
            feature = ("traffic_signals" if hw == "traffic_signals"
                       else "crossing" if hw == "crossing" else "asl")
            ck = ("Signalized" if tags.get("crossing") == "traffic_signals"
                  else "Unmarked" if tags.get("crossing") == "unmarked"
                  else "Marked" if hw == "crossing" else "")
            feat_recs.append({
                "node_id": nid, "feature": feature,
                "signal_dir": tags.get("traffic_signals:direction", ""),
                "crossing_kind": ck,
                "crossing_island":
                    tags.get("crossing:island", "no") == "yes",
                "lon": lon, "lat": lat})
    for r in roads:
        r["src_has_crossing"] = r["pt_node_ids"][0] in crossing_nodes or None
        r["dst_has_crossing"] = r["pt_node_ids"][-1] in crossing_nodes or None
    way_signal_is: set[int] = set()
    for nid in signal_nodes:
        q = (_qz(nodes[nid][0]), _qz(nodes[nid][1]))
        for r in interior_pts.get(q, ()):
            d = sig_dirs[nid] if sig_dirs[nid] in ("forward", "backward") \
                else (r["oneway_dir"] or None)
            if d:
                way_signal_is.add(r["dst_i"] if d == "forward"
                                  else r["src_i"])

    # restrictions (F3/F4 + J4 pre-transform)
    restrictions = []
    for rid, members, tj in rel_rows:
        tags = json.loads(tj)
        if tags.get("type") != "restriction" or "restriction" not in tags:
            continue
        rt = ("Ban" if tags["restriction"].startswith("no_")
              else "Only" if tags["restriction"].startswith("only_")
              else None)
        if rt is None:
            continue
        rec = {"restriction_type": rt, "from_way": None, "via_node": None,
               "to_way": None}
        for m in members:
            if m["role"] == "from" and m["type"] == "way":
                rec["from_way"] = max(rec["from_way"] or -2**63, m["ref"])
            elif m["role"] == "via" and m["type"] == "node":
                rec["via_node"] = max(rec["via_node"] or -2**63, m["ref"])
            elif m["role"] == "to" and m["type"] == "way":
                rec["to_way"] = max(rec["to_way"] or -2**63, m["ref"])
        if rec["from_way"] is not None and rec["to_way"] is not None:
            restrictions.append(rec)
    node_q = {nid: i_id_of[q] for nid in nodes
              if (q := (_qz(nodes[nid][0]), _qz(nodes[nid][1]))) in i_id_of}
    resolved = _resolve_restrictions(restrictions, node_q, roads)
    restricted = {x["from_road"] for x in resolved} \
        | {x["to_road"] for x in resolved}
    for r in roads:
        r["has_restriction"] = (r["road_id"] in restricted) or None

    # sn_stop_lines twin (J3 snap + 30/70 rule) on the PRE-transform
    # v0 graph; the Spark query projects the reference line WITHOUT a
    # placement shift, so re-project shifted roads shift-free here
    from ..geom.core import project_onto
    from ..operators.markings import stop_line_feature_row
    stop_rows = []
    stop_feat_rows = []
    q_to_roads = interior_pts
    for f in feat_recs:
        q = (_qz(f["lon"]), _qz(f["lat"]))
        for r in q_to_roads.get(q, ()):
            pt = lonlat_to_xy(np.array([[f["lon"], f["lat"]]]),
                              lon0, lat0)[0]
            # sn_stop_lines projects SHIFT-FREE reference lines
            sh = float(r.get("placement_shift") or 0.0)
            if abs(sh) > 1e-9:
                pts0 = np.array([[nodes[n][0], nodes[n][1]]
                                 for n in r["pt_node_ids"]])
                pl = simplify_rdp(lonlat_to_xy(pts0, lon0, lat0), 0.5)
            else:
                pl = np.asarray(r["xy"], dtype=float).reshape(-1, 2)
            total = polyline_length(pl)
            pct = 0.0 if total <= 0 else project_onto(pl, pt) / total
            pct = round(pct, 4)
            stop_rows.append({
                "doc_id": doc_id, "road_id": r["road_id"],
                "node_id": f["node_id"], "feature": f["feature"],
                "signal_dir": f["signal_dir"],
                "crossing_kind": f["crossing_kind"],
                "crossing_island": f["crossing_island"],
                "pct_along": pct,
                "snapped_end": ("start" if pct < 0.3
                                else "end" if pct > 0.7 else "none")})
            # s_stop_lines renders over the SHIFTED line
            pls = np.asarray(r["xy"], dtype=float).reshape(-1, 2)
            totals = polyline_length(pls)
            pcts = 0.0 if totals <= 0 else project_onto(pls, pt) / totals
            pcts = round(pcts, 4)
            stop_feat_rows.append({
                "doc_id": doc_id, "road_id": r["road_id"],
                "node_id": f["node_id"], "feature": f["feature"],
                "feature_json": stop_line_feature_row(
                    r["xy"], r["total_width"], pcts, lon0, lat0)})

    # T6 pass 1 (trims only): the independent reference for the
    # initial trims the Spark transforms kernel computes per (doc, cell)
    # group; divergence here would redden the oracle
    ends1 = _road_ends(doc_id, roads, cfg.driving_side, None)
    trims1 = t6_process(ends1, trims_only=True)
    tmap = {}
    for t in trims1.itertuples(index=False):
        key = (int(t.road_id), bool(t.is_src_end))
        tmap[key] = float(t.trim)
    for r in roads:
        r["trim_start"] = tmap.get((r["road_id"], True), 0.0)
        r["trim_end"] = tmap.get((r["road_id"], False), 0.0)
        r["too_short"] = (r["trim_start"] + r["trim_end"]
                          >= r["geom_length"])

    # transforms (T4+T1+T2+T1) with the dense-doc cell split mirrored
    imerges: dict[int, int] = {}
    if len(roads) > cfg.transform_split_threshold:
        for r in roads:
            flat = r["xy"]
            n_pts = len(flat) // 2
            mx = flat[(n_pts // 2) * 2]
            my = flat[(n_pts // 2) * 2 + 1]
            lat = lat0 + my / M_PER_DEG
            lon = lon0 + mx / (M_PER_DEG * math.cos(math.radians(lat0)))
            # +1: cell 0 is the unsplit sentinel (mirrors run_transforms)
            tx, ty = _tile_xy(lon, lat, cfg.transform_split_zoom)
            r["_tcell"] = tx * (1 << 22) + ty + 1
        cells_of_i: dict[int, set] = {}
        for r in roads:
            cells_of_i.setdefault(r["src_i"], set()).add(r["_tcell"])
            cells_of_i.setdefault(r["dst_i"], set()).add(r["_tcell"])
        frozen = {i for i, cs in cells_of_i.items() if len(cs) > 1}
    else:
        for r in roads:
            r["_tcell"] = 0
        frozen = set()
    out_roads: list[dict] = []
    # stepwise-debug twin (s_debug_steps): per-pass counts summed
    # over cells, keyed (step_idx, step_name)
    step_acc: dict[tuple[int, str], list[int]] = {}
    for cell in sorted({r["_tcell"] for r in roads}):
        group = sorted((r for r in roads if r["_tcell"] == cell),
                       key=lambda r: r["road_id"])
        # split docs (nonzero cell) never run T4 — components span
        # cells (mirrors _transform_rows' _tcell guard)
        cell_steps: list = []
        out_roads.extend(apply_standard_transforms(
            group, frozen, cfg.zip_sidepaths, imerges,
            cfg.remove_disconnected and not bool(cell),
            steps=cell_steps))
        for idx, (name, n_r, n_i) in enumerate(cell_steps):
            acc = step_acc.setdefault((idx, name), [0, 0])
            acc[0] += n_r
            acc[1] += n_i
    if debug_sink is not None:
        debug_sink["transform_steps"] = [
            {"step_idx": idx, "step_name": name,
             "n_roads": a[0], "n_intersections": a[1]}
            for (idx, name), a in sorted(step_acc.items())]
    roads = out_roads

    # re-resolve restrictions post-transform; pass-2 T6
    resolved = _resolve_restrictions(restrictions, node_q, roads,
                                     imerges=imerges)
    restr_by_i: dict[int, str] = {}
    by_i: dict[int, list] = {}
    for x in resolved:
        by_i.setdefault(x["i_id"], []).append(
            {"rt": x["restriction_type"], "frm": x["from_road"],
             "to": x["to_road"]})
    restr_by_i = {i: json.dumps(v) for i, v in by_i.items()}
    ends2 = _road_ends(doc_id, roads, cfg.driving_side, restr_by_i)
    trims2 = t6_process(ends2, trims_only=False)

    tmap2, meta, cw_rows, rings = {}, {}, [], {}
    q_of_i_all = {v: k for k, v in i_id_of.items()}
    for t in trims2.itertuples(index=False):
        tmap2[(int(t.road_id), bool(t.is_src_end))] = float(t.trim)
        q = q_of_i_all[int(t.i_id)]
        cw_rows.append({"qx": q[0], "qy": q[1],
                        "road_id": int(t.road_id),
                        "is_src_end": bool(t.is_src_end),
                        "cw_index": int(t.cw_index),
                        "trim_m": round(float(t.trim), 3)})
        if t.polygon_xy is not None:
            meta[int(t.i_id)] = (t.kind,
                                 len(json.loads(t.movements_json))
                                 if t.movements_json else 0)
            rings[int(t.i_id)] = (list(t.polygon_xy), t.movements_json)
    for r in roads:
        t0 = tmap2.get((r["road_id"], True), 0.0)
        t1 = tmap2.get((r["road_id"], False), 0.0)
        r["center_xy"], r["trimmed_length"], r["too_short"] = \
            rebuild_center(r["xy"], t0, t1)

    # finalize intersections: roster / signals / control (T7)
    q_of_i = q_of_i_all
    absorbed_of: dict[int, list[int]] = {}
    for absorbed, surv in imerges.items():
        absorbed_of.setdefault(surv, []).append(absorbed)
    cross_kind_of = {f["node_id"]: f["crossing_kind"]
                     for f in feat_recs if f["feature"] == "crossing"}
    way_signal_final = {imerges.get(i, i) for i in way_signal_is}
    live = sorted({i for r in roads for i in (r["src_i"], r["dst_i"])})
    ints_out = []
    for i in live:
        q = q_of_i[i]
        own = ints_v0.get(q)
        hint = "MapEdge" if own is None or own < 0 else "Unknown"
        roster = [own] if own is not None and own > 0 else []
        for ai in absorbed_of.get(i, ()):
            nid = ints_v0.get(q_of_i[ai])
            if nid is not None and nid > 0:
                roster.append(nid)
        kind, n_mov = meta.get(i, (None, 0))
        if hint == "MapEdge":
            control = "Uncontrolled"
            kind = "MapEdge"
        elif any(n in signal_nodes for n in roster) \
                or i in way_signal_final:
            control = "Signalled"
        elif not roster:
            control = "Uncontrolled"
        else:
            control = "Signed"
        if kind is None:
            kind = hint
        ring_mv = rings.get(i)
        # crossing kind-max rollup over the node roster
        # (finalize_intersections / merge_crossings kind order)
        ck_rank = 0
        for nid in roster:
            ck = cross_kind_of.get(nid)
            r_ = {"Signalized": 3, "Marked": 2, "Unmarked": 1}.get(ck, 0)
            ck_rank = max(ck_rank, r_)
        crossing_kind = {3: "Signalized", 2: "Marked",
                         1: "Unmarked"}.get(ck_rank)
        ints_out.append({"qx": q[0], "qy": q[1], "kind": kind,
                         "control": control, "n_movements": n_mov,
                         "i_id": i,
                         "osm_node_ids": sorted(set(roster)),
                         "crossing_kind": crossing_kind,
                         "polygon_xy": ring_mv[0] if ring_mv else None,
                         "movements_json": ring_mv[1] if ring_mv else None,
                         "lon0": lon0, "lat0": lat0})
    return roads, ints_out, cw_rows, mp_rows, stop_rows, stop_feat_rows


def shortest_dist_rows(doc_id: str, roads: list[dict]) -> list[dict]:
    """Sequential twin of operators/pathfinding.shortest_dists_from_hubs
    over the FINAL (post-transform, trimmed) road graph: undirected,
    parallel edges keep the min weight, distances from the first two
    node ids."""
    import networkx as nx

    g = nx.Graph()
    for r in roads:
        a, b, w = int(r["src_i"]), int(r["dst_i"]), \
            float(r["trimmed_length"])
        if g.has_edge(a, b):
            w = min(w, g[a][b]["weight"])
        g.add_edge(a, b, weight=w)
    out = []
    for hub in sorted(g.nodes())[:2]:
        dist = nx.single_source_dijkstra_path_length(g, hub)
        for node, d in dist.items():
            out.append({"doc_id": doc_id, "src_i": hub,
                        "dst_i": int(node), "dist_m": round(float(d), 3)})
    return out


def _quadkey(z: int, x: int, y: int) -> str:
    return "".join(str(((x >> (i - 1)) & 1) + 2 * ((y >> (i - 1)) & 1))
                   for i in range(z, 0, -1))


def _tile_xy(lon: float, lat: float, zoom: int) -> tuple[int, int]:
    n = float(2 ** zoom)
    x = math.floor((lon + 180.0) / 360.0 * n)
    lr = math.radians(lat)
    y = math.floor((1.0 - math.log(math.tan(lr) + 1.0 / math.cos(lr))
                    / 3.141592653589793) / 2.0 * n)
    return (max(0, min(int(x), int(n) - 1)),
            max(0, min(int(y), int(n) - 1)))


def feature_rows(doc_id: str, roads: list[dict], ints: list[dict],
                 cell_zoom: int = 16) -> list[dict]:
    """Sequential twin of the flagship render (operators/render.py +
    tiles.py): one GeoJSON polygon per road (center line thickened by
    total width) and per intersection, byte-identical feature_json
    (same struct key order, null omission, coordinate rounding and
    compact separators as Spark's to_json + the render UDFs), plus the
    zoom-16 tile assignment and quadkey."""
    from ..geom.core import thicken_polyline, xy_to_lonlat

    out = []

    def _feat(ring_xy, lon0, lat0, props):
        ll = xy_to_lonlat(np.asarray(ring_xy, float).reshape(-1, 2),
                          lon0, lat0)
        coords = [[round(float(x), 9), round(float(y), 9)] for x, y in ll]
        feat = {"type": "Feature",
                "geometry": {"type": "Polygon", "coordinates": [coords]},
                "properties": props}
        c = ll.mean(axis=0)
        return (json.dumps(feat, separators=(",", ":")),
                float(c[0]), float(c[1]))

    for r in roads:
        # Spark to_json drops null fields — mirror by omission
        props = {"id": int(r["road_id"]), "type": "road",
                 "osm_way_ids": [int(w) for w in r["osm_way_ids"]],
                 "src_i": int(r["src_i"]), "dst_i": int(r["dst_i"])}
        if r.get("highway_type") is not None:
            props["highway"] = r["highway_type"]
        if r.get("name") is not None:
            props["name"] = r["name"]
        if r.get("layer") is not None:
            props["layer"] = int(r["layer"])
        if r.get("lane_chars") is not None:
            props["lanes_ltr"] = r["lane_chars"]
        if r.get("dir_chars") is not None:
            props["dirs_ltr"] = r["dir_chars"]
        ring = thicken_polyline(
            np.asarray(r["center_xy"], float).reshape(-1, 2),
            float(r["total_width"]))
        fj, c_lon, c_lat = _feat(ring, r["lon0"], r["lat0"], props)
        tx, ty = _tile_xy(c_lon, c_lat, cell_zoom)
        out.append({"doc_id": doc_id, "feature_type": "road",
                    "feature_id": int(r["road_id"]), "feature_json": fj,
                    "tile_z": cell_zoom, "tile_x": tx, "tile_y": ty,
                    "quadkey": _quadkey(cell_zoom, tx, ty)})
    for i in ints:
        if i.get("polygon_xy") is None:
            continue
        props = {"id": int(i["i_id"]), "type": "intersection",
                 "osm_node_ids": [int(n) for n in i["osm_node_ids"]]}
        if i.get("kind") is not None:
            props["intersection_kind"] = i["kind"]
        if i.get("control") is not None:
            props["control"] = i["control"]
        if i.get("movements_json") is not None:
            props["movements"] = i["movements_json"]
        fj, c_lon, c_lat = _feat(i["polygon_xy"], i["lon0"], i["lat0"],
                                 props)
        tx, ty = _tile_xy(c_lon, c_lat, cell_zoom)
        out.append({"doc_id": doc_id, "feature_type": "intersection",
                    "feature_id": int(i["i_id"]), "feature_json": fj,
                    "tile_z": cell_zoom, "tile_x": tx, "tile_y": ty,
                    "quadkey": _quadkey(cell_zoom, tx, ty)})
    return out


def dc_side_rows(doc_id: str, roads: list[dict]) -> list[dict]:
    """Sequential twin of trace_dual_carriageway_sides (same pure
    kernel over the final roads)."""
    from ..operators.dual_carriageway import dc_sides_doc

    recs = sorted(
        ((r["road_id"], r["src_i"], r["dst_i"], r.get("name"),
          (r.get("oneway_dir") or "") != "", float(r["trimmed_length"]))
         for r in roads),
        key=lambda t: t[0])
    return [{"doc_id": d, "name": n, "side_idx": si,
             "n_segments": ns, "length_m": lm}
            for d, n, si, ns, lm in dc_sides_doc(doc_id, recs)]


def block_rows(doc_id: str, roads: list[dict]) -> list[dict]:
    """Sequential twin of operators/blocks_op.extract_blocks (same
    find_blocks face-walk kernel over road_id-sorted final roads)."""
    from ..geom.blocks import find_blocks

    rs = [{"road_id": r["road_id"], "src_i": r["src_i"],
           "dst_i": r["dst_i"], "xy": list(r["xy"]),
           "name": r.get("name"), "highway_type": r.get("highway_type")}
          for r in sorted(roads, key=lambda r: r["road_id"])]
    out = []
    for b in find_blocks(rs):
        out.append({"doc_id": doc_id, "block_id": int(b["block_id"]),
                    "kind": b["kind"], "n_roads": b["n_roads"],
                    "n_names": b["n_names"], "area_m2": b["area_m2"],
                    "ring_json": json.dumps(b["ring"],
                                            separators=(",", ":"))})
    return out


def layer_rows(doc_id: str, roads: list[dict]):
    """Sequential twins of render_lane_polygons / render_surfaces /
    render_lane_markings — the SAME pure row kernels the Spark UDFs
    call."""
    from ..operators.markings import lane_markings_row
    from ..operators.render import lane_polygons_row, surfaces_row

    lane_rows, surf_rows, mark_rows = [], [], []
    for r in roads:
        args = (r["center_xy"], r["total_width"], r["lane_specs_json"],
                r["lon0"], r["lat0"])
        for idx, fj in enumerate(lane_polygons_row(*args)):
            lane_rows.append({"doc_id": doc_id, "road_id": r["road_id"],
                              "lane_idx": idx, "feature_json": fj})
        for idx, fj in enumerate(surfaces_row(*args)):
            surf_rows.append({"doc_id": doc_id, "road_id": r["road_id"],
                              "surface_idx": idx, "feature_json": fj})
        for idx, fj in enumerate(lane_markings_row(*args)):
            mark_rows.append({"doc_id": doc_id, "road_id": r["road_id"],
                              "marking_idx": idx, "feature_json": fj})
    return lane_rows, surf_rows, mark_rows


def junction_marking_rows(doc_id: str, roads: list[dict],
                          ints: list[dict]):
    """Sequential twins of render_intersection_markings (crossing
    zebra/edge bars) and render_sidewalk_corners — same pure kernels."""
    from ..geom.intersection_kernel import sidewalk_corners
    from ..geom.core import xy_to_lonlat
    from ..operators.intersection_markings import crossing_markings_row

    mark_rows, corner_rows = [], []
    ends_of: dict[int, list] = {}
    for r in roads:
        for i, is_src in ((r["src_i"], True), (r["dst_i"], False)):
            ends_of.setdefault(i, []).append((r, is_src))
    for it in ints:
        if it.get("polygon_xy") is None:
            continue
        if it.get("crossing_kind"):
            for idx, fj in enumerate(crossing_markings_row(
                    it["polygon_xy"], it["crossing_kind"],
                    it["lon0"], it["lat0"])):
                mark_rows.append({"doc_id": doc_id, "i_id": it["i_id"],
                                  "marking_idx": idx, "feature_json": fj})
        ring = np.asarray(it["polygon_xy"], dtype=float).reshape(-1, 2)
        ends_k = []
        for r, is_src in sorted(ends_of.get(it["i_id"], ()),
                                key=lambda t: t[0]["road_id"]):
            xy = np.asarray(r["center_xy"], dtype=float).reshape(-1, 2)
            if len(xy) < 2:
                continue
            if not is_src:
                xy = xy[::-1]
            ends_k.append({
                "key": (int(r["road_id"]), bool(is_src)),
                "road_id": int(r["road_id"]), "is_src_end": bool(is_src),
                "xy": xy, "width": float(r["total_width"]),
                "specs": json.loads(r["lane_specs_json"]),
            })
        if len(ends_k) < 2:
            continue
        for idx, ring_out in enumerate(sidewalk_corners(ends_k, ring)):
            ll = xy_to_lonlat(ring_out, it["lon0"], it["lat0"])
            fj = json.dumps({
                "type": "Feature",
                "geometry": {"type": "Polygon", "coordinates": [[
                    [round(float(x), 9), round(float(y), 9)]
                    for x, y in ll]]},
                "properties": {"type": "sidewalk corner"},
            }, separators=(",", ":"))
            corner_rows.append({"doc_id": doc_id, "i_id": it["i_id"],
                                "marking_idx": idx, "feature_json": fj})
    return mark_rows, corner_rows


PROFILES = {"drive": set("dB"), "foot": set("sfF"), "bike": set("bF")}


def profile_path_rows(doc_id: str, roads: list[dict]) -> list[dict]:
    """Sequential twin of operators/pathfinding.simple_paths, projected
    to the tie-stable columns (distance only)."""
    import heapq

    out = []
    for prof, lane_set in sorted(PROFILES.items()):
        adj: dict[int, list] = {}
        nodes = set()
        for r in roads:
            fwd = back = False
            for lt, d in zip(r.get("lane_chars") or "",
                             r.get("dir_chars") or ""):
                if lt in lane_set:
                    if d == "^":
                        fwd = True
                    else:
                        back = True
            w = float(r["trimmed_length"])
            if fwd or back:
                nodes.add(int(r["src_i"]))
                nodes.add(int(r["dst_i"]))
            if fwd:
                adj.setdefault(int(r["src_i"]), []).append(
                    (int(r["dst_i"]), w))
            if back:
                adj.setdefault(int(r["dst_i"]), []).append(
                    (int(r["src_i"]), w))
        if not nodes:
            continue
        frm, to = min(nodes), max(nodes)
        dist = {frm: 0.0}
        heap = [(0.0, frm)]
        while heap:
            d, i = heapq.heappop(heap)
            if i == to:
                break
            if d > dist.get(i, float("inf")):
                continue
            for j, w in adj.get(i, ()):
                nd = d + w
                if nd < dist.get(j, float("inf")):
                    dist[j] = nd
                    heapq.heappush(heap, (nd, j))
        if to in dist:
            out.append({"doc_id": doc_id, "profile": prof,
                        "dist_m": round(dist[to], 3)})
    return out


def transformed_road_rows(doc_id: str, roads: list[dict]) -> list[dict]:
    """One document's final roads → gt_transformed rows (way_id, the
    comma-joined osm_way_ids, trimmed_length, lane_chars)."""
    # same rounding as Spark F.round(col, 2): HALF_UP over the shortest
    # decimal representation of the double
    return [{"doc_id": doc_id, "way_id": r["way_id"],
             "osm_way_ids": ",".join(str(w) for w in r["osm_way_ids"]),
             "trimmed_length": float(
                 Decimal(repr(float(r["trimmed_length"])))
                 .quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)),
             "lane_chars": r["lane_chars"]}
            for r in roads]


def convert_documents(doc_rows):
    """Iterate (doc_id, spans) pairs → (transformed_road_rows,
    movement_rows, dist_rows, cw_rows, path_rows) ready for parquet —
    the gt tables the oracles read."""
    road_rows, int_rows, dist_rows, cw_rows, path_rows, feat_rows = \
        [], [], [], [], [], []
    lanepoly_rows, surface_rows, dc_rows, mp_rows, blk_rows = \
        [], [], [], [], []
    marking_rows, stop_rows, stop_feat_rows = [], [], []
    imark_rows, corner_rows = [], []
    dbg_rows: list[dict] = []
    for doc_id, spans in doc_rows:
        sink: dict = {}
        roads, ints, cws, mps, sls, sfs = \
            convert_document(doc_id, spans, debug_sink=sink)
        for s in sink.get("transform_steps", []):
            dbg_rows.append({"doc_id": doc_id, **s})
        mp_rows.extend(mps)
        stop_rows.extend(sls)
        stop_feat_rows.extend(sfs)
        dist_rows.extend(shortest_dist_rows(doc_id, roads))
        path_rows.extend(profile_path_rows(doc_id, roads))
        feat_rows.extend(feature_rows(doc_id, roads, ints,
                                       DEFAULT_CONFIG.cell_zoom))
        lp, sf_, mk = layer_rows(doc_id, roads)
        lanepoly_rows.extend(lp)
        surface_rows.extend(sf_)
        marking_rows.extend(mk)
        dc_rows.extend(dc_side_rows(doc_id, roads))
        blk_rows.extend(block_rows(doc_id, roads))
        jm, jc = junction_marking_rows(doc_id, roads, ints)
        imark_rows.extend(jm)
        corner_rows.extend(jc)
        for c in cws:
            cw_rows.append({"doc_id": doc_id, **c})
        road_rows.extend(transformed_road_rows(doc_id, roads))
        for i in ints:
            int_rows.append({"doc_id": doc_id, **i})
    return (road_rows, int_rows, dist_rows, cw_rows, path_rows,
            feat_rows, lanepoly_rows, surface_rows, dc_rows, mp_rows,
            blk_rows, marking_rows, stop_rows, stop_feat_rows,
            imark_rows, corner_rows, dbg_rows)
