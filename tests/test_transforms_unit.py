"""Pure-Python tests of the per-doc transform kernels (T1-T4, T3 zip)."""

import json

from osm2streets_spark.config import DEFAULT_CONFIG
from osm2streets_spark.operators.transforms import (
    TRANSFORM_SCHEMA, remove_disconnected, collapse_short_roads,
    collapse_degenerate, zip_sidepaths, _transform_rows,
)


def mk_road(rid, src, dst, xy, hw="residential", lanes="s|dd|s",
            driveable=True, **kw):
    specs = []
    for ch in lanes:
        lt = {"s": "sidewalk", "|": "buffer", "d": "driving",
              "b": "biking", "f": "footway"}[ch]
        specs.append({"lt": lt, "dir": "forward",
                      "width": {"s": 1.5, "|": 0.1, "d": 3.0, "b": 1.5,
                                "f": 2.0}[ch],
                      "subtype": "", "allowed_turns": []})
    r = {
        "road_id": rid, "way_id": rid, "src_i": src, "dst_i": dst,
        "xy": [float(v) for v in xy], "highway_type": hw, "name": "X",
        "layer": 0, "speed_kph": None, "oneway_dir": "",
        "lane_specs_json": json.dumps(specs, separators=(",", ":")),
        "lane_chars": lanes, "dir_chars": "^" * len(lanes),
        "total_width": sum(s["width"] for s in specs),
        "driveable": driveable, "internal_junction_road": False,
        "osm_way_ids": [rid],
        "lon0": 0.0, "lat0": 0.0,
        "src_is_edge": None, "dst_is_edge": None,
        "src_has_crossing": None, "dst_has_crossing": None,
        "placement_shift": None, "lane_fingerprint": None,
    }
    r.update(kw)
    return r


def test_remove_disconnected_keeps_largest():
    roads = [
        mk_road(1, 10, 11, [0, 0, 100, 0]),
        mk_road(2, 11, 12, [100, 0, 200, 0]),
        mk_road(3, 20, 21, [500, 500, 600, 500]),  # detached
    ]
    kept = remove_disconnected(roads)
    assert sorted(r["road_id"] for r in kept) == [1, 2]


def test_collapse_short_road_merges_endpoints():
    roads = [
        mk_road(1, 10, 11, [0, 0, 100, 0]),
        mk_road(2, 11, 12, [100, 0, 103, 0], internal_junction_road=True),
        mk_road(3, 12, 13, [103, 0, 200, 0]),
    ]
    out = collapse_short_roads(roads, set())
    assert sorted(r["road_id"] for r in out) == [1, 3]
    r3 = next(r for r in out if r["road_id"] == 3)
    assert r3["src_i"] == 11  # dst of candidate merged into its src


def test_kernel_finds_trim_annihilated_roads_itself():
    """The transforms kernel computes every junction's initial trims
    itself: given no too_short or trim inputs, an 8 m link between two
    4-way junctions of 9.2 m wide roads is trimmed 4.6 m at each end,
    so it is collapsed, and its dst junction's node joins its src's
    roster."""
    roads = [
        mk_road(1, 1, 2, [0, 0, 8, 0]),
        mk_road(2, 10, 1, [-100, 0, 0, 0]),
        mk_road(3, 1, 11, [0, 0, 0, 100]),
        mk_road(4, 1, 12, [0, 0, 0, -100]),
        mk_road(5, 2, 13, [8, 0, 108, 0]),
        mk_road(6, 2, 14, [8, 0, 8, 100]),
        mk_road(7, 2, 15, [8, 0, 8, -100]),
    ]
    rows = [dict(r, doc_id="d", _tcell=0, row_kind="road") for r in roads]
    rows += [_junction(1, 501), _junction(2, 502)]
    out = [dict(zip(TRANSFORM_SCHEMA.names, t))
           for t in _transform_rows(rows, False, True,
                                    DEFAULT_CONFIG.driving_side)]
    kept = {o["road_id"]: o for o in out if o["row_kind"] == "road"}
    assert sorted(kept) == [2, 3, 4, 5, 6, 7]
    assert {kept[k]["src_i"] for k in (5, 6, 7)} == {1}
    assert [(o["i_id"], o["osm_node_ids"]) for o in out
            if o["row_kind"] == "intersection"] == [(1, [501, 502])]


def test_collapse_degenerate_splices():
    roads = [
        mk_road(1, 10, 11, [0, 0, 100, 0]),
        mk_road(2, 11, 12, [100, 0, 200, 0]),
    ]
    out = collapse_degenerate(roads, set())
    assert len(out) == 1
    merged = out[0]
    assert merged["src_i"] == 10 and merged["dst_i"] == 12
    assert sorted(merged["osm_way_ids"]) == [1, 2]


def test_frozen_junction_is_guarded_after_a_splice():
    """T2 splices roads 1 (11→5) and 2 (11→12) at 11, flipping road 1,
    into road 1 as 5→12. Junction 5 is a frozen seam and 12 is not, so
    the second T1 pass collapses the internal road 3 (12→13), and the
    frozen junction 5 stays road 1's end."""
    roads = [
        mk_road(1, 11, 5, [0, 0, -100, 0]),
        mk_road(2, 11, 12, [0, 0, 100, 0]),
        mk_road(3, 12, 13, [100, 0, 103, 0], name="Y",
                internal_junction_road=True),
    ]
    frozen = {5}
    out = collapse_short_roads(collapse_degenerate(roads, frozen), frozen)
    assert [(r["road_id"], r["src_i"], r["dst_i"]) for r in out] == [
        (1, 5, 12)]


def test_zip_sidepath_splices_lanes():
    """Connector walk (zip_sidepath.rs:28-73): each sidepath endpoint
    has exactly one <10 m connector to the main road; lanes splice into
    EVERY main segment along the driving path, plus a planter buffer;
    the sidepath is removed and the connectors stay."""
    main_a = mk_road(1, 10, 11, [0, 0, 100, 0], hw="primary")
    main_b = mk_road(2, 11, 12, [100, 0, 200, 0], hw="primary")
    track = mk_road(3, 20, 21, [0, 8, 200, 8], hw="cycleway", lanes="b",
                    driveable=False)
    conn_w = mk_road(4, 10, 20, [0, 0, 0, 8], hw="footway", lanes="f",
                     driveable=False)
    conn_e = mk_road(5, 12, 21, [200, 0, 200, 8], hw="footway", lanes="f",
                     driveable=False)
    out = zip_sidepaths([main_a, main_b, track, conn_w, conn_e])
    by_id = {r["road_id"]: r for r in out}
    assert 3 not in by_id                      # sidepath removed
    assert 4 in by_id and 5 in by_id           # connectors stay
    for rid in (1, 2):                         # BOTH main segments zipped
        z = by_id[rid]
        # track is north (left of west->east travel): bike + planter
        # land inside nothing (first lane is sidewalk -> idx 1)
        assert z["lane_chars"] == "sb||dd|s", z["lane_chars"]
        assert z["total_width"] == main_a["total_width"] + 1.5 + 2.0


def test_zip_sidepath_requires_connectors():
    """Without <10 m connectors at both endpoints there is no zip —
    the old midpoint-distance heuristic would have merged these."""
    main = mk_road(1, 10, 11, [0, 0, 200, 0], hw="primary")
    near = mk_road(2, 20, 21, [0, 8, 200, 8], hw="cycleway", lanes="b",
                   driveable=False)
    out = zip_sidepaths([main, near])
    assert len(out) == 2



def test_split_gt_actually_splits(fixture_dir):
    """The s_split_transforms CORRECTNESS row is only meaningful if the
    lowered threshold actually fires: dense_cell docs (49 roads > 24)
    must take the per-cell path (T4 skipped -> disconnected fragments
    survive, seam trims frozen), producing output that DIFFERS from the
    unsplit gt for those docs and matches it for the sparse ones."""
    import duckdb

    from osm2streets_spark.sources.fixtures import (
        ensure_split_transforms_gt,
    )

    ensure_split_transforms_gt(fixture_dir)
    con = duckdb.connect()
    split_n, unsplit_n = con.execute(f"""
      select
        (select count(*) from
            read_parquet('{fixture_dir}/gt_split_transformed.parquet')
         where doc_id like 'dense_cell%'),
        (select count(*) from
            read_parquet('{fixture_dir}/gt_transformed.parquet')
         where doc_id like 'dense_cell%')
    """).fetchone()
    assert split_n > unsplit_n, (
        "split path left dense_cell output identical — threshold "
        "did not fire")
    same = con.execute(f"""
      with a as (select doc_id, way_id, trimmed_length, lane_chars from
          read_parquet('{fixture_dir}/gt_split_transformed.parquet')
          where doc_id not like 'dense_cell%'),
           b as (select doc_id, way_id, trimmed_length, lane_chars from
          read_parquet('{fixture_dir}/gt_transformed.parquet')
          where doc_id not like 'dense_cell%')
      select (select count(*) from (select * from a except
              select * from b)) +
             (select count(*) from (select * from b except
              select * from a))
    """).fetchone()[0]
    assert same == 0, "sparse docs must be unaffected by the threshold"


def _junction(i_id, node_id):
    return {"doc_id": "d", "_tcell": 0, "row_kind": "junction",
            "i_id": i_id, "qx": i_id, "qy": 0, "n_uses": 2,
            "osm_node_id": node_id, "lon": 0.0, "lat": 0.0,
            "kind_hint": "Unknown", "has_signal": None,
            "crossing_kind": None, "crossing_island": None}


def test_kernel_resolves_restrictions_on_the_final_roads():
    """A ban (from way 1000, via junction 2, to way 2000) whose via
    junction T1 absorbs (the internal road 5 merges 2 into 1) and whose
    from-road T2 splices (roads 100 + 101 at the degree-2 junction 11
    become road 100, ways [1000, 1000]). Against the v0 graph the ban
    resolves to nothing: way 1000 never touches junction 2. Against the
    final roads it is the west → north turn at junction 1, so the
    survivor's movements must omit 100 → 102, and its roster holds both
    nodes."""
    roads = [
        mk_road(100, 10, 11, [-200, 0, -100, 0], way_id=1000,
                osm_way_ids=[1000]),
        mk_road(101, 11, 1, [-100, 0, 0, 0], way_id=1000,
                osm_way_ids=[1000]),
        mk_road(5, 1, 2, [0, 0, 3, 0], way_id=5, osm_way_ids=[5],
                internal_junction_road=True),
        mk_road(102, 2, 12, [3, 0, 3, 100], way_id=2000,
                osm_way_ids=[2000]),
        mk_road(103, 2, 13, [3, 0, 103, 0], way_id=3000,
                osm_way_ids=[3000]),
        mk_road(104, 1, 14, [0, 0, 0, -100], way_id=4000,
                osm_way_ids=[4000]),
    ]
    ban = {"doc_id": "d", "_tcell": 0, "row_kind": "restriction",
           "i_id": 2, "restriction_type": "Ban", "from_way": 1000,
           "to_way": 2000}

    def survivor(with_ban):
        rows = [dict(r, doc_id="d", _tcell=0, row_kind="road") for r in roads]
        rows += [_junction(1, 501), _junction(2, 502)]
        rows += [dict(ban)] if with_ban else []
        out = [dict(zip(TRANSFORM_SCHEMA.names, t))
               for t in _transform_rows(rows, False, False,
                                        DEFAULT_CONFIG.driving_side)]
        kept = {o["road_id"] for o in out if o["row_kind"] == "road"}
        assert kept == {100, 102, 103, 104}
        (i,) = [o for o in out if o["row_kind"] == "intersection"
                and o["i_id"] == 1]
        assert i["osm_node_ids"] == [501, 502]
        return {tuple(m) for m in json.loads(i["movements_json"])}

    assert (100, 102) in survivor(False)
    moves = survivor(True)
    assert (100, 102) not in moves
    assert (100, 103) in moves
