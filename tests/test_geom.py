import numpy as np
import pytest

from osm2streets_spark.geom import (
    polyline_length, interpolate_along, project_onto, slice_between,
    extend_to_length, simplify_rdp, shift_polyline, first_intersection,
    thicken_polyline, signed_area, is_clockwise, ring_centroid,
    point_in_ring, normalized_degrees, lonlat_to_xy, xy_to_lonlat,
    step_along,
)


def L(*pts):
    return np.array(pts, dtype=float)


def test_length_and_interpolate():
    pl = L((0, 0), (3, 0), (3, 4))
    assert polyline_length(pl) == pytest.approx(7.0)
    assert interpolate_along(pl, 0).tolist() == [0, 0]
    assert interpolate_along(pl, 3).tolist() == [3, 0]
    assert interpolate_along(pl, 5).tolist() == [3, 2]
    assert interpolate_along(pl, 99).tolist() == [3, 4]


def test_project_onto():
    pl = L((0, 0), (10, 0))
    assert project_onto(pl, np.array([4.0, 3.0])) == pytest.approx(4.0)
    assert project_onto(pl, np.array([-5.0, 1.0])) == pytest.approx(0.0)


def test_slice_between():
    pl = L((0, 0), (10, 0))
    s = slice_between(pl, 2, 7)
    assert s[0].tolist() == [2, 0]
    assert s[-1].tolist() == [7, 0]
    assert polyline_length(s) == pytest.approx(5)


def test_extend():
    pl = L((0, 0), (10, 0))
    e = extend_to_length(pl, 15)
    assert e[-1].tolist() == [15, 0]
    assert extend_to_length(pl, 5).tolist() == pl.tolist()


def test_rdp():
    pl = L((0, 0), (5, 0.1), (10, 0))
    assert len(simplify_rdp(pl, 0.5)) == 2
    assert len(simplify_rdp(pl, 0.01)) == 3


def test_shift():
    pl = L((0, 0), (10, 0))
    right = shift_polyline(pl, 1.0)
    # travel is +x; right of travel is -y
    assert right[0].tolist() == pytest.approx([0, -1])
    assert right[-1].tolist() == pytest.approx([10, -1])
    left = shift_polyline(pl, -1.0)
    assert left[0].tolist() == pytest.approx([0, 1])
    # L-corner keeps offset distance on both legs
    corner = shift_polyline(L((0, 0), (10, 0), (10, 10)), 1.0)
    assert corner[0].tolist() == pytest.approx([0, -1])
    assert corner[-1].tolist() == pytest.approx([11, 10])
    assert corner[1].tolist() == pytest.approx([11, -1])  # miter point


def test_first_intersection():
    a = L((0, 0), (10, 0))
    b = L((5, -5), (5, 5))
    hit = first_intersection(a, b)
    assert hit is not None
    p, da, db = hit
    assert p.tolist() == pytest.approx([5, 0])
    assert da == pytest.approx(5)
    assert db == pytest.approx(5)
    assert first_intersection(a, L((0, 1), (10, 1))) is None


def test_thicken_and_ring():
    ring = thicken_polyline(L((0, 0), (10, 0)), 2.0)
    # 4 corners + closing point
    assert len(ring) == 5
    assert abs(signed_area(ring)) == pytest.approx(20.0)
    c = ring_centroid(ring)
    assert c.tolist() == pytest.approx([5, 0])
    assert point_in_ring(np.array([5.0, 0.5]), ring)
    assert not point_in_ring(np.array([5.0, 1.5]), ring)
    assert is_clockwise(ring) or not is_clockwise(ring[::-1])


def test_angles_and_projection_roundtrip():
    assert normalized_degrees(-90) == 270
    assert normalized_degrees(370) == 10
    lonlat = np.array([[-122.33, 47.61], [-122.32, 47.62]])
    xy = lonlat_to_xy(lonlat, -122.33, 47.61)
    assert xy[0].tolist() == [0, 0]
    back = xy_to_lonlat(xy, -122.33, 47.61)
    assert np.allclose(back, lonlat)
    # ~1112 m per 0.01 deg lat (haversine R=6371000, the geom crate's
    # earth radius — measured from the goldens' 0.1 mm grid)
    assert xy[1, 1] == pytest.approx(1111.95, abs=0.5)


def test_step_along():
    pl = L((0, 0), (100, 0))
    pts = step_along(pl, 20.0, 5.0)  # reference arrow spacing
    assert len(pts) == 5
    assert pts[0].tolist() == [5, 0]


@pytest.mark.parametrize("geometry_type, xy, anchor, props, want", [
    ("Point", np.array([10.0, 20.0]), (-120.0, 30.0),
     {"type": "lane arrow", "dir": "forward"},
     '{"type":"Feature","geometry":{"type":"Point","coordinates":'
     '[-119.999896155,30.000179864]},'
     '"properties":{"type":"lane arrow","dir":"forward"}}'),
    ("LineString", [[0, 0], [3.5, -1.25]], (-120.0, 30.0),
     {"type": "stop line"},
     '{"type":"Feature","geometry":{"type":"LineString","coordinates":'
     '[[-120.0,30.0],[-119.999963654,29.999988758]]},'
     '"properties":{"type":"stop line"}}'),
    ("Polygon", [[0, 0], [1, 0], [1, 1], [0, 0]], (2.35, 48.85),
     {"type": "road", "id": 7, "name": None},
     '{"type":"Feature","geometry":{"type":"Polygon","coordinates":'
     '[[[2.35,48.85],[2.350013667,48.85],[2.350013667,48.850008993],'
     '[2.35,48.85]]]},"properties":{"type":"road","id":7,"name":null}}'),
])
def test_geojson_feature_exact(geometry_type, xy, anchor, props, want):
    """The one GeoJSON encoder every render uses, byte for byte:
    9-digit lon/lat rounding, type/geometry/properties key order,
    compact separators."""
    from osm2streets_spark.geom.core import geojson_feature

    assert geojson_feature(geometry_type, xy, *anchor, props) == want
