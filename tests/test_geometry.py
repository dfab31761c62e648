"""WKB codec + NumPy geometry kernel tests."""

import numpy as np
import pytest

from gdal_spark.functions import geometry as G


SQUARE = [[(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)]]
SQUARE_WITH_HOLE = [
    [(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)],
    [(4, 4), (6, 4), (6, 6), (4, 6), (4, 4)],
]


def test_wkb_point_roundtrip():
    g = G.parse_wkb(G.wkb_point(1.5, -2.5))
    assert g.gtype == G.WKB_POINT
    assert g.coords[0].tolist() == [[1.5, -2.5]]


def test_wkb_polygon_roundtrip():
    g = G.parse_wkb(G.wkb_polygon(SQUARE_WITH_HOLE))
    assert g.gtype == G.WKB_POLYGON
    assert len(g.rings) == 2
    assert g.ring_roles == [True, False]
    assert G.geom_bbox(g) == (0.0, 0.0, 10.0, 10.0)


def test_wkb_multipolygon_roundtrip():
    g = G.parse_wkb(G.wkb_multipolygon([SQUARE, [[(20, 20), (30, 20), (30, 30), (20, 30), (20, 20)]]]))
    assert g.gtype == G.WKB_MULTIPOLYGON
    assert len(g.rings) == 2


def test_point_in_polygon_basic():
    g = G.parse_wkb(G.wkb_polygon(SQUARE))
    px = np.array([5.0, -1.0, 10.5, 0.5])
    py = np.array([5.0, 5.0, 5.0, 0.5])
    assert G.points_in_geom(px, py, g).tolist() == [True, False, False, True]


def test_point_in_polygon_hole():
    g = G.parse_wkb(G.wkb_polygon(SQUARE_WITH_HOLE))
    px = np.array([5.0, 1.0, 4.5])
    py = np.array([5.0, 1.0, 4.5])
    # (5,5) is inside the hole → outside; (1,1) inside; (4.5,4.5) in hole
    assert G.points_in_geom(px, py, g).tolist() == [False, True, False]


def test_point_in_multipolygon():
    g = G.parse_wkb(G.wkb_multipolygon([SQUARE, [[(20, 20), (30, 20), (30, 30), (20, 30), (20, 20)]]]))
    px = np.array([5.0, 25.0, 15.0])
    py = np.array([5.0, 25.0, 15.0])
    assert G.points_in_geom(px, py, g).tolist() == [True, True, False]


def test_area_and_centroid():
    g = G.parse_wkb(G.wkb_polygon(SQUARE_WITH_HOLE))
    assert G.geom_area(g) == pytest.approx(100 - 4)
    cx, cy = G.geom_centroid(G.parse_wkb(G.wkb_polygon(SQUARE)))
    assert (cx, cy) == pytest.approx((5.0, 5.0))


def test_intersects():
    a = G.parse_wkb(G.wkb_polygon(SQUARE))
    b = G.parse_wkb(G.wkb_bbox_polygon(5, 5, 15, 15))  # overlaps
    c = G.parse_wkb(G.wkb_bbox_polygon(11, 11, 12, 12))  # disjoint
    d = G.parse_wkb(G.wkb_bbox_polygon(2, 2, 3, 3))  # contained in a
    e = G.parse_wkb(G.wkb_bbox_polygon(-5, -5, 15, 15))  # contains a
    assert G.geoms_intersect(a, b)
    assert not G.geoms_intersect(a, c)
    assert G.geoms_intersect(a, d)
    assert G.geoms_intersect(a, e)
    # edge-crossing with no vertex containment: thin cross shapes
    h = G.parse_wkb(G.wkb_bbox_polygon(-1, 4, 11, 6))
    v = G.parse_wkb(G.wkb_bbox_polygon(4, -1, 6, 11))
    assert G.geoms_intersect(h, v)


def test_endpoint_on_edge_line_is_not_a_touch():
    """A vertex on the infinite line of another edge, with the two
    edges' bboxes overlapping, is not a touch unless it lies on that
    edge's segment: the triangle's (2, 2) is on the line y = 2 of the
    rectangle's bottom edge, but right of it."""
    from gdal_spark.functions.predicates import predicate

    tri = G.parse_wkb(G.wkb_polygon([[(0, 0), (2, 2), (2, 0), (0, 0)]]))
    rect = G.parse_wkb(G.wkb_bbox_polygon(0.5, 2, 1.5, 3))
    assert not G.geoms_intersect(tri, rect)
    assert not G.geoms_intersect(rect, tri)
    assert not G.segments_intersect_any(tri.rings[0], rect.rings[0])
    assert not predicate(tri, rect, "intersects")
    # a vertex on the segment still touches
    on = G.parse_wkb(G.wkb_bbox_polygon(1.5, 2, 2.5, 3))
    assert G.segments_intersect_any(tri.rings[0], on.rings[0])
    assert G.geoms_intersect(tri, on)


def test_clip_ring_to_bbox():
    ring = np.asarray(SQUARE[0], dtype=float)
    out = G.clip_ring_to_bbox(ring, 5, 5, 15, 15)
    g = G.Geom(G.WKB_POLYGON, rings=[out], ring_roles=[True])
    assert G.geom_area(g) == pytest.approx(25.0)
    empty = G.clip_ring_to_bbox(ring, 50, 50, 60, 60)
    assert len(empty) == 0


def test_points_to_geom_distance():
    g = G.parse_wkb(G.wkb_polygon(SQUARE))
    d = G.points_to_geom_distance(np.array([5.0, 13.0]), np.array([5.0, 10.0]), g)
    assert d[0] == 0.0
    assert d[1] == pytest.approx(3.0)


# ---------------------------------------------------------------------------
# round-4 Z/M + GeometryCollection WKB (VERDICT r03 item 7;
# ogr/ogr_core.h:422-452, ogr/ogr_wkb.cpp; tests autotest/ogr/ogr_geom.py)
# ---------------------------------------------------------------------------


def test_point_zm_roundtrip():
    for z, m in ((5.0, None), (None, 7.0), (5.0, 7.0), (None, None)):
        b = G.wkb_point(1.5, 2.5, z, m)
        g = G.parse_wkb(b)
        assert g.gtype == G.WKB_POINT
        assert g.has_z is (z is not None)
        assert g.has_m is (m is not None)
        assert G.geom_z(g) == z
        assert G.geom_m(g) == m
        assert g.coords[0][0, 0] == 1.5 and g.coords[0][0, 1] == 2.5
        assert G.geom_to_wkb(g) == b


def test_linestring_z_length3d():
    b = G.wkb_linestring([(0, 0, 0), (3, 4, 12)])
    g = G.parse_wkb(b)
    assert g.has_z and not g.has_m
    assert abs(G.geom_length3d(g) - 13.0) < 1e-12  # 3-4-12 box diagonal
    assert G.geom_to_wkb(g) == b
    # planar kernels see strictly 2-D coords
    assert g.coords[0].shape == (2, 2)


def test_polygon_z_area_is_planar():
    ring = [(0, 0, 9), (4, 0, 9), (4, 4, 9), (0, 4, 9), (0, 0, 9)]
    g = G.parse_wkb(G.wkb_polygon([ring]))
    assert g.has_z
    assert abs(G.geom_area(g) - 16.0) < 1e-12  # Z never leaks into area
    b2 = G.force_2d(g)
    g2 = G.parse_wkb(b2)
    assert not g2.has_z and abs(G.geom_area(g2) - 16.0) < 1e-12


def test_ewkb_flag_and_srid_variants():
    import struct

    # EWKB: flag bits + embedded SRID (PostGIS wire form)
    raw = struct.pack(
        "<BIIddd", 1, G.WKB_POINT | 0x80000000 | 0x20000000, 4326, 1.0, 2.0, 3.0
    )
    g = G.parse_wkb(raw)
    assert g.has_z and G.geom_z(g) == 3.0
    # big-endian ISO Z point
    raw_be = struct.pack(">BIddd", 0, 1001, 1.0, 2.0, 3.0)
    g = G.parse_wkb(raw_be)
    assert g.has_z and G.geom_z(g) == 3.0 and g.coords[0][0, 0] == 1.0


def test_geometrycollection_roundtrip_and_measures():
    members = [
        G.wkb_point(1.0, 2.0),
        G.wkb_linestring([(0, 0), (3, 4)]),
        G.wkb_polygon([[(0, 0), (2, 0), (2, 2), (0, 2), (0, 0)]]),
    ]
    b = G.wkb_geometrycollection(members)
    g = G.parse_wkb(b)
    assert g.gtype == G.WKB_GEOMETRYCOLLECTION
    assert len(g.parts) == 3
    assert [p.gtype for p in g.parts] == [1, 2, 3]
    assert abs(G.geom_area(g) - 4.0) < 1e-12  # polygonal member only
    assert G.geom_to_wkb(g) == b
    # nested collection
    nested = G.wkb_geometrycollection([b, G.wkb_point(9.0, 9.0)])
    gn = G.parse_wkb(nested)
    assert len(gn.parts) == 2 and len(gn.parts[0].parts) == 3
    assert G.geom_to_wkb(gn) == nested


def test_collection_z_propagates():
    b = G.wkb_geometrycollection(
        [G.wkb_point(0.0, 0.0), G.wkb_point(1.0, 1.0, 5.0)]
    )
    g = G.parse_wkb(b)
    assert g.has_z  # any Z member marks the collection
    assert g.type_name == "GEOMETRYCOLLECTION Z"


# ---------------------------------------------------------------------------
# ISO curve types: linearized on parse (ogr_core.h:422-452,
# OGRGeometryFactory::curveToLineString, OGR_ARC_STEPSIZE=4°)
# ---------------------------------------------------------------------------

import math
import struct


def _wkb_circularstring(pts):
    a = np.asarray(pts, dtype=np.float64)
    return struct.pack("<BII", 1, G.WKB_CIRCULARSTRING, len(a)) + a.tobytes()


def test_circularstring_semicircle():
    b = _wkb_circularstring([(0, 0), (1, 1), (2, 0)])
    g = G.parse_wkb(b)
    assert g.gtype == G.WKB_LINESTRING
    c = g.coords[0]
    assert tuple(c[0]) == (0, 0) and tuple(c[-1]) == (2, 0)
    # all points on the unit circle about (1, 0)
    r = np.hypot(c[:, 0] - 1.0, c[:, 1])
    assert np.abs(r - 1.0).max() < 1e-12
    # arc length ~ pi at 4-degree resolution
    d = np.diff(c, axis=0)
    ln = np.sqrt((d * d).sum(axis=1)).sum()
    assert abs(ln - math.pi) < 2e-3
    # segments spaced <= 4 degrees
    assert len(c) - 1 >= math.ceil(180 / 4)


def test_curvepolygon_full_circle_area():
    ring = _wkb_circularstring([(-1, 0), (1, 0), (-1, 0)])
    b = struct.pack("<BII", 1, G.WKB_CURVEPOLYGON, 1) + ring
    g = G.parse_wkb(b)
    assert g.gtype == G.WKB_POLYGON
    # inscribed-90-gon deficit: pi - (n/2)sin(2pi/n) ~ 0.0026
    assert abs(G.geom_area(g) - math.pi) < 3e-3
    # ring is closed
    assert np.array_equal(g.rings[0][0], g.rings[0][-1])


def test_compoundcurve_mixed():
    ls = G.wkb_linestring([(2, 0), (4, 0)])
    cs = _wkb_circularstring([(0, 0), (1, 1), (2, 0)])
    b = struct.pack("<BII", 1, G.WKB_COMPOUNDCURVE, 2) + cs + ls
    g = G.parse_wkb(b)
    assert g.gtype == G.WKB_LINESTRING
    c = g.coords[0]
    assert tuple(c[0]) == (0, 0) and tuple(c[-1]) == (4, 0)
    # junction point not duplicated
    assert (np.all(c == np.array([2.0, 0.0]), axis=1)).sum() == 1


def test_multicurve_multisurface():
    cs = _wkb_circularstring([(0, 0), (1, 1), (2, 0)])
    mc = struct.pack("<BII", 1, G.WKB_MULTICURVE, 2) + cs + G.wkb_linestring(
        [(5, 5), (6, 6)]
    )
    g = G.parse_wkb(mc)
    assert g.gtype == G.WKB_MULTILINESTRING and len(g.parts) == 2
    ring = _wkb_circularstring([(-1, 0), (1, 0), (-1, 0)])
    cp = struct.pack("<BII", 1, G.WKB_CURVEPOLYGON, 1) + ring
    ms = struct.pack("<BII", 1, G.WKB_MULTISURFACE, 1) + cp
    g = G.parse_wkb(ms)
    assert g.gtype == G.WKB_MULTIPOLYGON
    assert abs(G.geom_area(g) - math.pi) < 3e-3


def test_collinear_circularstring_is_chord():
    b = _wkb_circularstring([(0, 0), (1, 0), (2, 0)])
    g = G.parse_wkb(b)
    assert len(g.coords[0]) == 2  # degenerate arc -> straight chord


def test_centroid_orientation_invariant():
    # regression: CW rings (shapefile exterior orientation) used to
    # come back with both centroid coordinates negated
    ccw = G.parse_wkb(G.wkb_polygon([[(1, 2), (5, 2), (5, 6), (1, 6), (1, 2)]]))
    cw = G.parse_wkb(G.wkb_polygon([[(1, 2), (1, 6), (5, 6), (5, 2), (1, 2)]]))
    assert G.geom_centroid(ccw) == (3.0, 4.0)
    assert G.geom_centroid(cw) == (3.0, 4.0)
    # hole subtracts regardless of its stored orientation sign handling
    holed = G.parse_wkb(G.wkb_polygon(
        [[(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)],
         [(0, 0), (5, 0), (5, 5), (0, 5), (0, 0)]]))
    cx, cy = G.geom_centroid(holed)
    assert abs(cx - 35 / 6) < 1e-12 and abs(cy - 35 / 6) < 1e-12
