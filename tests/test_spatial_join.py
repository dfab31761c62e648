"""Spatial join / kNN / OGR-join correctness vs brute-force NumPy oracle."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gdal_spark.functions import geometry as G
from gdal_spark.operators import spatial_join as SJ
from gdal_spark.operators.knn import knn_join
from gdal_spark.operators.ogr_join import first_match_left_join
from gdal_spark.sources import synth


@pytest.fixture(scope="module")
def pts(spark, sf_dir):
    return synth.points(spark, sf_dir).cache()


@pytest.fixture(scope="module")
def aoi(spark, sf_dir):
    return synth.aoi(spark, sf_dir).cache()


def brute_pip(pts_rows, aoi_rows):
    out = set()
    for p in pts_rows:
        for a in aoi_rows:
            if a.lon_min <= p.lon <= a.lon_max and a.lat_min <= p.lat <= a.lat_max:
                out.add((p.pt_id, a.poly_id))
    return out


def test_pip_join_matches_bruteforce(spark, pts, aoi):
    got = SJ.point_in_polygon_join(pts, aoi)
    got_pairs = {(r.pt_id, r.poly_id) for r in got.select("pt_id", "poly_id").collect()}
    exp = brute_pip(pts.collect(), aoi.collect())
    assert got_pairs == exp
    assert len(exp) > 0


def test_pip_join_salted_same_result(spark, skewed_points, aoi):
    n = skewed_points.count()
    hot = SJ.hot_cells(SJ.with_point_cell(skewed_points), threshold=n // 20)
    assert hot, "no hot cell: the join would not salt"
    got = SJ.point_in_polygon_join(skewed_points, aoi, salt=4, hot=hot)
    got_pairs = {(r.pt_id, r.poly_id) for r in got.select("pt_id", "poly_id").collect()}
    exp = brute_pip(skewed_points.collect(), aoi.collect())
    assert got_pairs == exp


def test_pip_nonrect_polygon_with_hole(spark, pts):
    # triangle + square-with-hole polygons exercise the exact refine
    tri = G.wkb_polygon([[(-100, -50), (-20, -50), (-60, 40), (-100, -50)]])
    holed = G.wkb_polygon(
        [
            [(0, -60), (120, -60), (120, 60), (0, 60), (0, -60)],
            [(30, -30), (90, -30), (90, 30), (30, 30), (30, -30)],
        ]
    )
    polys = spark.createDataFrame(
        [
            (0, bytearray(tri), -100.0, -50.0, -20.0, 40.0),
            (1, bytearray(holed), 0.0, -60.0, 120.0, 60.0),
        ],
        "poly_id long, geom binary, lon_min double, lat_min double, lon_max double, lat_max double",
    )
    got = SJ.point_in_polygon_join(pts, polys)
    got_pairs = {(r.pt_id, r.poly_id) for r in got.select("pt_id", "poly_id").collect()}
    exp = set()
    gtri, ghol = G.parse_wkb(tri), G.parse_wkb(holed)
    for p in pts.collect():
        if G.points_in_geom(np.array([p.lon]), np.array([p.lat]), gtri)[0]:
            exp.add((p.pt_id, 0))
        if G.points_in_geom(np.array([p.lon]), np.array([p.lat]), ghol)[0]:
            exp.add((p.pt_id, 1))
    assert got_pairs == exp
    assert len(exp) > 0


def test_bbox_intersection_join(spark, sf_dir, aoi):
    fps = synth.footprints(spark, sf_dir)
    got = SJ.bbox_intersection_join(fps, aoi, refine=True)
    got_pairs = {(r.image_id, r.poly_id) for r in got.select("image_id", "poly_id").collect()}
    exp = set()
    for f in fps.collect():
        for a in aoi.collect():
            if (
                f.lon_min <= a.lon_max
                and a.lon_min <= f.lon_max
                and f.lat_min <= a.lat_max
                and a.lat_min <= f.lat_max
            ):
                exp.add((f.image_id, a.poly_id))
    assert got_pairs == exp
    assert len(exp) > 0


BOWTIE = [(0, 0), (1, 1), (1, 0), (0, 1), (0, 0)]
TRIANGLE = [(0, 0), (2, 2), (2, 0), (0, 0)]


def test_is_axis_rect_needs_alternating_nonzero_edges():
    def rect(ring):
        return SJ._is_axis_rect(G.parse_wkb(G.wkb_polygon([ring])))

    assert rect([(0, 0), (2, 0), (2, 1), (0, 1), (0, 0)])
    assert rect([(0, 0), (0, 1), (2, 1), (2, 0), (0, 0)])  # clockwise
    assert not rect(BOWTIE)  # two x and two y values, crossing edges
    assert not rect([(0, 0), (1, 0), (1, 0), (0, 1), (0, 0)])  # zero-length edge
    assert not rect([(0, 0), (2, 0), (2, 0), (0, 0), (0, 0)])  # zero height


def test_bbox_join_refines_bowtie_and_edge_line_touch(spark):
    """Neither pair intersects although the envelopes overlap: the
    bowtie is no rectangle, and the triangle's vertex (2, 2) lies on
    the line of the footprint's bottom edge, not on the edge itself.
    The third footprint overlaps the bowtie's right lobe."""
    polys = spark.createDataFrame(
        [
            (0, bytearray(G.wkb_polygon([BOWTIE])), 0.0, 0.0, 1.0, 1.0),
            (1, bytearray(G.wkb_polygon([TRIANGLE])), 0.0, 0.0, 2.0, 2.0),
        ],
        "poly_id long, geom binary, lon_min double, lat_min double, lon_max double, lat_max double",
    )
    fps = spark.createDataFrame(
        [("a", 0.4, 0.9, 0.6, 1.0), ("b", 0.5, 2.0, 1.5, 3.0), ("c", 0.8, 0.45, 0.9, 0.55)],
        "image_id string, lon_min double, lat_min double, lon_max double, lat_max double",
    )
    got = SJ.bbox_intersection_join(fps.filter(F.col("image_id") != "c"), polys)
    assert got.select("image_id", "poly_id").collect() == []
    got = SJ.bbox_intersection_join(fps, polys).select("image_id", "poly_id").collect()
    assert {(r.image_id, r.poly_id) for r in got} == {("c", 0), ("c", 1)}


def test_knn_matches_bruteforce(spark, pts, sf_dir):
    sites = synth.sites(spark, sf_dir)
    k = 5
    got = knn_join(pts.limit(40), sites, k=k)
    rows = got.collect()
    s_rows = sites.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.pt_id, []).append((r.rank, r.site_id, r.dist))
    q_rows = {p.pt_id: p for p in pts.limit(40).collect()}
    assert set(by_q) == set(q_rows)
    for qid, lst in by_q.items():
        q = q_rows[qid]
        d2 = sorted(
            (((s.lon - q.lon) ** 2 + (s.lat - q.lat) ** 2), s.site_id) for s in s_rows
        )
        exp = [sid for _, sid in d2[:k]]
        got_sites = [sid for _, sid, _ in sorted(lst)]
        assert got_sites == exp, qid
        assert len(lst) == k


def test_first_match_left_join(spark):
    prim = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, v string")
    # duplicate keys in secondary + a gap (k=3 unmatched)
    sec = spark.createDataFrame(
        [(10, 1, "x1"), (11, 1, "x2"), (12, 2, "y1")], "fid int, k int, name string"
    )
    out = first_match_left_join(prim, sec, "k", "k", "fid", prefix="s_")
    rows = {r.k: (r.s_name, r.s_fid) for r in out.collect()}
    assert rows[1] == ("x1", 10)  # first by FID, not x2
    assert rows[2] == ("y1", 12)
    assert rows[3] == (None, None)  # NULL-padded left row
    assert out.count() == 3  # exactly one row per primary row
