"""Poly-mode DB decode kernels (kernels/db_poly) — golden unit tests.

Reference semantics: toddleocr/postprocess/db.py:38-84 (poly mode),
db.py:35,213-216 (use_dilation), utils/utility.py:252-261 (clip-only
filter).
"""

import math

import numpy as np
import pytest

from paddleocr_spark.corpus import (
    POLY_SHAPE_LIST,
    poly_map_count,
    poly_map_record,
)
from paddleocr_spark.kernels.db import DBParams
from paddleocr_spark.kernels.db_poly import (
    approx_poly_dp,
    arc_length,
    db_postprocess_poly,
    dilate_2x2,
    find_contours,
    offset_polygon_round,
    polygon_mask_mean_eo,
    polygons_from_bitmap,
)


def _arc_blob(h=96, w=128, cy=80.0, cx=64.0, r0=30, r1=44,
              a0=0.4, a1=2.6):
    yy, xx = np.mgrid[0:h, 0:w].astype(float)
    r = np.hypot(yy - cy, xx - cx)
    ang = np.arctan2(cy - yy, xx - cx)
    return (r > r0) & (r < r1) & (ang > a0) & (ang < a1)


class TestDilate:
    def test_matches_bruteforce_maxfilter(self):
        rng = np.random.default_rng(7)
        b = rng.random((20, 30)) > 0.7
        got = dilate_2x2(b)
        # anchor (1,1): out(y,x) = max of in over [y-1..y, x-1..x]
        exp = np.zeros_like(b)
        for y in range(20):
            for x in range(30):
                exp[y, x] = b[max(0, y - 1):y + 1,
                              max(0, x - 1):x + 1].any()
        assert (got == exp).all()

    def test_bridges_one_pixel_gap(self):
        b = np.zeros((10, 20), bool)
        b[3:7, 2:8] = True
        b[3:7, 9:15] = True  # column 8 gap
        d = dilate_2x2(b)
        assert len(find_contours(d)) == 1
        assert len(find_contours(b)) == 2


class TestContours:
    def test_rectangle_four_corners(self):
        m = np.zeros((10, 12), bool)
        m[2:6, 3:9] = True
        (c,) = find_contours(m)
        assert c.tolist() == [[3, 2], [8, 2], [8, 5], [3, 5]]

    def test_single_pixel(self):
        m = np.zeros((5, 5), bool)
        m[2, 3] = True
        (c,) = find_contours(m)
        assert c.tolist() == [[3, 2]]

    def test_l_shape_inner_corner_diagonal(self):
        m = np.zeros((12, 12), bool)
        m[2:10, 2:5] = True
        m[7:10, 2:10] = True
        (c,) = find_contours(m)
        # 8-connected border following steps DIAGONALLY across the
        # inner corner (4,6)->(5,7), exactly as cv2's outer border does
        assert c.tolist() == [[2, 2], [4, 2], [4, 6], [5, 7],
                              [9, 7], [9, 9], [2, 9]]

    def test_raster_order_and_count(self):
        m = np.zeros((20, 20), bool)
        m[12:15, 2:6] = True
        m[2:5, 10:16] = True
        cs = find_contours(m)
        assert len(cs) == 2
        assert cs[0][0, 1] < cs[1][0, 1]  # top component first


class TestApproxDP:
    def test_collinear_points_removed(self):
        pts = [[x, 0] for x in range(10)] + [[9, 5]] + \
              [[x, 10] for x in range(9, -1, -1)] + [[0, 5]]
        out = approx_poly_dp(np.array(pts, float), 0.5)
        assert len(out) == 4
        assert {tuple(p) for p in out.tolist()} == {
            (0, 0), (9, 0), (9, 10), (0, 10)}

    def test_eps_controls_detail(self):
        # regular 32-gon: tiny eps keeps it, huge eps collapses it
        ang = np.linspace(0, 2 * np.pi, 33)[:-1]
        poly = np.stack([50 + 40 * np.cos(ang), 50 + 40 * np.sin(ang)], 1)
        fine = approx_poly_dp(poly, 0.01)
        coarse = approx_poly_dp(poly, 15.0)
        assert len(fine) == 32
        assert len(coarse) < 8

    def test_arc_length_square(self):
        sq = np.array([[0, 0], [4, 0], [4, 3], [0, 3]], float)
        assert arc_length(sq, closed=True) == 14.0
        assert arc_length(sq, closed=False) == 11.0


class TestMaskMean:
    def test_axis_rect_exact(self):
        pred = np.arange(100, dtype=np.float64).reshape(10, 10) / 100
        poly = np.array([[2, 3], [7, 3], [7, 6], [2, 6]], float)
        got = polygon_mask_mean_eo(pred, poly)
        assert got == pytest.approx(pred[3:7, 2:8].mean())

    def test_nonconvex_excludes_notch(self):
        pred = np.ones((20, 20))
        # U shape: the notch interior must NOT count
        poly = np.array([[2, 2], [17, 2], [17, 17], [12, 17], [12, 7],
                         [7, 7], [7, 17], [2, 17]], float)
        pred2 = np.zeros((20, 20))
        pred2[3:17, 8:12] = 1.0  # energy only inside the notch
        # the notch columns only intersect the polygon near the top bar
        assert polygon_mask_mean_eo(pred2, poly) < 0.25


class TestOffset:
    def test_square_area_growth(self):
        sq = np.array([[10, 10], [40, 10], [40, 30], [10, 30]], float)
        d = 5.0
        off = offset_polygon_round(sq, d)
        assert off is not None
        # Minkowski area = A + P*d + pi*d^2; raster quantization ~ few px^2
        from paddleocr_spark.kernels.geometry import polygon_area
        exp = 600 + 100 * d + math.pi * d * d
        assert polygon_area(off) == pytest.approx(exp, rel=0.03)

    def test_contains_original(self):
        sq = np.array([[10, 10], [40, 10], [40, 30], [10, 30]], float)
        off = offset_polygon_round(sq, 4.0)
        assert off[:, 0].min() < 10 and off[:, 0].max() > 40
        assert off[:, 1].min() < 10 and off[:, 1].max() > 30

    def test_concave_arc_resolves_overlaps(self):
        blob = _arc_blob()
        (c,) = find_contours(blob)
        ap = approx_poly_dp(c, 0.002 * arc_length(c))
        from paddleocr_spark.kernels.geometry import (
            polygon_area,
            polygon_perimeter,
        )
        d = polygon_area(ap) * 2.0 / polygon_perimeter(ap)
        off = offset_polygon_round(ap, d)
        assert off is not None and len(off) >= 8

    def test_zero_distance_identity(self):
        sq = np.array([[0, 0], [4, 0], [4, 4], [0, 4]], float)
        assert (offset_polygon_round(sq, 0.0) == sq).all()


class TestPolygonsFromBitmap:
    def test_arc_decodes_to_polygon(self):
        blob = _arc_blob()
        pm = (blob * 0.9 + 0.05).astype(np.float32)
        polys, scores = polygons_from_bitmap(pm, blob, 128, 96)
        assert len(polys) == 1
        assert len(polys[0]) >= 4
        assert scores[0] > 0.8

    def test_box_thresh_filters(self):
        blob = _arc_blob()
        pm = (blob * 0.5 + 0.05).astype(np.float32)  # score ~0.5 < 0.7
        polys, _ = polygons_from_bitmap(pm, blob, 128, 96)
        assert polys == []

    def test_min_size_filters_tiny(self):
        m = np.zeros((32, 32), bool)
        m[5:7, 5:7] = True
        pm = (m * 0.95 + 0.02).astype(np.float32)
        polys, _ = polygons_from_bitmap(pm, m, 32, 32)
        assert polys == []

    def test_max_candidates_cap(self):
        m = np.zeros((40, 40), bool)
        for i in range(4):
            m[2 + 9 * i:8 + 9 * i, 2:30] = True
        pm = (m * 0.95 + 0.02).astype(np.float32)
        p_all, _ = polygons_from_bitmap(pm, m, 40, 40)
        p_cap, _ = polygons_from_bitmap(
            pm, m, 40, 40, DBParams(max_candidates=2))
        assert len(p_all) == 4 and len(p_cap) == 2


class TestPostprocessPoly:
    def test_rescale_and_clip(self):
        blob = _arc_blob()
        pm = (blob * 0.9 + 0.05).astype(np.float32)
        polys, scores = db_postprocess_poly(pm, POLY_SHAPE_LIST)
        assert polys
        for q in polys:
            assert q[:, 0].min() >= 0 and q[:, 0].max() <= 255
            assert q[:, 1].min() >= 0 and q[:, 1].max() <= 191
            # dest coords are 2x the map: spread must reflect rescale
        assert polys[0][:, 0].max() > 128

    def test_dilation_merges(self):
        b = np.zeros((48, 64), bool)
        b[10:20, 4:30] = True
        b[10:20, 31:58] = True  # 1-px gap
        pm = (b * 0.9 + 0.05).astype(np.float32)
        with_d, _ = db_postprocess_poly(pm, [48, 64, 1, 1],
                                        use_dilation=True)
        without, _ = db_postprocess_poly(pm, [48, 64, 1, 1],
                                         use_dilation=False)
        assert len(with_d) == 1 and len(without) == 2

    def test_deterministic_over_fixtures(self):
        for mid in (0, 3, 11):
            pm = poly_map_record(mid)
            a = db_postprocess_poly(pm, POLY_SHAPE_LIST)
            b = db_postprocess_poly(pm, POLY_SHAPE_LIST)
            assert len(a[0]) == len(b[0]) and a[1] == b[1]
            assert all((x == y).all() for x, y in zip(a[0], b[0]))

    def test_fixture_corpus_yields_polys(self):
        n = poly_map_count(500)
        total = sum(
            len(db_postprocess_poly(poly_map_record(m), POLY_SHAPE_LIST)[0])
            for m in range(0, n, 7))
        assert total > 0


class TestPolyProperties:
    """Property tests over random fixtures — invariants the poly
    kernels must hold on ANY input, not just goldens."""

    def test_offset_contains_input_vertices(self):
        # outward offset region must contain every input vertex
        from paddleocr_spark.kernels.db_poly import _trace_component  # noqa: F401
        rng = np.random.default_rng(11)
        for trial in range(20):
            n = int(rng.integers(4, 9))
            ang = np.sort(rng.uniform(0, 2 * np.pi, n))
            rad = rng.uniform(8, 20, n)
            poly = np.stack([40 + rad * np.cos(ang),
                             40 + rad * np.sin(ang)], 1)
            d = float(rng.uniform(1.0, 6.0))
            off = offset_polygon_round(poly, d)
            if off is None:
                continue  # legitimately multi-polygon/degenerate
            # even-odd point-in-polygon for each input vertex
            for (px, py) in poly:
                inside = False
                m = len(off)
                for i in range(m):
                    x0, y0 = off[i]
                    x1, y1 = off[(i + 1) % m]
                    if (y0 > py) != (y1 > py):
                        xi = x0 + (py - y0) * (x1 - x0) / (y1 - y0)
                        if px < xi:
                            inside = not inside
                assert inside, (trial, (px, py))

    def test_approx_dp_subset_and_tolerance(self):
        rng = np.random.default_rng(5)
        for trial in range(15):
            n = int(rng.integers(8, 40))
            ang = np.sort(rng.uniform(0, 2 * np.pi, n))
            rad = rng.uniform(10, 30, n)
            poly = np.stack([50 + rad * np.cos(ang),
                             50 + rad * np.sin(ang)], 1)
            eps = float(rng.uniform(0.2, 3.0))
            out = approx_poly_dp(poly, eps)
            # vertex subset
            src = {tuple(p) for p in poly.tolist()}
            assert all(tuple(p) in src for p in out.tolist())
            # every dropped vertex within eps of the kept closed chain
            import math as _m
            kept = out.tolist()
            for p in poly.tolist():
                if tuple(p) in {tuple(q) for q in kept}:
                    continue
                dmin = min(
                    _seg_dist(p, kept[i], kept[(i + 1) % len(kept)])
                    for i in range(len(kept)))
                assert dmin <= eps + 1e-9

    def test_dilate_superset_and_shape(self):
        rng = np.random.default_rng(3)
        for _ in range(10):
            b = rng.random((20, 30)) > 0.8
            d = dilate_2x2(b)
            assert (d | b == d).all()  # monotone: superset of input
            assert d.sum() >= b.sum()

    def test_contour_roundtrip_fill(self):
        # filling the traced contour must reproduce a convex component
        m = np.zeros((30, 30), bool)
        m[5:20, 8:25] = True
        (c,) = find_contours(m)
        from paddleocr_spark.kernels.db_poly import polygon_mask_mean_eo
        # mean of the mask over its own contour polygon == 1.0
        assert polygon_mask_mean_eo(m.astype(np.float64), c) == 1.0


def _seg_dist(p, a, b):
    import math as _m
    ax, ay = a
    bx, by = b
    ex, ey = bx - ax, by - ay
    ln2 = ex * ex + ey * ey
    if ln2 == 0:
        return _m.hypot(p[0] - ax, p[1] - ay)
    t = max(0.0, min(1.0, ((p[0] - ax) * ex + (p[1] - ay) * ey) / ln2))
    return _m.hypot(p[0] - (ax + t * ex), p[1] - (ay + t * ey))


def test_det_polygons_follows_corpus_seed(spark):
    """The distributed decode and its sequential twin agree at a
    non-default corpus seed, and the seed changes the maps."""
    from paddleocr_spark.golden import det_polygon_rows
    from paddleocr_spark.operators.det_poly import det_polygons

    sf = "/root/testdata/sf0.001"
    cols = ("map_id", "poly_idx", "point_idx", "x", "y", "score_micro")
    got = [tuple(r) for r in det_polygons(spark, sf, seed=7).collect()]
    want = [tuple(r[c] for c in cols) for r in det_polygon_rows(500, 7)]
    assert got == want
    assert want != [tuple(r[c] for c in cols)
                    for r in det_polygon_rows(500, 42)]
