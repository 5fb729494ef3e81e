"""Golden-value tests ported verbatim from /root/reference/geomath_test.go."""

import numpy as np
import pytest
from hypothesis import given, strategies as st

from osm2ch_spark import geom

P1 = (37.6417350769043, 55.751849391735284)
P2 = (37.668514251708984, 55.73261980350401)

LINE20 = np.array(
    [
        (37.396747, 55.8321), (37.397111, 55.831987), (37.397222, 55.831927),
        (37.397322, 55.831851), (37.397384, 55.83177), (37.397415, 55.831684),
        (37.397407, 55.831605), (37.397363, 55.831525), (37.397283, 55.83144),
        (37.39717, 55.831367), (37.397001, 55.831313), (37.39682, 55.831286),
        (37.39662, 55.83129), (37.396464, 55.831311), (37.396345, 55.831346),
        (37.396202, 55.83141), (37.396123, 55.831459), (37.396059, 55.831517),
        (37.396013, 55.831591), (37.395989, 55.831674),
    ]
)


def test_middle_point_segment():
    # geomath_test.go:7-24 — exact float equality
    lon, lat = geom.middle_point_segment(P1, P2)
    assert lon == 37.65512796336629
    assert lat == 55.742235325526806


def test_great_circle_distance():
    # geomath_test.go:26-40 — within 5e-4 km
    d = float(geom.great_circle_distance(P1[0], P1[1], P2[0], P2[1]))
    assert abs(d - 2.71693096539) < 5e-4


def test_find_centroid():
    # geomath_test.go:49-80 — exact
    lon, lat = geom.find_centroid(LINE20)
    assert lon == 37.39680299905517
    assert lat == 55.83157265108678


def test_find_middle_point():
    # geomath_test.go:82-117 — exact, cut index 9
    idx, (lon, lat) = geom.find_middle_point(LINE20)
    assert idx == 9
    assert lon == 37.39712087557048
    assert lat == 55.83135130343672


def test_radius_curvature():
    # geomath_test.go:119-147 — within 1e-8
    r = geom.calc_radius_curvature(LINE20)
    assert abs(r - 47.22026299802612925305) < 1e-8


def test_find_middle_point_zero_length():
    # geomath.go:143-161 edge case: loop never satisfied → (0, (0,0))
    idx, pt = geom.find_middle_point(np.array([(1.0, 2.0), (1.0, 2.0)]))
    assert idx == 0 and pt == (0.0, 0.0)
    idx, pt = geom.find_middle_point(np.zeros((0, 2)))
    assert idx == 0 and pt == (0.0, 0.0)


def test_spherical_length_edges():
    assert geom.spherical_length(np.zeros((0, 2))) == 0.0
    assert geom.spherical_length(np.array([P1])) == 0.0
    two = geom.spherical_length(np.array([P1, P2]))
    assert abs(two - 2.71693096539) < 5e-4


def test_reverse_line():
    rev = geom.reverse_line(LINE20)
    assert np.array_equal(rev, LINE20[::-1])
    assert np.array_equal(geom.reverse_line(rev), LINE20)


def test_wkt():
    # converter_wkt.go:9-20 — Go %f is 6-decimal fixed
    assert geom.wkt_point(P1) == "POINT(37.641735 55.751849)"
    s = geom.wkt_linestring(np.array([P1, P2]))
    assert s == "LINESTRING(37.641735 55.751849,37.668514 55.732620)"


@given(st.floats(min_value=-180, max_value=180, allow_nan=False))
def test_go_float_parity_property(x):
    """Python {:.6f} must be fixed 6 decimals, no exponent — Go %f parity."""
    s = geom.go_float(x)
    assert "e" not in s and "E" not in s
    whole, frac = s.split(".")
    assert len(frac) == 6
    # round-trip error bounded by half an ulp of the 6th decimal
    assert abs(float(s) - x) <= 5e-7 + 1e-12


def test_geojson():
    # converter_geojson.go:10-31 — parsed-value equality (Go shortest-float
    # repr differs from Python's in edge cases; byte parity not claimed)
    import json

    s = geom.geojson_linestring(np.array([P1, P2]))
    d = json.loads(s)
    assert d["type"] == "LineString"
    assert np.allclose(d["coordinates"], [list(P1), list(P2)], atol=0)
    p = json.loads(geom.geojson_point(P1))
    assert p == {"type": "Point", "coordinates": [P1[0], P1[1]]}


def test_radius_curvature_degenerate():
    """geomath.go:26-39 on degenerate lines: n==2 → 0/0 = NaN; n<2 →
    0/(n-2) = -0.0 — Go semantics without a Python ZeroDivisionError."""
    import math

    assert math.isnan(geom.calc_radius_curvature(np.array([P1, P2])))
    r1 = geom.calc_radius_curvature(np.array([P1]))
    assert r1 == 0.0 and math.copysign(1.0, r1) == -1.0
    r0 = geom.calc_radius_curvature(np.zeros((0, 2)))
    assert r0 == 0.0 and math.copysign(1.0, r0) == -1.0


def test_find_middle_point_many_parity():
    """Vectorized G6 must be BIT-identical to the scalar walk on ragged
    batches incl. the Go zero-value edge cases."""
    rng = np.random.default_rng(7)
    lines = [
        np.zeros((0, 2)),                      # empty
        np.array([[37.5, 55.5]]),              # single point
        np.array([[37.5, 55.5], [37.5, 55.5]]),  # zero length
        np.array([[0.0, 0.0], [1.0, 0.0], [2.0, 0.0]]),  # exact tie at half
        # degenerate two-point corners:
        np.array([[0.0, 0.0], [5e-324, 0.0]]),   # subnormal t: t/2 underflows
        np.array([[0.0, 0.0], [1e308, 1e308]]),  # t overflows to inf → NaN mid
    ]
    for n in (2, 3, 5, 17, 130, 600, 5000):
        for _ in range(5):
            lines.append(rng.uniform(-90, 90, size=(n, 2)))
    flat = np.concatenate([l.reshape(-1, 2) for l in lines])
    offsets = np.concatenate([[0], np.cumsum([len(l) for l in lines])])
    bi, mlon, mlat = geom.find_middle_point_many(flat[:, 0], flat[:, 1], offsets)
    def same_bits(a, b):
        return np.float64(a).tobytes() == np.float64(b).tobytes() or (
            np.isnan(a) and np.isnan(b)
        )

    for i, line in enumerate(lines):
        si, (sx, sy) = geom.find_middle_point(line)
        assert bi[i] == si, f"line {i}: idx {bi[i]} != {si}"
        assert same_bits(mlon[i], sx) and same_bits(mlat[i], sy), (
            f"line {i}: midpoint bits differ"
        )


def test_find_middle_point_many_memory_is_linear():
    """One long line in a batch of short ones must not pad the batch to
    its length: 2,000 three-point lines plus one 4,000-point line stay
    far below a (lines x longest line) matrix (~200 MB)."""
    import tracemalloc

    rng = np.random.default_rng(3)
    lines = [rng.uniform(37, 38, size=(3, 2)) for _ in range(2000)]
    lines.append(rng.uniform(37, 38, size=(4000, 2)))
    flat = np.concatenate(lines)
    offsets = np.concatenate([[0], np.cumsum([len(l) for l in lines])])
    tracemalloc.start()
    try:
        geom.find_middle_point_many(flat[:, 0], flat[:, 1], offsets)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 16 * 2**20, f"peak {peak / 2**20:.1f} MB"
