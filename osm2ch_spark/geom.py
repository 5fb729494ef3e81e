"""Geometry kernel — numpy ports of the reference's scalar geo-math.

Every function reproduces the exact semantics of the reference's
``geomath.go`` (G1–G11 in SURVEY.md §2.7) including the
nonstandard Earth radius (geomath.go:9) and edge cases of
``findMiddlePoint`` (geomath.go:143-161).  Lines are numpy arrays of shape
(n, 2) ordered ``(lon, lat)`` — Arrow-friendly and vectorizable inside
pandas UDFs; ``running_sums`` is the one place that sums ragged runs (the
W1 split's costs and midpoints), the scalar walks are its oracles.  No
Spark imports here: this module is pure numpy so the same code runs on
executors inside Arrow batches and on the driver in tests.
"""

from __future__ import annotations

import math

import numpy as np

from osm2ch_spark.gomath import go_atan2, go_cos, go_sin

# geomath.go:8-12 — nonstandard Earth radius, copied exactly.
EARTH_RADIUS_KM = 6370.986884258304
PI180 = np.pi / 180.0
PI180_REV = 180.0 / np.pi


def great_circle_distance(lon1, lat1, lon2, lat2):
    """Haversine distance in KILOMETERS — geomath.go:52-63 (G1).

    Vectorized: accepts scalars or equal-shaped numpy arrays.
    Uses atan2 form exactly as the reference does.
    """
    la1 = np.asarray(lat1, dtype=np.float64) * PI180
    lo1 = np.asarray(lon1, dtype=np.float64) * PI180
    la2 = np.asarray(lat2, dtype=np.float64) * PI180
    lo2 = np.asarray(lon2, dtype=np.float64) * PI180
    dlat = la2 - la1
    dlon = lo2 - lo1
    # Go: Pow(Sin(x),2) + Cos*Cos*Pow(Sin(y),2); Pow(s,2) ≡ s*s exactly.
    sdlat = go_sin(dlat / 2.0)
    sdlon = go_sin(dlon / 2.0)
    a = sdlat * sdlat + go_cos(la1) * go_cos(la2) * (sdlon * sdlon)
    c = 2.0 * go_atan2(np.sqrt(a), np.sqrt(1.0 - a))
    return c * EARTH_RADIUS_KM


def spherical_length(line: np.ndarray) -> float:
    """Sum of haversine over consecutive pairs, km — geomath.go:66-75 (G2).

    ``line``: (n,2) array of (lon, lat). <2 points → 0.0.
    Summation order matches the Go loop (left-to-right) for float parity.
    """
    line = np.asarray(line, dtype=np.float64)
    if line.shape[0] < 2:
        return 0.0
    d = great_circle_distance(line[:-1, 0], line[:-1, 1], line[1:, 0], line[1:, 1])
    # Go accumulates left-to-right; np.add.reduce does the same for 1-D.
    total = 0.0
    for v in d:
        total += v
    return float(total)


def middle_point_segment(p, q):
    """Geodesic midpoint of two (lon, lat) points — geomath.go:78-90 (G3)."""
    lat1 = p[1] * PI180
    lon1 = p[0] * PI180
    lat2 = q[1] * PI180
    lon2 = q[0] * PI180
    # gomath kernels match Go's math package bit-for-bit (golden tests
    # assert exact float equality; libm is 1 ulp off on some inputs).
    bx = go_cos(lat2) * go_cos(lon2 - lon1)
    by = go_cos(lat2) * go_sin(lon2 - lon1)
    lat_mid = go_atan2(
        go_sin(lat1) + go_sin(lat2),
        math.sqrt((go_cos(lat1) + bx) * (go_cos(lat1) + bx) + by * by),
    )
    lon_mid = lon1 + go_atan2(by, go_cos(lat1) + bx)
    return (lon_mid * PI180_REV, lat_mid * PI180_REV)


def find_centroid(line: np.ndarray):
    """Spherical centroid — geomath.go:93-120 (G4). Returns (lon, lat)."""
    line = np.asarray(line, dtype=np.float64)
    n = line.shape[0]
    if n == 1:
        return (float(line[0, 0]), float(line[0, 1]))
    lon = line[:, 0] * PI180
    lat = line[:, 1] * PI180
    c1 = go_cos(lat)
    # left-to-right accumulation for exact float parity with the Go loop
    x = y = z = 0.0
    cx = c1 * go_cos(lon)
    cy = c1 * go_sin(lon)
    cz = go_sin(lat)
    for i in range(n):
        x += cx[i]
        y += cy[i]
        z += cz[i]
    x /= n
    y /= n
    z /= n
    central_lon = go_atan2(y, x)
    central_sqrt = math.sqrt(x * x + y * y)
    central_lat = go_atan2(z, central_sqrt)
    return (central_lon * PI180_REV, central_lat * PI180_REV)


def point_on_segment_by_fraction(p, q, fraction):
    """Linear interpolation — geomath.go:173-178 (G11 helper)."""
    return (
        (1.0 - fraction) * p[0] + fraction * q[0],
        (1.0 - fraction) * p[1] + fraction * q[1],
    )


def find_middle_point(line: np.ndarray):
    """Walk the line to half its EUCLIDEAN length — geomath.go:143-161 (G6).

    Returns ``(index_before_middle, (lon, lat))``.  Replicates the Go edge
    cases exactly: a zero-length / empty line never satisfies the loop
    condition ``half <= cl && half > ol`` and yields ``(0, (0.0, 0.0))``
    (Go zero values).  The last satisfying segment wins (loop keeps
    scanning), matching geomath.go:150-159.
    """
    line = np.asarray(line, dtype=np.float64)
    n = line.shape[0]
    idx = 0
    result = (0.0, 0.0)
    if n < 2:
        return idx, result
    dx = np.diff(line[:, 0])
    dy = np.diff(line[:, 1])
    seg = np.sqrt(dx * dx + dy * dy)
    # Go computes euclideanLength with its own accumulation; reproduce it.
    total = 0.0
    for v in seg:
        total += v
    half = total / 2.0
    cl = 0.0
    for i in range(1, n):
        ol = cl
        tmp = seg[i - 1]
        cl += tmp
        if half <= cl and half > ol:
            half_sub = half - ol
            result = point_on_segment_by_fraction(line[i - 1], line[i], half_sub / tmp)
            idx = i - 1
    return idx, result


def running_sums(values, starts, lens):
    """Left-to-right running sum of every run ``values[s:s+n]``.

    Runs (``starts``, ``lens``) must not overlap; the result has the
    layout of ``values`` (0.0 outside every run).  Each run accumulates
    ``acc + v`` in the Go ``c += v`` loop order, so every partial sum is
    bit-identical to the scalar walk.  One numpy step per position over
    the runs still that long (longest first): O(len(values)) memory.
    """
    values = np.asarray(values, dtype=np.float64)
    lens = np.asarray(lens, dtype=np.int64)
    out = np.zeros_like(values)
    order = np.argsort(-lens, kind="stable")
    s = np.asarray(starts, dtype=np.int64)[order]
    L = int(lens.max(initial=0))
    # runs longer than j: a prefix of the longest-first order
    active = len(lens) - np.cumsum(np.bincount(lens, minlength=L))[:L]
    acc = np.zeros(len(s), dtype=np.float64)
    for j in range(L):
        m = active[j]
        p = s[:m] + j
        acc[:m] += values[p]
        out[p] = acc[:m]
    return out


def find_middle_point_many(flat_lons, flat_lats, offsets):
    """Vectorized G6 over a ragged batch of lines.

    ``flat_lons``/``flat_lats``: all lines' points concatenated;
    ``offsets``: (n_lines+1) prefix offsets.  Returns
    ``(idx, mid_lon, mid_lat)`` arrays, bit-identical per line to
    :func:`find_middle_point`: the running planar lengths ``cl`` come
    from :func:`running_sums` (the Go accumulation order), ``ol`` is the
    previous ``cl`` within the line, ``half <= cl and half > ol`` is
    tested on every segment at once and the last hit per line wins.
    Lines without a hit keep the Go zero value ``(0, 0.0, 0.0)``.
    """
    x = np.asarray(flat_lons, dtype=np.float64)
    y = np.asarray(flat_lats, dtype=np.float64)
    offsets = np.asarray(offsets, dtype=np.int64)
    E = len(offsets) - 1
    idx_out = np.zeros(E, dtype=np.int64)
    mlon = np.zeros(E, dtype=np.float64)
    mlat = np.zeros(E, dtype=np.float64)
    # planar segment lengths over flat consecutive pairs; cross-line
    # pairs are computed but never read back
    dx = x[1:] - x[:-1]
    dy = y[1:] - y[:-1]
    seg = np.sqrt(dx * dx + dy * dy)
    starts = offsets[:-1]
    nseg = np.maximum(np.diff(offsets) - 1, 0)
    cl = running_sums(seg, starts, nseg)
    half = np.zeros(E, dtype=np.float64)
    has = nseg > 0
    half[has] = cl[starts[has] + nseg[has] - 1] / 2.0
    # every segment of every line: its line and its flat position
    line = np.repeat(np.arange(E), nseg)
    pos = np.arange(len(line)) + np.repeat(starts - (np.cumsum(nseg) - nseg), nseg)
    c = cl[pos]
    o = np.where(pos == starts[line], 0.0, cl[pos - 1])
    hit = np.flatnonzero((half[line] <= c) & (half[line] > o))[::-1]
    g, k = np.unique(line[hit], return_index=True)  # the last hit wins
    h = hit[k]
    p = pos[h]
    frac = (half[g] - o[h]) / seg[p]
    idx_out[g] = p - starts[g]
    mlon[g] = (1.0 - frac) * x[p] + frac * x[p + 1]
    mlat[g] = (1.0 - frac) * y[p] + frac * y[p + 1]
    return idx_out, mlon, mlat


def calc_radius_curvature(line: np.ndarray) -> float:
    """Mean circumradius (Heron) over point triples ×1000 — geomath.go:26-39 (G9)."""
    line = np.asarray(line, dtype=np.float64)
    n = line.shape[0]
    if n == 2:
        # Go returns 0.0/0.0 = NaN (geomath.go:38); Python int division
        # would raise ZeroDivisionError instead
        return float("nan")
    rs = 0.0
    for i in range(1, n - 1):
        a = float(great_circle_distance(line[i - 1, 0], line[i - 1, 1], line[i, 0], line[i, 1]))
        b = float(great_circle_distance(line[i, 0], line[i, 1], line[i + 1, 0], line[i + 1, 1]))
        c = float(great_circle_distance(line[i - 1, 0], line[i - 1, 1], line[i + 1, 0], line[i + 1, 1]))
        p = (a + b + c) / 2.0
        s = np.sqrt(p * (p - a) * (p - b) * (p - c))
        r = (a * b * c) / (4.0 * s)
        rs += r
    return float(1000.0 * rs / (n - 2))


def reverse_line(line: np.ndarray) -> np.ndarray:
    """geomath.go:181-189 (G8)."""
    return np.asarray(line, dtype=np.float64)[::-1].copy()


def go_float(x: float) -> str:
    """Go ``fmt.Sprintf("%f", x)`` parity: 6-decimal fixed point.

    Both Go strconv and Python format round correctly (shortest correctly
    rounded decimal, ties-to-even at the digit level), so ``{:.6f}`` is
    byte-identical — verified by tests/test_geom.py.
    """
    return f"{x:.6f}"


def wkt_linestring(line) -> str:
    """converter_wkt.go:9-15 (G12)."""
    return "LINESTRING(%s)" % ",".join(f"{p[0]:.6f} {p[1]:.6f}" for p in np.asarray(line))


def wkt_point(p) -> str:
    """converter_wkt.go:18-20 (G12)."""
    return f"POINT({p[0]:.6f} {p[1]:.6f})"


def geojson_linestring(line) -> str:
    """converter_geojson.go:10-21 (G13).

    Byte parity with Go is NOT claimed here (Go marshals via its
    shortest-float repr, which differs from Python's in edge cases —
    SURVEY.md §2.7); parsed-value equality is the contract, covered by
    allclose tests."""
    import json

    coords = [[float(p[0]), float(p[1])] for p in np.asarray(line)]
    return json.dumps(
        {"type": "LineString", "coordinates": coords}, separators=(",", ":")
    )


def geojson_point(p) -> str:
    """converter_geojson.go:24-31 (G13)."""
    import json

    return json.dumps(
        {"type": "Point", "coordinates": [float(p[0]), float(p[1])]},
        separators=(",", ":"),
    )
