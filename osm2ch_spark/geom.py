"""Geometry kernel — numpy ports of the reference's scalar geo-math.

Every function reproduces the exact semantics of
``/root/reference/geomath.go`` (G1–G11 in SURVEY.md §2.7) including the
nonstandard Earth radius (geomath.go:9) and edge cases of
``findMiddlePoint`` (geomath.go:143-161).  Lines are numpy arrays of shape
(n, 2) ordered ``(lon, lat)`` — Arrow-friendly and vectorizable inside
pandas UDFs.  No Spark imports here: this module is pure numpy so the same
code runs on executors inside Arrow batches and on the driver in tests.
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


def find_middle_point_many(flat_lons, flat_lats, offsets):
    """Vectorized G6 over a ragged batch of lines.

    ``flat_lons``/``flat_lats``: all lines' points concatenated;
    ``offsets``: (n_lines+1) prefix offsets.  Returns
    ``(idx, mid_lon, mid_lat)`` arrays, bit-identical per line to
    :func:`find_middle_point` (same left-to-right float accumulation via
    column-wise sums over a padded matrix; padding zeros are exact
    no-ops, and a padded column can never satisfy ``half <= cl and
    half > ol`` because there ``ol == cl``).
    """
    flat_lons = np.asarray(flat_lons, dtype=np.float64)
    flat_lats = np.asarray(flat_lats, dtype=np.float64)
    offsets = np.asarray(offsets, dtype=np.int64)
    E = len(offsets) - 1
    idx_out = np.zeros(E, dtype=np.int64)
    mlon = np.zeros(E, dtype=np.float64)
    mlat = np.zeros(E, dtype=np.float64)
    if E == 0 or len(flat_lons) == 0:
        return idx_out, mlon, mlat
    lens = np.diff(offsets)
    # planar segment lengths over flat consecutive pairs; cross-line
    # pairs are computed but never read back
    if len(flat_lons) > 1:
        dx = flat_lons[1:] - flat_lons[:-1]
        dy = flat_lats[1:] - flat_lats[:-1]
        seg_all = np.sqrt(dx * dx + dy * dy)
    else:
        seg_all = np.zeros(0)

    # fast path: single-segment lines (the dominant shape once ways are
    # split at every intersection).  The matrix path reduces to k=0,
    # frac=(t/2)/t which is EXACTLY 0.5 in IEEE (t/2 is exact, and
    # round((t/2)/t)=0.5), so 0.5*x0+0.5*x1 reproduces
    # (1-frac)*x0+frac*x1 bit-for-bit; t<=0 / NaN leave the zero default
    # exactly as the matrix path's empty `valid` row does.  The guard is
    # on t/2 and finiteness, matching the matrix condition
    # `half <= cl and half > ol` in the degenerate corners too: a
    # subnormal t whose half underflows to 0 fails `half > ol` there
    # (ol == 0), and t == inf takes the inf/inf frac branch → NaN
    # midpoint, reproduced explicitly below.
    two = np.flatnonzero(lens == 2)
    if len(two):
        t = seg_all[offsets[two]]
        g = two[((t / 2.0) > 0) & np.isfinite(t)]
        inf_g = two[np.isinf(t)]
        mlon[inf_g] = np.nan
        mlat[inf_g] = np.nan
        og = offsets[g]
        mlon[g] = 0.5 * flat_lons[og] + 0.5 * flat_lons[og + 1]
        mlat[g] = 0.5 * flat_lats[og] + 0.5 * flat_lats[og + 1]

    MAXL = 4096
    act = np.flatnonzero((lens >= 3) & (lens - 1 <= MAXL))
    for r in np.flatnonzero(lens - 1 > MAXL):  # rare huge lines: scalar path
        o, n = offsets[r], lens[r]
        i, (x, y) = find_middle_point(
            np.column_stack([flat_lons[o : o + n], flat_lats[o : o + n]])
        )
        idx_out[r], mlon[r], mlat[r] = i, x, y
    if len(act) == 0:
        return idx_out, mlon, mlat

    sl = (lens[act] - 1).astype(np.int64)  # segments per active line
    R = len(act)
    L = int(sl.max())
    mat = np.zeros((R, L), dtype=np.float64)
    row = np.repeat(np.arange(R), sl)
    cum = np.concatenate([[0], np.cumsum(sl)])
    within = np.arange(int(sl.sum())) - np.repeat(cum[:-1], sl)
    mat[row, within] = seg_all[np.repeat(offsets[act], sl) + within]
    # sequential left-to-right accumulation, vectorized across rows
    clmat = np.empty((R, L), dtype=np.float64)
    run = np.zeros(R, dtype=np.float64)
    for j in range(L):
        run = run + mat[:, j]
        clmat[:, j] = run
    total = run  # padding zeros keep the running sum exact
    half = total / 2.0
    ol = np.concatenate([np.zeros((R, 1)), clmat[:, :-1]], axis=1)
    valid = (half[:, None] <= clmat) & (half[:, None] > ol)
    has = valid.any(axis=1)
    rows = np.flatnonzero(has)
    if len(rows) == 0:
        return idx_out, mlon, mlat
    k = L - 1 - np.argmax(valid[rows, ::-1], axis=1)  # LAST satisfying seg
    tmp = mat[rows, k]
    half_sub = half[rows] - ol[rows, k]
    frac = half_sub / tmp
    p0 = offsets[act[rows]] + k
    x0, x1 = flat_lons[p0], flat_lons[p0 + 1]
    y0, y1 = flat_lats[p0], flat_lats[p0 + 1]
    g = act[rows]
    idx_out[g] = k
    mlon[g] = (1.0 - frac) * x0 + frac * x1
    mlat[g] = (1.0 - frac) * y0 + frac * y1
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
