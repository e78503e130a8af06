"""Geometry kernel: vectorized PIP parity + speedup, ring-local kNN parity
with brute force (including tie-breaks), candidate reduction, and bucket-key
clamping at the antimeridian/pole (VERDICT r1 items 2 & 6, ADVICE clamp)."""

import time

import numpy as np
import pytest

from aezspark.geometry import (BoundaryIndex, Polygon, point_in_ring,
                               point_seg_dist_deg)


def _ref_point_in_ring(lon, lat, ring_lons, ring_lats):
    """Round-1 per-edge-loop implementation — the parity baseline."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    rx = np.asarray(ring_lons, dtype=np.float64)
    ry = np.asarray(ring_lats, dtype=np.float64)
    inside = np.zeros(lon.shape, dtype=bool)
    x1, y1 = rx[:-1], ry[:-1]
    x2, y2 = rx[1:], ry[1:]
    for i in range(x1.shape[0]):
        a_y, b_y = y1[i], y2[i]
        if a_y == b_y:
            continue
        crosses = (a_y > lat) != (b_y > lat)
        if not crosses.any():
            continue
        x_at = x1[i] + (lat - a_y) * (x2[i] - x1[i]) / (b_y - a_y)
        inside ^= crosses & (lon < x_at)
    return inside


def _ref_point_seg_dist_deg(lon, lat, x1, y1, x2, y2):
    """Frozen dense formula (twelve (N, M) temporaries) — the bit-parity
    baseline of point_seg_dist_deg's in-place form."""
    lon = np.asarray(lon, dtype=np.float64)[:, None]
    lat = np.asarray(lat, dtype=np.float64)[:, None]
    scale = np.cos(np.radians(lat))
    px = lon * scale
    py = lat
    ax1 = np.asarray(x1, dtype=np.float64)[None, :] * scale
    ay1 = np.asarray(y1, dtype=np.float64)[None, :] + 0.0 * px
    ax2 = np.asarray(x2, dtype=np.float64)[None, :] * scale
    ay2 = np.asarray(y2, dtype=np.float64)[None, :] + 0.0 * px
    dx = ax2 - ax1
    dy = ay2 - ay1
    seg_len2 = dx * dx + dy * dy
    seg_len2 = np.where(seg_len2 == 0.0, 1e-300, seg_len2)
    t = ((px - ax1) * dx + (py - ay1) * dy) / seg_len2
    t = np.clip(t, 0.0, 1.0)
    cx = ax1 + t * dx
    cy = ay1 + t * dy
    return np.sqrt((px - cx) ** 2 + (py - cy) ** 2)


def _star_ring(n_vertices: int, cx=10.0, cy=20.0, r0=8.0, r1=15.0):
    """Concave star polygon with n_vertices vertices (closed ring)."""
    ang = np.linspace(0.0, 2 * np.pi, n_vertices, endpoint=False)
    rad = np.where(np.arange(n_vertices) % 2 == 0, r1, r0)
    xs = cx + rad * np.cos(ang)
    ys = cy + rad * np.sin(ang)
    return np.append(xs, xs[0]), np.append(ys, ys[0])


def test_point_in_ring_parity_random_points():
    rng = np.random.default_rng(7)
    xs, ys = _star_ring(101)
    lon = rng.uniform(-10, 30, 20000)
    lat = rng.uniform(0, 40, 20000)
    got = point_in_ring(lon, lat, xs, ys)
    ref = _ref_point_in_ring(lon, lat, xs, ys)
    assert (got == ref).all()
    assert got.any() and not got.all()  # non-degenerate fixture


def test_point_seg_dist_bit_identical_to_dense_formula():
    """The in-place distance equals the frozen dense formula bit for bit
    (uint64 view, so NaN payloads and zero signs count too) on random
    points and segments plus the edge cases: zero-length segments, ±0.0
    coordinates, NaN and infinite points and latitudes within 1e-9 of the
    poles."""
    rng = np.random.default_rng(11)
    lon = np.concatenate([rng.uniform(-180, 180, 400),
                          [0.0, -0.0, 0.0, -0.0, np.nan, 3.0, np.nan,
                           12.5, -170.0, 179.9, 0.0, np.inf, -np.inf]])
    lat = np.concatenate([rng.uniform(-89.9, 89.9, 400),
                          [0.0, 0.0, -0.0, -0.0, 4.0, np.nan, np.nan,
                           90.0, -90.0, 90.0 - 1e-9, -90.0 + 1e-9, 1.0, -0.0]])
    x1 = np.concatenate([rng.uniform(-180, 180, 60),
                         [0.0, -0.0, 5.0, -0.0, 0.0, 170.0, -179.0]])
    y1 = np.concatenate([rng.uniform(-89.9, 89.9, 60),
                         [0.0, -0.0, 5.0, 0.0, 89.999, 90.0, -90.0]])
    # zero-length: x2/y2 equal x1/y1 in the last seven, with signed zeros
    x2 = np.concatenate([rng.uniform(-180, 180, 60),
                         [-0.0, 0.0, 5.0, -0.0, 0.0, 170.0, -179.0]])
    y2 = np.concatenate([rng.uniform(-89.9, 89.9, 60),
                         [-0.0, 0.0, 5.0, -0.0, 89.999, 90.0, -90.0]])
    with np.errstate(invalid="ignore"):
        got = point_seg_dist_deg(lon, lat, x1, y1, x2, y2)
        want = _ref_point_seg_dist_deg(lon, lat, x1, y1, x2, y2)
    assert got.shape == want.shape == (len(lon), len(x1))
    assert np.isnan(got).any()
    assert np.array_equal(got.view(np.uint64), want.view(np.uint64))


def test_point_in_ring_speedup_1000_vertices_65k_points():
    rng = np.random.default_rng(11)
    # locally-smooth ring (like a real coastline at 1,000 vertices): each
    # edge spans a sliver of latitude, which is what the lat-sorted algorithm
    # exploits. The maximally spiky star (every edge crossing ~20% of the
    # latitude range) is covered by the parity test above; there the
    # candidate set is information-minimal and the speedup is ~11×.
    xs, ys = _star_ring(1001, r0=12.0, r1=15.0)
    lon = rng.uniform(-10, 30, 65000)
    lat = rng.uniform(0, 40, 65000)
    got = point_in_ring(lon, lat, xs, ys)  # warm (allocators, caches)
    ref = _ref_point_in_ring(lon, lat, xs, ys)
    assert (got == ref).all()
    # best-of-3 on each side: the shared host stalls individual runs 2-4×,
    # so single-sample ratios flake; min-wall is the noise-robust estimator
    t_vec = min(_timed(point_in_ring, lon, lat, xs, ys) for _ in range(3))
    t_loop = min(_timed(_ref_point_in_ring, lon, lat, xs, ys) for _ in range(3))
    # VERDICT item 6 acceptance: ≥10× on a 1,000-vertex ring at 65k points
    assert t_loop / t_vec >= 10.0, f"speedup only {t_loop / t_vec:.1f}×"


def _timed(fn, *args):
    t0 = time.perf_counter()
    fn(*args)
    return time.perf_counter() - t0


def _many_feature_index(n_feat=60, seed=3):
    """Grid of small square-ish polygons with jittered corners (some adjacent
    features share border segments → exact distance ties exist)."""
    rng = np.random.default_rng(seed)
    polys = []
    fid = 0
    for gy in range(6):
        for gx in range(10):
            if fid >= n_feat:
                break
            x0 = -150.0 + gx * 25.0
            y0 = -60.0 + gy * 18.0
            w, h = 10.0 + rng.uniform(0, 8), 8.0 + rng.uniform(0, 6)
            xs = np.array([x0, x0 + w, x0 + w, x0, x0])
            ys = np.array([y0, y0, y0 + h, y0 + h, y0])
            polys.append(Polygon(fid, f"C{fid:02d}", xs, ys))
            fid += 1
    return BoundaryIndex(polys)


def test_nearest_matches_bruteforce_with_ties():
    idx = _many_feature_index()
    rng = np.random.default_rng(5)
    # enough points that points×segments exceeds the dense-path cutoff, so
    # the branch-and-bound path (not the small-problem delegation) is tested
    n_pts = 12000
    assert n_pts * len(idx.seg_x1) > idx.SEG_CHUNK
    lon = rng.uniform(-180, 180, n_pts)
    lat = rng.uniform(-85, 85, n_pts)
    # add points exactly equidistant between two shared-ish borders
    lon = np.append(lon, [-125.0, -100.0, 0.0])
    lat = np.append(lat, [-51.0, -51.0, 80.0])
    pos_bf, d_bf = (a[:, 0] for a in idx.nearest_bruteforce_k(lon, lat, 1))
    stats = {}
    pos, d = idx.nearest(lon, lat, stats=stats)
    assert (pos == pos_bf).all()
    assert np.allclose(d, d_bf, rtol=0, atol=0)  # bit-identical math path
    # candidate reduction: exact segment distances computed for a small
    # fraction of all (point × segment) pairs
    frac = stats["segments_evaluated"] / stats["total_segment_pairs"]
    assert frac < 0.25, f"evaluated {frac:.2%} of all pairs"


def test_nearest_points_inside_polygons():
    idx = _many_feature_index()
    # a point inside feature 0's bbox interior: distance is to its own border
    p = idx.polygons[0]
    cx = (p.ring_lons.min() + p.ring_lons.max()) / 2
    cy = (p.ring_lats.min() + p.ring_lats.max()) / 2
    pos_bf, d_bf = idx.nearest_bruteforce_k([cx], [cy], 1)
    pos, d = idx.nearest([cx], [cy])
    assert pos[0] == pos_bf[0, 0] and d[0] == d_bf[0, 0]


def test_bucket_keys_clamped_at_domain_edges():
    idx = _many_feature_index()
    # lon=180 / lat=-90 previously aliased into the next row's column 0
    bx, by = idx.bucket_xy(np.array([180.0, -180.0]), np.array([-90.0, 90.0]))
    assert bx[0] == idx.index_nx - 1 and by[0] == idx.index_ny - 1
    assert bx[1] == 0 and by[1] == 0
    keys = idx.bucket_of(np.array([180.0]), np.array([0.0]))
    assert 0 <= keys[0] < idx.index_nx * idx.index_ny


def test_nearest_k_matches_dense_topk_with_ties():
    """nearest_k (bbox B&B with a k-element bound) must equal the dense
    per-feature top-k, row-ordered by (dist asc, pos asc) including
    tie-breaks, with the same candidate-reduction property as nearest()."""
    idx = _many_feature_index()
    rng = np.random.default_rng(9)
    n_pts = 12000
    assert n_pts * len(idx.seg_x1) > idx.SEG_CHUNK  # forces the B&B path
    lon = rng.uniform(-180, 180, n_pts)
    lat = rng.uniform(-85, 85, n_pts)
    lon = np.append(lon, [-125.0, -100.0, 0.0])   # equidistant tie probes
    lat = np.append(lat, [-51.0, -51.0, 80.0])
    pos_bf, d_bf = idx.nearest_bruteforce_k(lon, lat, 3)
    stats = {}
    pos, d = idx.nearest_k(lon, lat, 3, stats=stats)
    assert (pos == pos_bf).all()
    assert np.array_equal(d, d_bf)               # bit-identical math path
    # per-row ordering invariant
    assert (np.diff(d, axis=1) >= 0).all()
    frac = stats["segments_evaluated"] / stats["total_segment_pairs"]
    assert frac < 0.5, f"evaluated {frac:.2%} of all pairs"


def _rect(fid, x0, x1, y0, y1):
    return Polygon(fid, f"C{fid}", np.array([x0, x1, x1, x0, x0]),
                   np.array([y0, y0, y1, y1, y0]))


def _notch(fid, dx):
    """A U-shaped feature around (dx, 0): its bbox contains the point, so it
    is the point's min-bound seed, but every wall is exactly 1 away."""
    xs = np.array([-3, 3, 3, 1, 1, -1, -1, -3, -3], dtype=np.float64) + dx
    ys = np.array([-3, -3, 3, 3, -1, -1, 3, 3, -3], dtype=np.float64)
    return Polygon(fid, f"C{fid}", xs, ys)


def test_nearest_k_seed_ties_lose_to_lower_positions():
    """The branch-and-bound seeds each point with its min-bound feature,
    which can sit at a HIGHER position than a feature at exactly the same
    distance. The refine pass must still evaluate that feature (bound ≤ the
    k-th distance, ties included) so the lower position wins, as in the dense
    scan. Point (0, 0): seed 3 (notch, d=1); features 0 and 1 closer; feature
    2 at d=1 and bound 1 fills rank 3. Point (40, 0): seed 5 (notch, d=1),
    feature 4 at d=1 and bound 1 is its nearest."""
    idx = BoundaryIndex([
        _rect(0, -0.25, 0.25, -0.75, -0.5),   # d 0.5
        _rect(1, 0.6, 0.8, -0.2, 0.2),        # d 0.6
        _rect(2, -0.5, 0.5, 1.0, 2.0),        # d 1, bound 1
        _notch(3, 0.0),                       # d 1, bound 0: the seed
        _rect(4, 39.5, 40.5, 1.0, 2.0),       # d 1, bound 1
        _notch(5, 40.0),                      # d 1, bound 0: the seed
    ])
    rng = np.random.default_rng(11)
    n_fill = idx.SEG_CHUNK // len(idx.seg_x1) + 1  # forces the B&B path
    lon = np.concatenate([[0.0, 40.0], rng.uniform(-180, 180, n_fill)])
    lat = np.concatenate([[0.0, 0.0], rng.uniform(-85, 85, n_fill)])
    for k in (1, 3):
        pos_bf, d_bf = idx.nearest_bruteforce_k(lon, lat, k)
        pos, d = idx.nearest_k(lon, lat, k)
        assert pos[:2].tolist() == ([[0], [4]] if k == 1
                                    else [[0, 1, 2], [4, 5, 3]])
        assert (pos == pos_bf).all() and np.array_equal(d, d_bf)
    pos1, d1 = idx.nearest(lon, lat)
    assert (pos1 == pos_bf[:, 0]).all() and np.array_equal(d1, d_bf[:, 0])


def test_nearest_k_non_finite_points_match_dense_scan():
    """A NaN or ±inf coordinate has NaN/inf bbox bounds, which no refine test
    admits: on the branch-and-bound path such a point must still get the
    dense scan's row (NaN distances, positions in order), never the
    out-of-range sentinel position."""
    idx = _many_feature_index()
    rng = np.random.default_rng(13)
    n_pts = 12000
    assert n_pts * len(idx.seg_x1) > idx.SEG_CHUNK  # forces the B&B path
    lon = np.append(rng.uniform(-180, 180, n_pts),
                    [np.nan, np.inf, 0.0, -np.inf])
    lat = np.append(rng.uniform(-85, 85, n_pts), [0.0, 0.0, np.nan, np.nan])
    for k in (1, 3):
        with np.errstate(invalid="ignore"):
            pos_bf, d_bf = idx.nearest_bruteforce_k(lon, lat, k)
            pos, d = idx.nearest_k(lon, lat, k)
        assert (pos == pos_bf).all()
        assert np.array_equal(d, d_bf, equal_nan=True)


def test_nearest_k_clamps_k_to_feature_count():
    idx = _many_feature_index(n_feat=2)
    pos, d = idx.nearest_k([0.0, 10.0], [0.0, 5.0], 5)
    assert pos.shape == (2, 2) and d.shape == (2, 2)
    pos_bf, d_bf = idx.nearest_bruteforce_k([0.0, 10.0], [0.0, 5.0], 5)
    assert (pos == pos_bf).all() and np.array_equal(d, d_bf)
