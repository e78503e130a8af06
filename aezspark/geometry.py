"""Vectorized polygon geometry in pure numpy — PIP, distances, boundary index.

GDAL/shapely are unavailable here, so the engine implements its own geometry
kernel (this is also what makes it a from-scratch engine rather than a GDAL
wrapper). Semantics replace the reference's rasterized-mask containment
(prepare_feature_masks.py:9-63 builds per-country bitmaps; the probe at
extract_country_data.py:231-245 tests mask==1): we evaluate true
point-in-polygon of pixel centers / document points against polygon rings.

Conventions:
  * rings are closed (first == last vertex) arrays of (lons, lats);
  * even-odd (crossing number) rule; a point on a horizontal edge follows the
    half-open ray-casting rule (documented vertex rule — fixtures avoid
    degenerate on-edge points, SURVEY §7);
  * polygons may have holes; containment = in exterior and in no hole;
  * no antimeridian handling (fixture worlds avoid it).

Everything is vectorized over points; per-polygon loops are over the (small,
broadcast) dim table only.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np


POINT_IN_RING_SORT_THRESHOLD = 32  # edges below this: plain per-edge loop


def point_in_ring(lon, lat, ring_lons, ring_lats):
    """Even-odd crossing-number test, vectorized over N points, output-
    sensitive over edges.

    Classic ray casting (ray in +lon, count crossings). Horizontal edges are
    dropped up front (they never cross under the half-open rule: an edge
    crosses a point's ray iff min(y) <= lat < max(y)). For rings beyond
    POINT_IN_RING_SORT_THRESHOLD edges the points are sorted by latitude once
    and each edge touches only its latitude-span slice (two searchsorted
    probes + vector ops on a contiguous slice), so total work is
    Σ_edges |points in the edge's lat span| instead of points × edges —
    ~10-100× less on coastline-scale rings whose edges each span a sliver of
    latitude. Small rings (fixture polygons) skip the sort and use the plain
    per-edge loop, which is faster than paying the argsort."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    rx = np.asarray(ring_lons, dtype=np.float64)
    ry = np.asarray(ring_lats, dtype=np.float64)
    inside = np.zeros(lon.shape, dtype=bool)
    x1, y1 = rx[:-1], ry[:-1]
    x2, y2 = rx[1:], ry[1:]
    keep = y1 != y2  # horizontal edges never cross the half-open ray rule
    x1, y1, x2, y2 = x1[keep], y1[keep], x2[keep], y2[keep]
    n_edges = x1.shape[0]
    if n_edges == 0 or len(lon) == 0:
        return inside

    if n_edges < POINT_IN_RING_SORT_THRESHOLD:
        for i in range(n_edges):
            a_y, b_y = y1[i], y2[i]
            crosses = (a_y > lat) != (b_y > lat)
            if not crosses.any():
                continue
            # evaluate the intersection only on the crossing lanes: for a
            # crossing lane |lat - a_y| <= |b_y - a_y| so the quotient is
            # bounded by the edge's lon extent, whereas a non-crossing lane
            # against a near-horizontal edge (tiny b_y - a_y) can overflow
            # the divide — masked-lane garbage was discarded but still
            # raised RuntimeWarning (fatal under the test suite's
            # error::RuntimeWarning policy)
            lat_c = lat[crosses]
            x_at = x1[i] + (lat_c - a_y) * (x2[i] - x1[i]) / (b_y - a_y)
            inside[crosses] ^= lon[crosses] < x_at
        return inside

    order = np.argsort(lat)
    slat = lat[order]
    slon = lon[order]
    slope = (x2 - x1) / (y2 - y1)
    lo = np.minimum(y1, y2)
    hi = np.maximum(y1, y2)
    i0 = np.searchsorted(slat, lo, side="left")
    i1 = np.searchsorted(slat, hi, side="left")
    # per-edge contiguous slices: every point in [i0, i1) is a TRUE crossing
    # candidate (lo <= lat < hi ⟺ the ray-crossing condition), so the work is
    # exactly Σ_edges |crossing candidates| — information-minimal for ray
    # casting. Contiguous slice arithmetic beats a flattened gather/bincount
    # formulation ~15× here (random-access gathers vs streaming slices).
    parity = np.zeros(len(lon), dtype=bool)
    for i in range(n_edges):
        s, e = i0[i], i1[i]
        if s >= e:
            continue
        x_at = x1[i] + (slat[s:e] - y1[i]) * slope[i]
        parity[s:e] ^= slon[s:e] < x_at
    inside[order] = parity
    return inside


def point_seg_dist_deg(lon, lat, x1, y1, x2, y2):
    """Min distance (in equirectangular-scaled degrees) from N points to M
    segments. Longitude is scaled by cos(lat) of the QUERY POINT, so the
    metric is locally isotropic (azimuthal-equirectangular about each
    point). Quantified fidelity vs the spherical geodesic
    (tests/test_within_distance.py::test_dist_km_metric_contract pins all
    three): relative error ≤ ~0.6% at ANY latitude up to 85° for segments
    subtending ≤ 1° (boundary edges at real data resolution), growing to a
    few percent only for multi-degree edges above ~80° — where ranking can
    swap candidates whose true distances differ by less than that error.
    Exact geodesics are deliberately out of scope (the reference has no
    distance op at all); consumers needing survey-grade distance post-hoc
    refine the top-k with haversine_km. Returns (N, M)."""
    lon = np.asarray(lon, dtype=np.float64)[:, None]
    lat = np.asarray(lat, dtype=np.float64)[:, None]
    scale = np.cos(np.radians(lat))
    px = lon * scale
    # 0.0 * px is NaN for an infinite longitude: its whole row is NaN
    py = lat + 0.0 * px
    x1 = np.asarray(x1, dtype=np.float64)[None, :]
    y1 = np.asarray(y1, dtype=np.float64)[None, :]
    dy = np.asarray(y2, dtype=np.float64)[None, :] - y1
    # three (N, M) buffers updated in place, every value in the operation
    # order of the dense formula the tests freeze, so results are
    # bit-identical to it; x1 * scale is computed twice instead of kept
    dx = np.asarray(x2, dtype=np.float64)[None, :] * scale
    t = x1 * scale
    np.subtract(dx, t, out=dx)
    np.subtract(px, t, out=t)
    t *= dx
    w = np.subtract(py, y1)
    w *= dy
    t += w
    np.multiply(dx, dx, out=w)
    w += dy * dy  # segment length²
    np.copyto(w, 1e-300, where=w == 0.0)
    t /= w
    np.clip(t, 0.0, 1.0, out=t)
    np.multiply(x1, scale, out=w)
    dx *= t
    w += dx  # closest point x
    np.subtract(px, w, out=w)
    w *= w
    t *= dy
    t += y1  # closest point y
    np.subtract(py, t, out=t)
    t *= t
    w += t
    return np.sqrt(w, out=w)


def haversine_km(lat1, lon1, lat2, lon2):
    """Great-circle distance in km (spherical, R=6371.0088)."""
    lat1, lon1, lat2, lon2 = (np.radians(np.asarray(a, dtype=np.float64))
                              for a in (lat1, lon1, lat2, lon2))
    dlat = lat2 - lat1
    dlon = lon2 - lon1
    h = np.sin(dlat / 2) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin(dlon / 2) ** 2
    return 2 * 6371.0088 * np.arcsin(np.sqrt(np.clip(h, 0.0, 1.0)))


# km per degree of great-circle arc, derived from haversine_km itself (one
# meridian degree at the same R=6371.0088): the factor that converts the
# scaled-degree distances of the spatial joins — locally isotropic by the
# cos(lat) lon scaling, so one scaled degree is one meridian degree in any
# direction — into user-facing kilometres. For the boundary proximities
# these joins report, the planar scaled-deg × arc conversion agrees with a
# full haversine to O(d²); the measured end-to-end bound (dist_km vs
# geodesic, including the cos(point-lat) term) is pinned by
# tests/test_within_distance.py::test_dist_km_metric_contract.
KM_PER_DEG = float(haversine_km(0.0, 0.0, 1.0, 0.0))


@dataclass
class Polygon:
    """One boundary feature: exterior ring + optional holes + metadata."""

    feature_id: int
    country: str
    ring_lons: np.ndarray
    ring_lats: np.ndarray
    hole_lons: list = field(default_factory=list)
    hole_lats: list = field(default_factory=list)

    @property
    def bbox(self):
        return (float(self.ring_lats.min()), float(self.ring_lats.max()),
                float(self.ring_lons.min()), float(self.ring_lons.max()))

    def contains(self, lon, lat):
        inside = point_in_ring(lon, lat, self.ring_lons, self.ring_lats)
        for hx, hy in zip(self.hole_lons, self.hole_lats):
            inside &= ~point_in_ring(lon, lat, hx, hy)
        return inside

    def segments(self):
        """All boundary segments (exterior + holes) as (x1, y1, x2, y2)."""
        xs = [self.ring_lons]
        ys = [self.ring_lats]
        xs += list(self.hole_lons)
        ys += list(self.hole_lats)
        x1 = np.concatenate([a[:-1] for a in xs])
        x2 = np.concatenate([a[1:] for a in xs])
        y1 = np.concatenate([a[:-1] for a in ys])
        y2 = np.concatenate([a[1:] for a in ys])
        return x1, y1, x2, y2


class BoundaryIndex:
    """Broadcastable spatial index over a (small) polygon dim table.

    The numpy stand-in for an STRtree: a uniform lon/lat bucket grid (pixel
    size adapted to the median polygon bbox, so each polygon covers O(10)
    buckets) mapping bucket → candidate feature ids via bbox cover. The whole
    object is pickled into the Spark broadcast for mapInPandas kernels. This
    replaces the reference's per-country mask files — the offline index build
    of prepare_feature_masks.py:66-91 — with an in-memory index whose build is
    O(features · buckets).
    """

    def __init__(self, polygons: list[Polygon], index_px: float | None = None):
        self.polygons = polygons
        if index_px is None:
            spans = []
            for p in polygons:
                lat_min, lat_max, lon_min, lon_max = p.bbox
                spans.append(max(lat_max - lat_min, lon_max - lon_min))
            med = float(np.median(spans)) if spans else 10.0
            index_px = max(med / 3.0, 0.25)
        self.index_px = float(index_px)
        self.index_nx = int(np.ceil(360.0 / self.index_px))
        self.index_ny = int(np.ceil(180.0 / self.index_px))
        buckets: dict[int, list[int]] = {}
        for i, poly in enumerate(polygons):
            lat_min, lat_max, lon_min, lon_max = poly.bbox
            x0, y0 = self._bx(lon_min), self._by(lat_max)
            x1, y1 = self._bx(lon_max), self._by(lat_min)
            for by in range(y0, y1 + 1):
                for bx in range(x0, x1 + 1):
                    buckets.setdefault(by * self.index_nx + bx, []).append(i)
        self.cell_to_feats = {c: np.array(v, dtype=np.int64) for c, v in buckets.items()}
        # flattened segment arrays for kNN distance scans, concatenated in
        # feature order; seg_ptr[f]:seg_ptr[f+1] is feature f's slice
        segs = [p.segments() for p in polygons]
        self.seg_x1 = np.concatenate([s[0] for s in segs])
        self.seg_y1 = np.concatenate([s[1] for s in segs])
        self.seg_x2 = np.concatenate([s[2] for s in segs])
        self.seg_y2 = np.concatenate([s[3] for s in segs])
        self.seg_feat = np.concatenate([
            np.full(len(s[0]), i, dtype=np.int64) for i, s in enumerate(segs)])
        self.seg_ptr = np.concatenate(
            ([0], np.cumsum([len(s[0]) for s in segs]))).astype(np.int64)
        # feature bboxes as arrays for vectorized lower bounds
        bb = np.array([p.bbox for p in polygons], dtype=np.float64).reshape(-1, 4)
        self.bb_lat_min, self.bb_lat_max = bb[:, 0], bb[:, 1]
        self.bb_lon_min, self.bb_lon_max = bb[:, 2], bb[:, 3]

    # bucket coordinates are clamped to the grid so boundary values
    # (lon=180, lat=-90) don't alias into the next row's column 0
    def _bx(self, lon) -> int:
        return min(max(int(np.floor((lon + 180.0) / self.index_px)), 0),
                   self.index_nx - 1)

    def _by(self, lat) -> int:
        return min(max(int(np.floor((90.0 - lat) / self.index_px)), 0),
                   self.index_ny - 1)

    def bucket_xy(self, lon, lat):
        """Vectorized clamped (bx, by) bucket coordinates for points."""
        lon = np.asarray(lon, dtype=np.float64)
        lat = np.asarray(lat, dtype=np.float64)
        bx = np.clip(np.floor((lon + 180.0) / self.index_px).astype(np.int64),
                     0, self.index_nx - 1)
        by = np.clip(np.floor((90.0 - lat) / self.index_px).astype(np.int64),
                     0, self.index_ny - 1)
        return bx, by

    def bucket_of(self, lon, lat):
        """Vectorized bucket key for points."""
        bx, by = self.bucket_xy(lon, lat)
        return by * self.index_nx + bx

    def candidates(self, cells):
        """Candidate polygon positions for an array of bucket keys.
        Returns (point_idx, poly_pos) COO pairs."""
        cells = np.asarray(cells, dtype=np.int64)
        pt_idx = []
        poly_pos = []
        # group points by cell so each distinct cell is looked up once
        order = np.argsort(cells, kind="stable")
        sorted_cells = cells[order]
        bounds = np.flatnonzero(np.diff(sorted_cells)) + 1
        starts = np.concatenate(([0], bounds))
        ends = np.concatenate((bounds, [len(cells)]))
        for s, e in zip(starts, ends):
            feats = self.cell_to_feats.get(int(sorted_cells[s]))
            if feats is None:
                continue
            pts = order[s:e]
            pt_idx.append(np.repeat(pts, len(feats)))
            poly_pos.append(np.tile(feats, len(pts)))
        if not pt_idx:
            return (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64))
        return np.concatenate(pt_idx), np.concatenate(poly_pos)

    def pip(self, lon, lat, many_to_many: bool = True):
        """Point-in-polygon over N points → COO (point_idx, poly_pos) matches.

        many_to_many=True preserves the reference's overlapping-claims
        semantics (each country mask rasterized independently —
        prepare_feature_masks.py:66-91 — so a pixel can belong to several
        countries and is double-counted; SURVEY §7 'double counting is a
        feature'). many_to_many=False keeps the lowest feature_id.
        """
        lon = np.asarray(lon, dtype=np.float64)
        lat = np.asarray(lat, dtype=np.float64)
        pt_idx, poly_pos = self.candidates(self.bucket_of(lon, lat))
        keep_pt = []
        keep_poly = []
        # evaluate candidates grouped per polygon: one vectorized ring test each
        order = np.argsort(poly_pos, kind="stable")
        pt_idx = pt_idx[order]
        poly_pos = poly_pos[order]
        bounds = np.flatnonzero(np.diff(poly_pos)) + 1
        starts = np.concatenate(([0], bounds)) if len(poly_pos) else []
        ends = np.concatenate((bounds, [len(poly_pos)])) if len(poly_pos) else []
        for s, e in zip(starts, ends):
            pos = int(poly_pos[s])
            pts = pt_idx[s:e]
            hit = self.polygons[pos].contains(lon[pts], lat[pts])
            keep_pt.append(pts[hit])
            keep_poly.append(np.full(int(hit.sum()), pos, dtype=np.int64))
        if keep_pt:
            pt = np.concatenate(keep_pt)
            pp = np.concatenate(keep_poly)
        else:
            pt = np.empty(0, dtype=np.int64)
            pp = np.empty(0, dtype=np.int64)
        if not many_to_many and len(pt):
            order = np.lexsort((pp, pt))
            pt, pp = pt[order], pp[order]
            first = np.concatenate(([True], np.diff(pt) != 0))
            pt, pp = pt[first], pp[first]
        return pt, pp

    # max points × segments distance cells per point_seg_dist_deg call: a
    # bound on cells, not bytes. Each cell holds at most three float64
    # temporaries and one bool mask at once (25 B), so ~50 MB per worker at
    # the bound, reached by nearest_bruteforce_k (nearest_k's dense path) and
    # by _feat_dist chunks
    SEG_CHUNK = 2_000_000

    def _feat_dist(self, lon, lat, f: int):
        """Exact min boundary distance from points to feature f's segments,
        chunked over segments so a coastline-scale feature never materializes
        a dense (points × segments) matrix."""
        s0, s1 = int(self.seg_ptr[f]), int(self.seg_ptr[f + 1])
        n = len(lon)
        best = np.full(n, np.inf)
        if s1 == s0 or n == 0:
            return best
        chunk = max(1, self.SEG_CHUNK // max(n, 1))
        for s in range(s0, s1, chunk):
            e = min(s + chunk, s1)
            d = point_seg_dist_deg(lon, lat, self.seg_x1[s:e], self.seg_y1[s:e],
                                   self.seg_x2[s:e], self.seg_y2[s:e])
            np.minimum(best, d.min(axis=1), out=best)
        return best

    def _bbox_lb(self, lon, lat, scale, f=slice(None)):
        """Scaled distance from points to feature bboxes (0 inside): a lower
        bound of the boundary distance, in point_seg_dist_deg's metric.
        (m, 1) point columns against every feature give (m, n_feat); (n,)
        points against one feature position f give (n,)."""
        dlon = np.maximum(0.0, np.maximum(self.bb_lon_min[f] - lon,
                                          lon - self.bb_lon_max[f])) * scale
        dlat = np.maximum(0.0, np.maximum(self.bb_lat_min[f] - lat,
                                          lat - self.bb_lat_max[f]))
        return np.hypot(dlon, dlat)

    def nearest(self, lon, lat, stats: dict | None = None):
        """Nearest feature by boundary distance per point: nearest_k with
        k=1. Returns (poly_pos, dist_deg) of shape (N,)."""
        pos, best = self.nearest_k(lon, lat, 1, stats)
        return pos[:, 0], best[:, 0]

    def nearest_k(self, lon, lat, k: int, stats: dict | None = None):
        """Top-k nearest features by boundary distance per point (SURVEY §2.5
        rank-by-distance shape). Returns (pos, dist) of shape (N, k_eff),
        k_eff = min(k, n_features), each row ordered by (dist asc, poly_pos
        asc) — identical to nearest_bruteforce_k, including tie-breaks.

        Candidate generation is a vectorized bbox branch-and-bound — the
        continuous form of cell-ring (kring) expansion over the bucket grid:
        a per-(point, feature) lower bound (_bbox_lb) prunes every feature
        that provably cannot enter the point's top k, so exact segment
        distances are evaluated only for ring-local candidates. Ring hashing
        via cell_to_feats was rejected here because scattered fallback
        points (the common case: ocean documents) each land in their own
        bucket and turn the kernel into a per-point Python loop; the bbox
        bound gives the same ≪-total-segments candidate sets with one numpy
        pass.

        Each point is seeded with the exact distance to its min-bound
        feature, then refined in ascending feature order: a feature is
        evaluated when its bound is ≤ the point's current k-th distance.
        Ties are included because a seed is evaluated out of order, so a
        lower-position feature at the same distance must still displace it.
        Insertion re-sorts each (k_eff+1)-wide (dist, pos) buffer with a
        row-wise lexsort, so the result does not depend on evaluation order.
        `stats` (optional dict) receives segments_evaluated /
        total_segment_pairs / features_evaluated for the candidate-reduction
        tests."""
        lon = np.atleast_1d(np.asarray(lon, dtype=np.float64))
        lat = np.atleast_1d(np.asarray(lat, dtype=np.float64))
        n = len(lon)
        n_feat = len(self.polygons)
        k_eff = min(k, n_feat)
        pos = np.zeros((n, k_eff), dtype=np.int64)
        best = np.full((n, k_eff), np.inf)
        if n == 0 or n_feat == 0 or k_eff == 0:
            return pos, best
        if n * len(self.seg_x1) <= self.SEG_CHUNK:
            # small dense problem: one streaming matrix pass beats the
            # branch-and-bound bookkeeping (measured 10 ms vs 58 ms on a
            # 59k-point batch over 50 segments)
            bpos, bbest = self.nearest_bruteforce_k(lon, lat, k_eff)
            if stats is not None:
                stats["segments_evaluated"] = int(n * len(self.seg_x1))
                stats["total_segment_pairs"] = int(n * len(self.seg_x1))
                stats["features_evaluated"] = n_feat
            return bpos, bbest
        segs_eval = 0
        feats_eval = 0
        seg_len = np.diff(self.seg_ptr)
        scale = np.cos(np.radians(lat))
        pt_chunk = max(1, 4_000_000 // max(n_feat, 1))
        for c0 in range(0, n, pt_chunk):
            sl = slice(c0, min(c0 + pt_chunk, n))
            plon, plat = lon[sl], lat[sl]
            lb = self._bbox_lb(plon[:, None], plat[:, None],
                               scale[sl][:, None])  # (m, n_feat)
            m = len(plon)
            bbest = np.full((m, k_eff), np.inf)
            bpos = np.full((m, k_eff), n_feat, dtype=np.int64)  # sentinel > any pos
            seed = lb.argmin(axis=1)
            for f in np.unique(seed):
                pts = np.flatnonzero(seed == f)
                bbest[pts, 0] = self._feat_dist(plon[pts], plat[pts], int(f))
                bpos[pts, 0] = f
                segs_eval += len(pts) * int(seg_len[f])
                feats_eval += 1
            for f in range(n_feat):
                cand = np.flatnonzero((lb[:, f] <= bbest[:, -1]) & (seed != f))
                if not len(cand):
                    continue
                d = self._feat_dist(plon[cand], plat[cand], f)
                buf_d = np.concatenate([bbest[cand], d[:, None]], axis=1)
                buf_p = np.concatenate(
                    [bpos[cand], np.full((len(cand), 1), f, dtype=np.int64)],
                    axis=1)
                order = np.lexsort((buf_p, buf_d))[:, :k_eff]  # dist, then pos
                r = np.arange(len(cand))[:, None]
                bbest[cand] = buf_d[r, order]
                bpos[cand] = buf_p[r, order]
                segs_eval += len(cand) * int(seg_len[f])
                feats_eval += 1
            best[sl] = bbest
            pos[sl] = bpos
        # a NaN/±inf point's bounds are NaN/inf, which no refine test admits
        # (its row would keep the sentinel position): rank it as the dense
        # scan does, SEG_CHUNK cells per call
        bad = np.flatnonzero(~(np.isfinite(lon) & np.isfinite(lat)))
        step = max(1, self.SEG_CHUNK // len(self.seg_x1))
        for c0 in range(0, len(bad), step):
            b = bad[c0:c0 + step]
            pos[b], best[b] = self.nearest_bruteforce_k(lon[b], lat[b], k_eff)
        if stats is not None:
            stats["segments_evaluated"] = int(segs_eval)
            stats["total_segment_pairs"] = int(n * len(self.seg_x1))
            stats["features_evaluated"] = int(feats_eval)
        return pos, best

    def nearest_bruteforce_k(self, lon, lat, k: int):
        """Dense (points × all segments) scan top-k: nearest_k's path for
        every batch with points × segments ≤ SEG_CHUNK (every bench batch on
        the fixture boundaries), and the tests' baseline for its
        branch-and-bound path. Row order: (dist asc, poly_pos asc) — the
        stable sort keeps equal distances in ascending position."""
        lon = np.atleast_1d(np.asarray(lon, dtype=np.float64))
        lat = np.atleast_1d(np.asarray(lat, dtype=np.float64))
        d = point_seg_dist_deg(lon, lat, self.seg_x1, self.seg_y1,
                               self.seg_x2, self.seg_y2)
        n_feat = len(self.polygons)
        per_feat = np.full((len(lon), n_feat), np.inf)
        for f in range(n_feat):
            # a masked copy is contiguous, so its row min is ~2x faster than
            # over the strided d[:, s0:s1] view
            cols = self.seg_feat == f
            if cols.any():
                per_feat[:, f] = d[:, cols].min(axis=1)
        order = np.argsort(per_feat, axis=1, kind="stable")[:, :min(k, n_feat)]
        return order, np.take_along_axis(per_feat, order, axis=1)

    def within(self, lon, lat, d_deg: float):
        """Spatial RANGE join primitive: all (point, feature) pairs where the
        point is inside the feature or within `d_deg` of its boundary, in the
        same scaled-degree metric as point_seg_dist_deg. Returns COO
        (pt_idx, poly_pos, dist_deg) with dist 0.0 for contained points —
        many-to-many (one point can match several features).

        Same bbox lower bound as nearest_k (_bbox_lb), widened by d_deg: exact
        segment distances are evaluated only for features whose bbox is
        within the radius."""
        lon = np.atleast_1d(np.asarray(lon, dtype=np.float64))
        lat = np.atleast_1d(np.asarray(lat, dtype=np.float64))
        n_feat = len(self.polygons)
        in_pt, in_poly = self.pip(lon, lat, many_to_many=True)
        inside_keys = np.sort(in_pt * n_feat + in_poly)
        out_pt = [in_pt]
        out_poly = [in_poly]
        out_d = [np.zeros(len(in_pt))]
        scale = np.cos(np.radians(lat))
        for f in range(n_feat):
            cand = np.flatnonzero(self._bbox_lb(lon, lat, scale, f) <= d_deg)
            if not len(cand):
                continue
            d = self._feat_dist(lon[cand], lat[cand], f)
            hit = d <= d_deg
            pts = cand[hit]
            keys = pts * n_feat + f
            keep = ~np.isin(keys, inside_keys, assume_unique=False)
            out_pt.append(pts[keep])
            out_poly.append(np.full(int(keep.sum()), f, dtype=np.int64))
            out_d.append(d[hit][keep])
        return (np.concatenate(out_pt), np.concatenate(out_poly),
                np.concatenate(out_d))

    def feature_ids(self):
        return np.array([p.feature_id for p in self.polygons], dtype=np.int64)

    def countries(self):
        return np.array([p.country for p in self.polygons], dtype=object)
