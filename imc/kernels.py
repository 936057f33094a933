"""Pure-numpy geometry kernels. No Spark imports — testable in milliseconds
and reused by the brute-force fixture oracle (SURVEY.md §7.1 M1).

All math pinned to Lee/Han/Whang, "Trajectory Clustering: A
Partition-and-Group Framework", SIGMOD 2007 (TRACLUS), §3.2.2 (segment
distance), §3.3 (MDL partitioning), §4.3 (representative sweep).
Reference-repo provenance: SURVEY.md §0 ([T]/[R] tags — the reference mount
is empty; the paper is the authoritative source for the math).

Pinned conventions (documented deviations / disambiguations, SURVEY.md §0):
  * parallel distance uses l∥ = min distance from each projection point to
    the BASE segment's two endpoints (d∥ = min(l∥1, l∥2)); robust to the
    shorter segment being oriented opposite to the base.
  * MDL costs use log2f(x) = log2(max(x, 1e-300)) — finite stand-in for the
    paper's log2(0) = -inf on perfectly straight runs (a zero-distance term
    must make MDL_par arbitrarily cheap so straight runs never partition).
  * the longer segment of a pair is the base Li; ties broken by taking the
    first argument as base (distance is unaffected for equal lengths).

Everything operates on float64 with a fixed reduction order for
determinism (SURVEY.md §7.3-1).
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "segment_length",
    "traclus_distance",
    "hausdorff_distance",
    "point_segment_distance",
    "point_in_polygon",
    "mdl_partition",
    "mdl_partition_scalar",
    "grid_traverse",
    "grid_traverse_batch",
    "offset_polyline",
    "sweep_representative",
    "log2s",
    "log2f",
    "label_components",
    "dbscan_segments",
]

_EPS = 1e-12


def segment_length(x1, y1, x2, y2):
    """Euclidean length, vectorized."""
    return np.hypot(np.asarray(x2) - np.asarray(x1), np.asarray(y2) - np.asarray(y1))


def _project_t(px, py, bx1, by1, ux, uy, ll2):
    """Parameter t of the projection of (px,py) onto the base line
    (bx1,by1)+t*(ux,uy); ll2 = ux^2+uy^2 (>0 guarded by caller)."""
    return ((px - bx1) * ux + (py - by1) * uy) / ll2


def traclus_distance(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2,
                     w_perp=1.0, w_par=1.0, w_ang=1.0):
    """TRACLUS segment distance, vectorized over N pairs.

    Returns (d_perp, d_par, d_ang, dist) float64 arrays. The longer segment
    of each pair is the base Li ([T] §3.2.2 Defns 2-4). Zero-length segments
    must be filtered upstream; a degenerate base is guarded to avoid NaN.
    """
    ax1, ay1, ax2, ay2, bx1, by1, bx2, by2 = (
        np.asarray(v, dtype=np.float64) for v in (ax1, ay1, ax2, ay2, bx1, by1, bx2, by2)
    )
    len_a = np.hypot(ax2 - ax1, ay2 - ay1)
    len_b = np.hypot(bx2 - bx1, by2 - by1)
    a_is_base = len_a >= len_b

    # base segment (Li) and other segment (Lj)
    Bx1 = np.where(a_is_base, ax1, bx1)
    By1 = np.where(a_is_base, ay1, by1)
    Bx2 = np.where(a_is_base, ax2, bx2)
    By2 = np.where(a_is_base, ay2, by2)
    Ox1 = np.where(a_is_base, bx1, ax1)
    Oy1 = np.where(a_is_base, by1, ay1)
    Ox2 = np.where(a_is_base, bx2, ax2)
    Oy2 = np.where(a_is_base, by2, ay2)
    len_base = np.where(a_is_base, len_a, len_b)
    len_other = np.where(a_is_base, len_b, len_a)

    ux = Bx2 - Bx1
    uy = By2 - By1
    ll2 = np.maximum(ux * ux + uy * uy, _EPS)

    # perpendicular: project Lj's endpoints onto Li's line ([T] Defn 2)
    t1 = _project_t(Ox1, Oy1, Bx1, By1, ux, uy, ll2)
    t2 = _project_t(Ox2, Oy2, Bx1, By1, ux, uy, ll2)
    p1x = Bx1 + t1 * ux
    p1y = By1 + t1 * uy
    p2x = Bx1 + t2 * ux
    p2y = By1 + t2 * uy
    l_perp1 = np.hypot(Ox1 - p1x, Oy1 - p1y)
    l_perp2 = np.hypot(Ox2 - p2x, Oy2 - p2y)
    perp_sum = l_perp1 + l_perp2
    d_perp = np.where(perp_sum > 0,
                      (l_perp1 * l_perp1 + l_perp2 * l_perp2) / np.maximum(perp_sum, _EPS),
                      0.0)

    # parallel: min distance from each projection to the base's endpoints,
    # min over the two projections ([T] Defn 3; pinned convention above)
    l_par1 = np.minimum(np.abs(t1), np.abs(1.0 - t1)) * len_base
    l_par2 = np.minimum(np.abs(t2), np.abs(1.0 - t2)) * len_base
    d_par = np.minimum(l_par1, l_par2)

    # angular ([T] Defn 4): dθ = ‖Lj‖·sinθ for θ∈[0°,90°), ‖Lj‖ for θ≥90°.
    # sinθ from the CROSS product (|u×v|/‖u‖‖v‖), not sqrt(1−cos²): the
    # sqrt form loses ~half the float digits near θ=0 (exactly-parallel
    # segments got O(1e-6) noise), the cross form is exact there — and the
    # Catalyst/DuckDB twins reproduce it to ~1 ulp
    vx = Ox2 - Ox1
    vy = Oy2 - Oy1
    denom = np.maximum(len_base * len_other, _EPS)
    cos_t = np.clip((ux * vx + uy * vy) / denom, -1.0, 1.0)
    sin_t = np.minimum(np.abs(ux * vy - uy * vx) / denom, 1.0)
    d_ang = np.where(cos_t >= 0.0, len_other * sin_t, len_other)

    dist = w_perp * d_perp + w_par * d_par + w_ang * d_ang
    return d_perp, d_par, d_ang, dist


def point_segment_distance(px, py, x1, y1, x2, y2):
    """Distance from point(s) to segment(s), vectorized (broadcasting ok)."""
    px, py, x1, y1, x2, y2 = (np.asarray(v, dtype=np.float64) for v in (px, py, x1, y1, x2, y2))
    ux = x2 - x1
    uy = y2 - y1
    ll2 = ux * ux + uy * uy
    t = np.where(ll2 > 0, ((px - x1) * ux + (py - y1) * uy) / np.maximum(ll2, _EPS), 0.0)
    t = np.clip(t, 0.0, 1.0)
    cx = x1 + t * ux
    cy = y1 + t * uy
    return np.hypot(px - cx, py - cy)


def hausdorff_distance(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2):
    """Exact Hausdorff distance between 2-D segments, vectorized.

    For segments the directed Hausdorff sup is attained at an endpoint
    (point→segment distance along a segment is convex), so
    H = max over the four endpoint-to-other-segment distances.
    Used by the refine step alongside the TRACLUS distance (BASELINE.json:6
    "exact Hausdorff/perpendicular-parallel-angular distance refine").
    """
    d1 = point_segment_distance(ax1, ay1, bx1, by1, bx2, by2)
    d2 = point_segment_distance(ax2, ay2, bx1, by1, bx2, by2)
    d3 = point_segment_distance(bx1, by1, ax1, ay1, ax2, ay2)
    d4 = point_segment_distance(bx2, by2, ax1, ay1, ax2, ay2)
    return np.maximum(np.maximum(d1, d2), np.maximum(d3, d4))


def point_in_polygon(px, py, ring):
    """Even-odd ray-crossing test, vectorized over points.

    px, py: (N,) arrays. ring: (M,2) array of polygon vertices (closed or
    open — the closing edge is implied). Points exactly on an edge follow the
    half-open crossing rule (deterministic; adversarial on-edge cases are
    covered in tests). Returns (N,) bool.
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    ring = np.asarray(ring, dtype=np.float64)
    if ring.shape[0] >= 2 and np.array_equal(ring[0], ring[-1]):
        ring = ring[:-1]
    x1 = ring[:, 0]
    y1 = ring[:, 1]
    x2 = np.roll(ring[:, 0], -1)
    y2 = np.roll(ring[:, 1], -1)
    # crossing: edge straddles the horizontal line at py (half-open), and the
    # intersection x is strictly right of px
    PY = py[:, None]
    PX = px[:, None]
    cond = (y1[None, :] > PY) != (y2[None, :] > PY)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x1[None, :] + (PY - y1[None, :]) / (y2[None, :] - y1[None, :]) * (x2 - x1)[None, :]
    crossings = cond & (PX < xint)
    return (crossings.sum(axis=1) % 2).astype(bool)


def log2s(x):
    """log2 with a zero convention log2s(x)=0 for x<=0 (entropy-style sums)."""
    x = np.asarray(x, dtype=np.float64)
    out = np.zeros_like(x)
    np.log2(x, out=out, where=x > 0)
    return out


def log2f(x):
    """log2 floored at 1e-300 — the pinned MDL convention (≈ -996.6 for 0)."""
    return np.log2(np.maximum(np.asarray(x, dtype=np.float64), 1e-300))


def _mdl_par_cost(pts: np.ndarray, i: int, j: int, w_perp: float, w_ang: float) -> float:
    """MDL_par(p_i, p_j) = L(H) + L(D|H) ([T] §3.3).

    L(H) = log2 len(p_i, p_j);
    L(D|H) = log2 Σ d⊥(chord, unit segs) + log2 Σ dθ(chord, unit segs),
    with the chord as base Li (asymmetric, per the paper's formula).
    """
    chord = pts[j] - pts[i]
    chord_len = float(np.hypot(chord[0], chord[1]))
    lh = float(log2f(chord_len))

    seg_start = pts[i:j]
    seg_end = pts[i + 1:j + 1]
    ll2 = max(chord_len * chord_len, _EPS)
    # perpendicular of unit-segment endpoints vs the chord line
    t1 = ((seg_start[:, 0] - pts[i, 0]) * chord[0] + (seg_start[:, 1] - pts[i, 1]) * chord[1]) / ll2
    t2 = ((seg_end[:, 0] - pts[i, 0]) * chord[0] + (seg_end[:, 1] - pts[i, 1]) * chord[1]) / ll2
    p1 = pts[i] + t1[:, None] * chord
    p2 = pts[i] + t2[:, None] * chord
    l1 = np.hypot(seg_start[:, 0] - p1[:, 0], seg_start[:, 1] - p1[:, 1])
    l2 = np.hypot(seg_end[:, 0] - p2[:, 0], seg_end[:, 1] - p2[:, 1])
    s = l1 + l2
    d_perp = np.where(s > 0, (l1 * l1 + l2 * l2) / np.maximum(s, _EPS), 0.0)

    v = seg_end - seg_start
    vlen = np.hypot(v[:, 0], v[:, 1])
    denom = np.maximum(chord_len * vlen, _EPS)
    cos_t = np.clip((v[:, 0] * chord[0] + v[:, 1] * chord[1]) / denom, -1.0, 1.0)
    sin_t = np.sqrt(np.maximum(1.0 - cos_t * cos_t, 0.0))
    d_ang = np.where(cos_t >= 0.0, vlen * sin_t, vlen)

    ldh = float(log2f(w_perp * float(d_perp.sum()))) + float(log2f(w_ang * float(d_ang.sum())))
    return lh + ldh


def mdl_partition_scalar(pts: np.ndarray, w_perp: float = 1.0,
                         w_ang: float = 1.0) -> np.ndarray:
    """Approximate Trajectory Partitioning ([T] §3.3 Fig. 8), one candidate
    per step — the REFERENCE walk. Kept as the equivalence oracle for the
    batched production path below (tests assert identical characteristic
    points); not on the hot path.
    """
    pts = np.asarray(pts, dtype=np.float64)
    n = pts.shape[0]
    if n <= 2:
        return np.arange(n, dtype=np.int64)
    cp = [0]
    start = 0
    length = 1
    unit_lens = np.hypot(np.diff(pts[:, 0]), np.diff(pts[:, 1]))
    unit_lh = log2f(unit_lens)
    cum_lh = np.concatenate([[0.0], np.cumsum(unit_lh)])
    while start + length < n:
        cur = start + length
        cost_par = _mdl_par_cost(pts, start, cur, w_perp, w_ang)
        cost_nopar = float(cum_lh[cur] - cum_lh[start])
        if cost_par > cost_nopar:
            cp.append(cur - 1)
            start = cur - 1
            length = 1
        else:
            length += 1
    if cp[-1] != n - 1:
        cp.append(n - 1)
    return np.asarray(cp, dtype=np.int64)


def _mdl_par_costs_batch(pts: np.ndarray, start: int, lo: int, hi: int,
                         w_perp: float, w_ang: float) -> np.ndarray:
    """MDL_par(p_start, p_cur) for EVERY candidate cur in [lo, hi] at once.

    Vectorizes _mdl_par_cost across candidates (VERDICT r02 What's-wrong
    #3: the per-candidate recomputation made the MDL walk O(n·w̄) numpy
    CALLS — call overhead, not flops, dominated every bench). The
    (K candidates × J units) matrices use elementwise broadcasting ONLY —
    no BLAS matmul, whose FMA contraction would change float results —
    and each candidate's Σd⊥ / Σdθ reduces over exactly the same value
    slice in the same order as the scalar walk, so costs are
    bit-identical (equivalence test-gated on random walks).
    """
    K = hi - lo + 1
    chord = pts[lo:hi + 1] - pts[start]                      # (K,2)
    cx = chord[:, 0][:, None]
    cy = chord[:, 1][:, None]
    chord_len = np.hypot(chord[:, 0], chord[:, 1])           # (K,)
    lh = log2f(chord_len)
    ll2 = np.maximum(chord_len * chord_len, _EPS)[:, None]   # (K,1)

    seg_start = pts[start:hi]                                # (J,2)
    seg_end = pts[start + 1:hi + 1]
    s1x = seg_start[:, 0][None, :]
    s1y = seg_start[:, 1][None, :]
    s2x = seg_end[:, 0][None, :]
    s2y = seg_end[:, 1][None, :]
    px, py = pts[start, 0], pts[start, 1]

    t1 = ((s1x - px) * cx + (s1y - py) * cy) / ll2           # (K,J)
    t2 = ((s2x - px) * cx + (s2y - py) * cy) / ll2
    l1 = np.hypot(s1x - (px + t1 * cx), s1y - (py + t1 * cy))
    l2 = np.hypot(s2x - (px + t2 * cx), s2y - (py + t2 * cy))
    s = l1 + l2
    d_perp = np.where(s > 0, (l1 * l1 + l2 * l2) / np.maximum(s, _EPS), 0.0)

    vx = s2x - s1x
    vy = s2y - s1y
    vlen = np.hypot(vx, vy)                                  # (1,J)
    denom = np.maximum(chord_len[:, None] * vlen, _EPS)      # (K,J)
    cos_t = np.clip((vx * cx + vy * cy) / denom, -1.0, 1.0)
    sin_t = np.sqrt(np.maximum(1.0 - cos_t * cos_t, 0.0))
    d_ang = np.where(cos_t >= 0.0, vlen * sin_t, vlen)

    # per-candidate Σ over its exact unit slice (same np.sum reduction as
    # the scalar walk ⇒ bit-identical); the log2 terms vectorize across
    # candidates with the scalar walk's association: lh + (ldh⊥ + ldhθ)
    perp_s = np.empty(K, dtype=np.float64)
    ang_s = np.empty(K, dtype=np.float64)
    for k in range(K):
        m = lo - start + k          # units in candidate cur = lo + k
        perp_s[k] = d_perp[k, :m].sum()
        ang_s[k] = d_ang[k, :m].sum()
    return lh + (log2f(w_perp * perp_s) + log2f(w_ang * ang_s))


def mdl_partition(pts: np.ndarray, w_perp: float = 1.0, w_ang: float = 1.0,
                  batch: int = 8) -> np.ndarray:
    """Approximate Trajectory Partitioning ([T] §3.3 Fig. 8) — batched walk.

    Same decision sequence as mdl_partition_scalar (first candidate whose
    MDL_par exceeds MDL_nopar becomes a characteristic point), but
    candidates are evaluated `batch` at a time through the vectorized cost
    kernel, cutting numpy-call overhead ~batch× on the hot path.

    pts: (n,2) float64 array of one trajectory's points in seq order.
    Returns indices of characteristic points (always includes 0 and n-1).
    """
    pts = np.asarray(pts, dtype=np.float64)
    n = pts.shape[0]
    if n <= 2:
        return np.arange(n, dtype=np.int64)
    cp = [0]
    start = 0
    nxt = 1                          # next candidate cur for this start
    unit_lens = np.hypot(np.diff(pts[:, 0]), np.diff(pts[:, 1]))
    cum_lh = np.concatenate([[0.0], np.cumsum(log2f(unit_lens))])
    while nxt < n:
        hi = min(n - 1, nxt + batch - 1)
        costs = _mdl_par_costs_batch(pts, start, nxt, hi, w_perp, w_ang)
        nopar = cum_lh[nxt:hi + 1] - cum_lh[start]
        brk = np.nonzero(costs > nopar)[0]
        if brk.size:
            cur = nxt + int(brk[0])
            cp.append(cur - 1)
            start = cur - 1
            nxt = cur
        else:
            nxt = hi + 1
    if cp[-1] != n - 1:
        cp.append(n - 1)
    return np.asarray(cp, dtype=np.int64)


def grid_traverse(x1: float, y1: float, x2: float, y2: float, cell: float,
                  ox: float = 0.0, oy: float = 0.0):
    """Cells (ix, iy) traversed by segment (x1,y1)-(x2,y2) on a grid with
    origin (ox,oy) and cell size `cell` — Amanatides-Woo DDA, deterministic.

    Returns an (M,2) int64 array including the start and end cells and every
    cell the open segment passes through. Used for both occupancy rasters
    (0.5 m cells) and the ε-join cell-cover prefilter (SURVEY.md §2.4, §2.9).
    """
    ix = int(np.floor((x1 - ox) / cell))
    iy = int(np.floor((y1 - oy) / cell))
    ix2 = int(np.floor((x2 - ox) / cell))
    iy2 = int(np.floor((y2 - oy) / cell))
    cells = [(ix, iy)]
    dx = x2 - x1
    dy = y2 - y1
    step_x = 1 if dx > 0 else -1
    step_y = 1 if dy > 0 else -1
    if dx != 0:
        nx = (ix + (1 if dx > 0 else 0)) * cell + ox
        t_max_x = (nx - x1) / dx
        t_dx = cell / abs(dx)
    else:
        t_max_x = np.inf
        t_dx = np.inf
    if dy != 0:
        ny = (iy + (1 if dy > 0 else 0)) * cell + oy
        t_max_y = (ny - y1) / dy
        t_dy = cell / abs(dy)
    else:
        t_max_y = np.inf
        t_dy = np.inf
    guard = 0
    max_steps = abs(ix2 - ix) + abs(iy2 - iy) + 4
    while (ix != ix2 or iy != iy2) and guard < max_steps:
        if t_max_x < t_max_y:
            ix += step_x
            t_max_x += t_dx
        else:
            iy += step_y
            t_max_y += t_dy
        cells.append((ix, iy))
        guard += 1
    if (ix, iy) != (ix2, iy2):
        cells.append((ix2, iy2))
    return np.asarray(cells, dtype=np.int64)


def grid_traverse_batch(x1, y1, x2, y2, cell: float,
                        ox: float = 0.0, oy: float = 0.0):
    """Vectorized supercover grid traversal for a BATCH of segments —
    replaces the per-row Python grid_traverse loop on the raster hot path
    (VERDICT r01 What's-wrong #5).

    Returns (owners, gx, gy) flat int64 arrays: segment i traverses cells
    {(gx[j], gy[j]) : owners[j] == i}. Method: all grid-line crossing
    parameters t per segment (flattened across the batch), lexsorted per
    owner; each inter-crossing interval's midpoint identifies one cell.
    Matches grid_traverse cell-for-cell except exact corner crossings
    (measure-zero on float data; there A-W visits one tie-break
    intermediate cell, this method visits none — both are valid
    supercovers; equivalence is test-gated on generic inputs).
    """
    a1 = (np.asarray(x1, dtype=np.float64) - ox) / cell
    b1 = (np.asarray(y1, dtype=np.float64) - oy) / cell
    a2 = (np.asarray(x2, dtype=np.float64) - ox) / cell
    b2 = (np.asarray(y2, dtype=np.float64) - oy) / cell
    n = a1.shape[0]
    ix1 = np.floor(a1).astype(np.int64)
    iy1 = np.floor(b1).astype(np.int64)
    ix2 = np.floor(a2).astype(np.int64)
    iy2 = np.floor(b2).astype(np.int64)
    dx = a2 - a1
    dy = b2 - b1

    def crossings(i1, i2, start, delta):
        cnt = np.abs(i2 - i1)
        tot = int(cnt.sum())
        if tot == 0:
            return (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64),
                    cnt)
        own = np.repeat(np.arange(n, dtype=np.int64), cnt)
        offs = np.concatenate([[0], np.cumsum(cnt)[:-1]])
        j = np.arange(tot, dtype=np.int64) - np.repeat(offs, cnt)
        pos = delta[own] > 0
        k = np.where(pos, i1[own] + 1 + j, i1[own] - j).astype(np.float64)
        t = (k - start[own]) / delta[own]
        return own, t, cnt

    own_x, t_x, cnt_x = crossings(ix1, ix2, a1, dx)
    own_y, t_y, cnt_y = crossings(iy1, iy2, b1, dy)
    owners_c = np.concatenate([own_x, own_y])
    ts = np.concatenate([t_x, t_y])
    order = np.lexsort((ts, owners_c))
    ts = ts[order]

    counts = cnt_x + cnt_y          # crossings per segment
    m = counts + 1                  # intervals per segment
    tot_m = int(m.sum())
    own_m = np.repeat(np.arange(n, dtype=np.int64), m)
    m_offs = np.concatenate([[0], np.cumsum(m)[:-1]])
    within = np.arange(tot_m, dtype=np.int64) - np.repeat(m_offs, m)
    t_offs = np.concatenate([[0], np.cumsum(counts)[:-1]])
    t_base = np.repeat(t_offs, m)
    ts_safe = ts if ts.size else np.zeros(1, dtype=np.float64)
    lo = np.where(within == 0, 0.0,
                  ts_safe[np.maximum(t_base + within - 1, 0)])
    hi = np.where(within == np.repeat(m, m) - 1, 1.0,
                  ts_safe[np.minimum(t_base + within, ts_safe.size - 1)])
    # drop zero-width intervals (exact corner crossings) except the single
    # interval of a within-one-cell segment
    keep = (hi > lo) | (np.repeat(m, m) == 1)
    own_m = own_m[keep]
    tmid = (lo[keep] + hi[keep]) / 2.0
    gx = np.floor(a1[own_m] + tmid * dx[own_m]).astype(np.int64)
    gy = np.floor(b1[own_m] + tmid * dy[own_m]).astype(np.int64)
    return own_m, gx, gy


def offset_polyline(pts: np.ndarray, half_w: float,
                    miter_cap: float = 4.0) -> np.ndarray:
    """Miter-join offset polygon (corridor buffer) around an open polyline.

    pts: (m,2) float64, m ≥ 2, consecutive duplicates allowed (dropped).
    Returns a closed-by-implication CCW ring (2m',2): the left offsets in
    order followed by the right offsets reversed. Miter length is capped at
    `miter_cap` × half_w (sharp turns get a beveled-ish miter instead of a
    spike). Deterministic float64 throughout.
    """
    pts = np.asarray(pts, dtype=np.float64)
    if pts.shape[0] >= 2:
        keep = np.concatenate([[True], (np.diff(pts, axis=0) != 0).any(axis=1)])
        pts = pts[keep]
    m = pts.shape[0]
    if m < 2:
        raise ValueError("offset_polyline needs >= 2 distinct points")
    d = np.diff(pts, axis=0)
    ln = np.hypot(d[:, 0], d[:, 1])
    ux = d[:, 0] / ln
    uy = d[:, 1] / ln
    # left normal of each edge
    nx = -uy
    ny = ux
    # per-vertex offset direction: edge normal at the ends, normalized sum
    # of adjacent normals in the middle (miter direction)
    vx = np.empty(m)
    vy = np.empty(m)
    scale = np.ones(m)
    vx[0], vy[0] = nx[0], ny[0]
    vx[-1], vy[-1] = nx[-1], ny[-1]
    for i in range(1, m - 1):
        sx = nx[i - 1] + nx[i]
        sy = ny[i - 1] + ny[i]
        norm = np.hypot(sx, sy)
        if norm < 1e-12:  # 180° turn — fall back to the next edge's normal
            vx[i], vy[i] = nx[i], ny[i]
            continue
        mx, my = sx / norm, sy / norm
        # miter length = half_w / cos(θ/2); cos(θ/2) = dot(miter, edge normal)
        cos_half = mx * nx[i] + my * ny[i]
        vx[i], vy[i] = mx, my
        scale[i] = 1.0 / max(cos_half, 1.0 / miter_cap)
    off_x = vx * half_w * scale
    off_y = vy * half_w * scale
    left = np.stack([pts[:, 0] + off_x, pts[:, 1] + off_y], axis=1)
    right = np.stack([pts[:, 0] - off_x, pts[:, 1] - off_y], axis=1)
    ring = np.concatenate([left, right[::-1]], axis=0)
    # orient CCW (positive shoelace area), matching the tiles convention
    x = ring[:, 0]
    y = ring[:, 1]
    area2 = float(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))
    if area2 < 0:
        ring = ring[::-1]
    return ring


def sweep_representative(segs: np.ndarray, min_lns: int, gamma: float,
                         with_spread: bool = False):
    """Representative trajectory of one cluster ([T] §4.3 Fig. 13).

    segs: (n,4) float64 (x1,y1,x2,y2) of the cluster's segments.
    Returns (m,2) float64 polyline (may be empty if no sweep position has
    ≥ min_lns crossing segments). With with_spread=True returns (m,3): the
    third column is the robust crossing spread at each emitted point —
    2 × the 0.9-quantile of |y'ᵢ − avg y'| over the crossing segments —
    i.e. the local corridor width estimate (rotation-invariant), used by
    the corridor-buffer operator (SURVEY.md §2.9 row 2). The default path
    is unchanged (golden fixtures pin it).

    Pinned conventions (oracle and engine share them, SURVEY.md §5.1):
      * average direction V = Σ of segment vectors, each flipped so that
        (vx > 0) or (vx == 0 and vy >= 0) — deterministic half-plane flip.
      * endpoints sorted by (x', y') lexicographically; ties keep both.
      * a segment "crosses" sweep position x' when x'min <= x' <= x'max.
      * emit when #crossings >= min_lns and x' - last_emitted_x' >= gamma
        (the first qualifying position always emits).
    """
    segs = np.asarray(segs, dtype=np.float64)
    vx = segs[:, 2] - segs[:, 0]
    vy = segs[:, 3] - segs[:, 1]
    flip = (vx < 0) | ((vx == 0) & (vy < 0))
    vx = np.where(flip, -vx, vx)
    vy = np.where(flip, -vy, vy)
    sx = float(vx.sum())
    sy = float(vy.sum())
    norm = float(np.hypot(sx, sy))
    if norm <= 0:
        cx, cy = 1.0, 0.0
    else:
        cx, cy = sx / norm, sy / norm  # unit vector of X'

    # rotate: x' = x*cx + y*cy ; y' = -x*cy + y*cx
    def rot_x(x, y):
        return x * cx + y * cy

    def rot_y(x, y):
        return -x * cy + y * cx

    e1x = rot_x(segs[:, 0], segs[:, 1])
    e1y = rot_y(segs[:, 0], segs[:, 1])
    e2x = rot_x(segs[:, 2], segs[:, 3])
    e2y = rot_y(segs[:, 2], segs[:, 3])
    lo = np.minimum(e1x, e2x)
    hi = np.maximum(e1x, e2x)
    # y' at sweep position via linear interpolation along each segment
    all_x = np.concatenate([e1x, e2x])
    all_y = np.concatenate([e1y, e2y])
    order = np.lexsort((all_y, all_x))
    xs = all_x[order]
    ys = all_y[order]

    out = []
    last_x = -np.inf
    for k in range(xs.shape[0]):
        x = float(xs[k])
        mask = (lo <= x) & (hi >= x)
        cnt = int(mask.sum())
        if cnt >= min_lns and (x - last_x) >= gamma:
            span = hi[mask] - lo[mask]
            t = np.where(span > 0, (x - lo[mask]) / np.maximum(span, _EPS), 0.5)
            ylo = np.where(e1x[mask] <= e2x[mask], e1y[mask], e2y[mask])
            yhi = np.where(e1x[mask] <= e2x[mask], e2y[mask], e1y[mask])
            yint = ylo + t * (yhi - ylo)
            avg_y = float(yint.sum() / cnt)
            if with_spread:
                spread = 2.0 * float(np.quantile(np.abs(yint - avg_y), 0.9))
                out.append((x, avg_y, spread))
            else:
                out.append((x, avg_y))
            last_x = x
    if not out:
        return np.zeros((0, 3 if with_spread else 2), dtype=np.float64)
    arr = np.asarray(out, dtype=np.float64)
    # rotate back: x = x'*cx - y'*cy ; y = x'*cy + y'*cx
    bx = arr[:, 0] * cx - arr[:, 1] * cy
    by = arr[:, 0] * cy + arr[:, 1] * cx
    if with_spread:
        return np.stack([bx, by, arr[:, 2]], axis=1)
    return np.stack([bx, by], axis=1)


def label_components(n: int, a, b) -> tuple[np.ndarray, int]:
    """Connected components of nodes 0..n−1 under undirected edges
    (a[k], b[k]): (lab, rounds), lab[i] = the minimum node of i's
    component.

    Hook and shortcut: every round each tree root hooks onto the smallest
    root adjacent to its tree (np.minimum.at), then pointer jumping runs
    to a fixed point, so every tree is a star again. Pointers only ever
    decrease, so trees stay acyclic and each root is its tree's minimum.
    A star with no smaller neighbour does not hook; if no star hooked
    onto it either, its neighbours all joined trees with smaller roots,
    so it hooks in the next round. Two rounds therefore at least halve
    the stars of every unfinished component, and more than
    2·bit_length(n) + 2 rounds means a defect: RuntimeError."""
    a = np.asarray(a, dtype=np.int64)
    b = np.asarray(b, dtype=np.int64)
    lab = np.arange(n, dtype=np.int64)
    bound = 2 * max(n, 1).bit_length() + 2
    rounds = 0
    while True:
        la, lb = lab[a], lab[b]
        cross = la != lb
        if not cross.any():
            return lab, rounds
        if rounds == bound:
            raise RuntimeError(
                f"label_components: {int(cross.sum())} edges still join "
                f"two trees after {bound} rounds")
        rounds += 1
        la, lb = la[cross], lb[cross]
        np.minimum.at(lab, la, lb)
        np.minimum.at(lab, lb, la)
        while True:
            nxt = lab[lab]
            if np.array_equal(nxt, lab):
                break
            lab = nxt


def dbscan_segments(seg_id, traj_id, a_seg, b_seg, min_lns: int):
    """Line-segment DBSCAN ([T] §4.2) over one ε-graph held in memory:
    segments (seg_id, traj_id) and their ε-pairs (a_seg, b_seg), each
    unordered pair once. Returns (seg_id, comp, is_core) arrays of the
    clustered segments; comp is the minimum seg_id of the cluster's core
    component, noise segments are absent.

      1. |Nε(L)| = 1 + the pairs L is in; cores have |Nε| ≥ MinLns.
      2. clusters = connected components of the core-core pairs.
      3. a non-core segment with a core neighbour joins the minimum
         adjacent comp (the paper's first-come queue order is not
         reproducible in parallel; min is).
      4. clusters with |PTR(C)| < MinLns distinct trajectories go.

    A pair endpoint that is not among the segments counts towards its
    partner's |Nε| but is never assigned: it has no trajectory."""
    seg_id = np.asarray(seg_id, dtype=np.int64)
    order = np.argsort(seg_id, kind="stable")
    sid = seg_id[order]
    tid = np.asarray(traj_id, dtype=np.int64)[order]
    n = len(sid)
    if n == 0:
        return sid, sid.copy(), np.zeros(0, bool)

    def index(ids):
        ids = np.asarray(ids, dtype=np.int64)
        i = np.minimum(np.searchsorted(sid, ids), n - 1)
        return i, sid[i] == ids

    ia, fa = index(a_seg)
    ib, fb = index(b_seg)
    n_eps = 1 + (np.bincount(ia[fa], minlength=n)
                 + np.bincount(ib[fb], minlength=n))
    core = n_eps >= min_lns

    both = fa & fb
    ca, cb = core[ia] & both, core[ib] & both
    cc = ca & cb
    lab, _ = label_components(n, ia[cc], ib[cc])
    none = np.iinfo(np.int64).max
    comp = np.where(core, sid[lab], none)

    # border attachment over the pairs with exactly one core endpoint
    # (the core-core pairs lie inside one comp already)
    attach = comp.copy()
    ab = ca & ~cb
    ba = cb & ~ca
    np.minimum.at(attach, ib[ab], comp[ia[ab]])
    np.minimum.at(attach, ia[ba], comp[ib[ba]])

    # |PTR(C)| ≥ MinLns: distinct (comp, traj) pairs counted per comp
    assigned = attach != none
    comp_traj = np.unique(np.stack([attach[assigned], tid[assigned]], axis=1),
                          axis=0)
    comps, n_traj = np.unique(comp_traj[:, 0], return_counts=True)
    keep = np.isin(attach, comps[n_traj >= min_lns])
    return sid[keep], attach[keep], core[keep]
