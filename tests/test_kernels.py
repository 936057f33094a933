"""Kernel unit tests vs brute force (SURVEY.md §5.2-1).

Every numpy kernel is checked against an obviously-correct scalar
implementation on seeded random inputs plus adversarial cases (collinear,
zero-ish length, vertical, on-edge points, antipodal angles).
"""

import math

import numpy as np
import pytest

from imc import kernels


# ---------- scalar brute-force oracles (obviously correct, slow) ----------

def scalar_point_seg_dist(px, py, x1, y1, x2, y2):
    ux, uy = x2 - x1, y2 - y1
    ll = ux * ux + uy * uy
    if ll == 0:
        return math.hypot(px - x1, py - y1)
    t = max(0.0, min(1.0, ((px - x1) * ux + (py - y1) * uy) / ll))
    return math.hypot(px - (x1 + t * ux), py - (y1 + t * uy))


def scalar_traclus(a, b, w=(1.0, 1.0, 1.0)):
    la = math.hypot(a[2] - a[0], a[3] - a[1])
    lb = math.hypot(b[2] - b[0], b[3] - b[1])
    if la >= lb:
        base, other, lbase, lother = a, b, la, lb
    else:
        base, other, lbase, lother = b, a, lb, la
    ux, uy = base[2] - base[0], base[3] - base[1]
    ll = ux * ux + uy * uy

    def proj(px, py):
        t = ((px - base[0]) * ux + (py - base[1]) * uy) / ll
        return t, base[0] + t * ux, base[1] + t * uy

    t1, p1x, p1y = proj(other[0], other[1])
    t2, p2x, p2y = proj(other[2], other[3])
    l1 = math.hypot(other[0] - p1x, other[1] - p1y)
    l2 = math.hypot(other[2] - p2x, other[3] - p2y)
    d_perp = 0.0 if (l1 + l2) == 0 else (l1 * l1 + l2 * l2) / (l1 + l2)
    lp1 = min(abs(t1), abs(1 - t1)) * lbase
    lp2 = min(abs(t2), abs(1 - t2)) * lbase
    d_par = min(lp1, lp2)
    vx, vy = other[2] - other[0], other[3] - other[1]
    cos_t = max(-1.0, min(1.0, (ux * vx + uy * vy) / (lbase * lother)))
    sin_t = math.sqrt(max(0.0, 1 - cos_t * cos_t))
    d_ang = lother * sin_t if cos_t >= 0 else lother
    return w[0] * d_perp + w[1] * d_par + w[2] * d_ang


def scalar_pip(px, py, ring):
    inside = False
    n = len(ring)
    j = n - 1
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[j]
        if (y1 > py) != (y2 > py):
            xint = x1 + (py - y1) / (y2 - y1) * (x2 - x1)
            if px < xint:
                inside = not inside
        j = i
    return inside


# ------------------------------- tests -------------------------------------

def random_segments(n, seed):
    rng = np.random.default_rng(seed)
    s = rng.uniform(-10, 10, size=(n, 4))
    # avoid zero-length
    s[:, 2] += 0.05
    return s


def test_traclus_matches_scalar():
    a = random_segments(300, 1)
    b = random_segments(300, 2)
    _, _, _, dist = kernels.traclus_distance(a[:, 0], a[:, 1], a[:, 2], a[:, 3],
                                             b[:, 0], b[:, 1], b[:, 2], b[:, 3])
    for i in range(a.shape[0]):
        assert dist[i] == pytest.approx(scalar_traclus(a[i], b[i]), abs=1e-9)


def test_traclus_symmetry_and_identity():
    a = random_segments(200, 3)
    b = random_segments(200, 4)
    _, _, _, d1 = kernels.traclus_distance(a[:, 0], a[:, 1], a[:, 2], a[:, 3],
                                           b[:, 0], b[:, 1], b[:, 2], b[:, 3])
    _, _, _, d2 = kernels.traclus_distance(b[:, 0], b[:, 1], b[:, 2], b[:, 3],
                                           a[:, 0], a[:, 1], a[:, 2], a[:, 3])
    np.testing.assert_allclose(d1, d2, atol=1e-9)   # symmetric
    assert np.all(d1 >= 0)
    _, _, _, d0 = kernels.traclus_distance(a[:, 0], a[:, 1], a[:, 2], a[:, 3],
                                           a[:, 0], a[:, 1], a[:, 2], a[:, 3])
    np.testing.assert_allclose(d0, 0.0, atol=1e-6)  # identity (sqrt(1-cos²) rounding)


def test_traclus_adversarial():
    # collinear, overlapping
    _, _, _, d = kernels.traclus_distance([0], [0], [10], [0], [2], [0], [8], [0])
    assert d[0] == pytest.approx(2.0)  # d_par=2 (proj of (2,0) is 2 from si)
    # antiparallel identical: d_ang = length
    _, _, _, d = kernels.traclus_distance([0], [0], [10], [0], [10], [0], [0], [0])
    assert d[0] == pytest.approx(10.0)
    # perpendicular through midpoint
    dp, dpar, dang, d = kernels.traclus_distance([0], [0], [10], [0], [5], [-1], [5], [1])
    assert dang[0] == pytest.approx(2.0)
    # vertical segments
    _, _, _, d = kernels.traclus_distance([0], [0], [0], [10], [1], [0], [1], [10])
    assert d[0] == pytest.approx(1.0)


def test_hausdorff_matches_brute():
    a = random_segments(200, 5)
    b = random_segments(200, 6)
    h = kernels.hausdorff_distance(a[:, 0], a[:, 1], a[:, 2], a[:, 3],
                                   b[:, 0], b[:, 1], b[:, 2], b[:, 3])
    # brute: sample the sup side densely, exact point→segment for the inf side
    ts = np.linspace(0, 1, 401)
    for i in range(40):
        pax = a[i, 0] + ts * (a[i, 2] - a[i, 0])
        pay = a[i, 1] + ts * (a[i, 3] - a[i, 1])
        pbx = b[i, 0] + ts * (b[i, 2] - b[i, 0])
        pby = b[i, 1] + ts * (b[i, 3] - b[i, 1])
        da = kernels.point_segment_distance(pax, pay, b[i, 0], b[i, 1], b[i, 2], b[i, 3])
        db = kernels.point_segment_distance(pbx, pby, a[i, 0], a[i, 1], a[i, 2], a[i, 3])
        brute = max(da.max(), db.max())
        assert h[i] == pytest.approx(brute, abs=1e-3)
        assert h[i] >= brute - 1e-9  # endpoint sup is exact ≥ sampled


def test_point_in_polygon():
    ring = np.array([[0, 0], [10, 0], [10, 10], [0, 10]], float)
    rng = np.random.default_rng(7)
    px = rng.uniform(-5, 15, 500)
    py = rng.uniform(-5, 15, 500)
    got = kernels.point_in_polygon(px, py, ring)
    want = np.array([scalar_pip(px[i], py[i], ring.tolist()) for i in range(500)])
    np.testing.assert_array_equal(got, want)
    # concave polygon (L-shape)
    lshape = np.array([[0, 0], [10, 0], [10, 4], [4, 4], [4, 10], [0, 10]], float)
    px = rng.uniform(-2, 12, 500)
    py = rng.uniform(-2, 12, 500)
    got = kernels.point_in_polygon(px, py, lshape)
    want = np.array([scalar_pip(px[i], py[i], lshape.tolist()) for i in range(500)])
    np.testing.assert_array_equal(got, want)
    # on-vertex / on-edge determinism: must not crash, stable result
    edge_pts_x = np.array([0.0, 5.0, 10.0, 0.0])
    edge_pts_y = np.array([0.0, 0.0, 10.0, 5.0])
    r1 = kernels.point_in_polygon(edge_pts_x, edge_pts_y, ring)
    r2 = kernels.point_in_polygon(edge_pts_x, edge_pts_y, ring)
    np.testing.assert_array_equal(r1, r2)


def test_mdl_partition_straight_line():
    # perfectly straight: no interior characteristic points
    pts = np.stack([np.linspace(0, 10, 11), np.zeros(11)], 1)
    cp = kernels.mdl_partition(pts)
    assert cp[0] == 0 and cp[-1] == 10
    assert len(cp) == 2


def test_mdl_partition_right_angle():
    # sharp corner: corner point must be characteristic
    xs = np.concatenate([np.linspace(0, 10, 11), np.full(10, 10.0)])
    ys = np.concatenate([np.zeros(11), np.linspace(1, 10, 10)])
    pts = np.stack([xs, ys], 1)
    cp = kernels.mdl_partition(pts)
    assert 0 in cp and (len(pts) - 1) in cp
    # a characteristic point near the corner (index 10)
    assert any(8 <= c <= 12 for c in cp[1:-1])


def test_mdl_short_trajectories():
    assert list(kernels.mdl_partition(np.array([[0.0, 0.0]]))) == [0]
    assert list(kernels.mdl_partition(np.array([[0.0, 0.0], [1.0, 1.0]]))) == [0, 1]


def test_mdl_batched_walk_equals_scalar_walk():
    """The batched production walk must reproduce the scalar reference walk
    EXACTLY (identical characteristic-point indices) — the goldens pin the
    scalar behavior. Random fixture-like noisy walks, several batch sizes
    (including batch=1 and batch larger than any trajectory)."""
    rng = np.random.default_rng(7)
    for trial in range(60):
        n = int(rng.integers(3, 120))
        # noisy corridor-style walk: straight runs + occasional turns
        heading = rng.uniform(0, 2 * np.pi)
        pts = [np.zeros(2)]
        for _ in range(n - 1):
            if rng.random() < 0.15:
                heading += rng.uniform(-np.pi / 2, np.pi / 2)
            step = np.array([np.cos(heading), np.sin(heading)])
            pts.append(pts[-1] + step + rng.normal(0, 0.1, 2))
        pts = np.asarray(pts)
        want = kernels.mdl_partition_scalar(pts)
        for batch in (1, 3, 16, 256):
            got = kernels.mdl_partition(pts, batch=batch)
            np.testing.assert_array_equal(got, want,
                                          err_msg=f"trial={trial} batch={batch}")


def test_mdl_batched_walk_equals_scalar_on_degenerate_inputs():
    # repeated points (zero-length units) and collinear runs
    pts = np.array([[0.0, 0.0], [0.0, 0.0], [1.0, 0.0], [2.0, 0.0],
                    [2.0, 0.0], [2.0, 1.0], [2.0, 2.0]])
    np.testing.assert_array_equal(kernels.mdl_partition(pts),
                                  kernels.mdl_partition_scalar(pts))


def test_grid_traverse_contains_sampled_cells():
    rng = np.random.default_rng(11)
    for _ in range(100):
        x1, y1, x2, y2 = rng.uniform(-20, 20, 4)
        cells = {(int(a), int(b)) for a, b in kernels.grid_traverse(x1, y1, x2, y2, 1.0)}
        ts = np.linspace(0, 1, 500)
        px = x1 + ts * (x2 - x1)
        py = y1 + ts * (y2 - y1)
        sampled = set(zip(np.floor(px).astype(int), np.floor(py).astype(int)))
        # every sampled cell must be covered (supercover property)
        assert sampled <= cells
        # the cover should not be wildly larger than the true traversal
        assert len(cells) <= len(sampled) + abs(x2 - x1) + abs(y2 - y1) + 4


def test_grid_traverse_axis_aligned_and_degenerate():
    c = kernels.grid_traverse(0.5, 0.5, 3.5, 0.5, 1.0)
    assert [tuple(r) for r in c] == [(0, 0), (1, 0), (2, 0), (3, 0)]
    c = kernels.grid_traverse(0.5, 0.5, 0.5, 0.5, 1.0)  # zero length
    assert [tuple(r) for r in c] == [(0, 0)]
    c = kernels.grid_traverse(0.5, 3.5, 0.5, 0.5, 1.0)  # vertical down
    assert [tuple(r) for r in c] == [(0, 3), (0, 2), (0, 1), (0, 0)]


def test_sweep_parallel_horizontal_lines():
    # 5 horizontal segments at y=0..4, x spans [0,10]: rep ≈ y=2 line
    segs = np.array([[0, y, 10, y] for y in range(5)], float)
    rep = kernels.sweep_representative(segs, min_lns=3, gamma=1.0)
    assert rep.shape[0] >= 2
    np.testing.assert_allclose(rep[:, 1], 2.0, atol=1e-9)
    assert rep[0, 0] <= rep[-1, 0]
    # direction flip invariance: reversing some segments changes nothing
    segs2 = segs.copy()
    segs2[1] = [10, 1, 0, 1]
    segs2[3] = [10, 3, 0, 3]
    rep2 = kernels.sweep_representative(segs2, min_lns=3, gamma=1.0)
    np.testing.assert_allclose(rep, rep2, atol=1e-9)


def test_sweep_too_sparse_returns_empty():
    segs = np.array([[0, 0, 10, 0]], float)
    rep = kernels.sweep_representative(segs, min_lns=3, gamma=1.0)
    assert rep.shape == (0, 2)


def test_log2s():
    assert kernels.log2s(0.0) == 0.0
    assert kernels.log2s(-1.0) == 0.0
    assert kernels.log2s(8.0) == 3.0


def test_grid_traverse_batch_equals_scalar():
    """Vectorized supercover ≡ per-segment Amanatides-Woo on generic
    float inputs (exact corner crossings excluded by construction — noise
    makes them measure-zero; corner tie-breaks are documented to differ)."""
    rng = np.random.default_rng(17)
    n = 400
    x1 = rng.uniform(-30, 30, n)
    y1 = rng.uniform(-30, 30, n)
    ang = rng.uniform(0, 2 * np.pi, n)
    ln = rng.uniform(0, 25, n)
    x2 = x1 + ln * np.cos(ang)
    y2 = y1 + ln * np.sin(ang)
    # axis-aligned + degenerate rows mixed in
    x2[:40] = x1[:40] + rng.uniform(0.1, 20, 40)   # horizontal-ish
    y2[:40] = y1[:40]
    x2[40:60] = x1[40:60]
    y2[40:60] = y1[40:60] + rng.uniform(0.1, 20, 20)  # vertical
    x2[60:70] = x1[60:70]
    y2[60:70] = y1[60:70]                           # zero length
    for cell in (1.0, 0.5, 4.8):
        owners, gx, gy = kernels.grid_traverse_batch(x1, y1, x2, y2, cell)
        for i in range(n):
            want = {(int(a), int(b))
                    for a, b in kernels.grid_traverse(x1[i], y1[i], x2[i], y2[i], cell)}
            sel = owners == i
            got = set(zip(gx[sel].tolist(), gy[sel].tolist()))
            assert got == want, (i, cell)
            assert sel.sum() == len(got)  # no duplicate cells per segment


# ---------- connected components and segment DBSCAN ----------

def _uf_labels(n, a, b):
    from fixtures.oracle import _UF
    uf = _UF(n)
    for x, y in zip(a.tolist(), b.tolist()):
        uf.union(x, y)
    return np.array([uf.find(i) for i in range(n)], dtype=np.int64)


def test_label_components_matches_union_find():
    """Random sparse graphs with isolated ids, planted cliques and
    duplicate, reversed and self-loop edges: labels equal the union-find
    oracle's (its roots are component minima too)."""
    rng = np.random.default_rng(11)
    for _ in range(150):
        n = int(rng.integers(1, 120))
        m = int(rng.integers(0, 2 * n))
        a = rng.integers(0, n, m)
        b = rng.integers(0, n, m)
        clique = rng.choice(n, size=min(n, int(rng.integers(1, 8))),
                            replace=False)
        ca, cb = np.meshgrid(clique, clique)
        a = np.concatenate([a, ca.ravel(), b[: m // 3]])
        b = np.concatenate([b, cb.ravel(), a[: m // 3]])
        lab, _ = kernels.label_components(n, a, b)
        np.testing.assert_array_equal(lab, _uf_labels(n, a, b))
    lab, rounds = kernels.label_components(5, [], [])
    assert lab.tolist() == [0, 1, 2, 3, 4] and rounds == 0


def test_label_components_shuffled_path_rounds():
    """A 10⁴-node path with shuffled ids: one component, and the hooking
    rounds stay logarithmic — well under the raise-on-exceed bound of
    2·bit_length(n) + 2 = 30 (9 at this seed)."""
    n = 10_000
    perm = np.random.default_rng(5).permutation(n)
    lab, rounds = kernels.label_components(n, perm[:-1], perm[1:])
    assert (lab == 0).all()
    assert rounds <= 12
    # ids increasing along the path (consecutive seg_ids of one
    # trajectory) collapse in one round
    lab, rounds = kernels.label_components(n, np.arange(n - 1), np.arange(1, n))
    assert (lab == 0).all() and rounds == 1


def _fixture_segments():
    """MDL segments of the sf0.001 fixture's ground-truth points, built
    without Spark: (seg_id, traj_id, xy[n, 4])."""
    from fixtures import gen_pages
    from imc.segments import SEG_ID_STRIDE
    pts = gen_pages.truth_points(sf=0.001)
    sid, tid, xy = [], [], []
    for t, g in pts.groupby("traj_id"):
        g = g.sort_values("seq")
        p = g[["x", "y"]].to_numpy(np.float64)
        seq = g["seq"].to_numpy(np.int64)
        cp = kernels.mdl_partition(p)
        if len(cp) < 2:
            continue
        sid.append(t * SEG_ID_STRIDE + seq[cp[:-1]])
        tid.append(np.full(len(cp) - 1, t, dtype=np.int64))
        xy.append(np.hstack([p[cp[:-1]], p[cp[1:]]]))
    sid, tid, xy = np.concatenate(sid), np.concatenate(tid), np.vstack(xy)
    keep = kernels.segment_length(*xy.T) > 0
    return sid[keep], tid[keep], xy[keep]


def test_dbscan_segments_matches_oracle():
    """The whole density step on the fixture's ε-graph equals the
    union-find oracle, cluster ids ranked densely over comp."""
    from fixtures import oracle
    sid, tid, xy = _fixture_segments()
    eps, min_lns = 1.2, 3
    pairs = oracle.eps_pairs_oracle(sid, xy, eps)
    # input order must not matter: shuffle segments and pairs
    rng = np.random.default_rng(2)
    o, q = rng.permutation(len(sid)), rng.permutation(len(pairs))
    seg_id, comp, is_core = kernels.dbscan_segments(
        sid[o], tid[o], pairs["a_seg"].to_numpy()[q],
        pairs["b_seg"].to_numpy()[q], min_lns)
    want = (oracle.dbscan_oracle(sid, tid, xy, eps, min_lns)
            .sort_values("seg_id").reset_index(drop=True))
    assert len(want) > 0 and want["cluster_id"].nunique() >= 3
    np.testing.assert_array_equal(seg_id, want["seg_id"].to_numpy(np.int64))
    np.testing.assert_array_equal(np.unique(comp, return_inverse=True)[1],
                                  want["cluster_id"].to_numpy(np.int64))
    np.testing.assert_array_equal(is_core, want["is_core"].to_numpy(bool))


def test_dbscan_segments_absent_endpoints():
    """A pair endpoint outside the segments counts towards its partner's
    |Nε| but is never assigned; no segments at all gives no rows."""
    seg_id, comp, is_core = kernels.dbscan_segments(
        [5, 6, 8], [1, 2, 3], [5, 5, 6], [6, 7, 8], min_lns=3)
    # 5 is core only through the pair (5, 7); 7 appears nowhere
    assert seg_id.tolist() == [5, 6, 8]
    assert comp.tolist() == [5, 5, 5]
    assert is_core.tolist() == [True, True, False]
    out = kernels.dbscan_segments([], [], [1, 2], [2, 3], min_lns=3)
    assert [len(a) for a in out] == [0, 0, 0]
