"""Brute-force golden oracle (FIXTURES.md — "obviously-correct scalar code
implementing the TRACLUS math"). Independent of the Spark operators: plain
loops/union-find over the full pair matrix. Used to freeze golden outputs
and to cross-check the distributed DBSCAN/sweep in tests.

Pinned conventions (shared with the engine, SURVEY.md §7.3-1):
  * Nε includes the segment itself; core ⟺ |Nε| ≥ MinLns.
  * border segments attach to the minimum canonical cluster label among
    adjacent cores.
  * cluster label = min seg_id in component; output ids = dense rank.
  * sweep conventions as in imc.kernels.sweep_representative.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from imc import kernels


def pair_matrix(segs: np.ndarray) -> np.ndarray:
    """Full symmetric TRACLUS distance matrix (vectorized but exhaustive)."""
    n = segs.shape[0]
    ii, jj = np.meshgrid(np.arange(n), np.arange(n), indexing="ij")
    ii = ii.ravel()
    jj = jj.ravel()
    _, _, _, d = kernels.traclus_distance(
        segs[ii, 0], segs[ii, 1], segs[ii, 2], segs[ii, 3],
        segs[jj, 0], segs[jj, 1], segs[jj, 2], segs[jj, 3])
    return d.reshape(n, n)


def eps_pairs_oracle(seg_ids: np.ndarray, segs: np.ndarray, eps: float) -> pd.DataFrame:
    d = pair_matrix(segs)
    n = len(seg_ids)
    rows = []
    for i in range(n):
        for j in range(i + 1, n):
            if d[i, j] <= eps:
                a, b = int(seg_ids[i]), int(seg_ids[j])
                rows.append((min(a, b), max(a, b), float(d[i, j])))
    return pd.DataFrame(rows, columns=["a_seg", "b_seg", "dist"])


class _UF:
    def __init__(self, n):
        self.p = list(range(n))

    def find(self, x):
        while self.p[x] != x:
            self.p[x] = self.p[self.p[x]]
            x = self.p[x]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.p[max(ra, rb)] = min(ra, rb)


def dbscan_oracle(seg_ids: np.ndarray, traj_ids: np.ndarray, segs: np.ndarray,
                  eps: float, min_lns: int) -> pd.DataFrame:
    """assignments(seg_id, cluster_id, is_core) via union-find over the full
    matrix — structurally different from the engine's contraction rounds."""
    order = np.argsort(seg_ids)
    seg_ids = seg_ids[order]
    traj_ids = traj_ids[order]
    segs = segs[order]
    n = len(seg_ids)
    d = pair_matrix(segs)
    nbr = d <= eps  # includes self (diag ≈ 0)
    np.fill_diagonal(nbr, True)
    n_eps = nbr.sum(axis=1)
    core = n_eps >= min_lns

    uf = _UF(n)
    for i in range(n):
        if not core[i]:
            continue
        for j in range(i + 1, n):
            if core[j] and nbr[i, j]:
                uf.union(i, j)

    comp_label = {}  # root -> min seg_id
    for i in range(n):
        if core[i]:
            r = uf.find(i)
            comp_label[r] = min(comp_label.get(r, math.inf), int(seg_ids[i]))

    rows = []
    members: dict[int, list[int]] = {}
    for i in range(n):
        if core[i]:
            lab = comp_label[uf.find(i)]
            rows.append((int(seg_ids[i]), lab, True))
            members.setdefault(lab, []).append(i)
    for i in range(n):
        if core[i]:
            continue
        adj = [comp_label[uf.find(j)] for j in range(n) if core[j] and nbr[i, j]]
        if adj:
            lab = min(adj)
            rows.append((int(seg_ids[i]), lab, False))
            members.setdefault(lab, []).append(i)

    # |PTR(C)| >= MinLns
    surviving = {lab for lab, idx in members.items()
                 if len(set(traj_ids[k] for k in idx)) >= min_lns}
    rows = [r for r in rows if r[1] in surviving]
    labels = sorted({r[1] for r in rows})
    remap = {lab: k for k, lab in enumerate(labels)}
    return pd.DataFrame([(s, remap[c], ic) for s, c, ic in rows],
                        columns=["seg_id", "cluster_id", "is_core"])


def tile_assignments_oracle(segs: pd.DataFrame, tiles: pd.DataFrame,
                            venue_stride: int) -> dict:
    """seg_id -> the lowest tile_id of the segment's venue (traj_id //
    venue_stride) whose ring contains the segment midpoint (scalar
    kernels.point_in_polygon per tile), -1 when none contains it."""
    by_venue: dict[int, list] = {}
    for t in tiles.sort_values("tile_id").itertuples():
        by_venue.setdefault(int(t.venue), []).append(
            (int(t.tile_id), np.array([[p["x"], p["y"]] for p in t.ring])))
    want = {}
    for r in segs.itertuples():
        px, py = (r.x1 + r.x2) / 2, (r.y1 + r.y2) / 2
        want[int(r.seg_id)] = next(
            (tid for tid, ring in by_venue.get(int(r.traj_id) // venue_stride, [])
             if kernels.point_in_polygon([px], [py], ring)[0]), -1)
    return want

def sweep_oracle(segs: np.ndarray, min_lns: int, gamma: float) -> np.ndarray:
    """Scalar re-derivation of the sweep ([T] §4.3) — per-endpoint loops,
    no shared code path with the kernel beyond the pinned conventions."""
    vecs = []
    for x1, y1, x2, y2 in segs:
        vx, vy = x2 - x1, y2 - y1
        if vx < 0 or (vx == 0 and vy < 0):
            vx, vy = -vx, -vy
        vecs.append((vx, vy))
    sx = sum(v[0] for v in vecs)
    sy = sum(v[1] for v in vecs)
    norm = math.hypot(sx, sy)
    cx, cy = (1.0, 0.0) if norm <= 0 else (sx / norm, sy / norm)

    def rot(x, y):
        return (x * cx + y * cy, -x * cy + y * cx)

    rsegs = []
    for x1, y1, x2, y2 in segs:
        a = rot(x1, y1)
        b = rot(x2, y2)
        if a[0] <= b[0]:
            rsegs.append((a, b))
        else:
            rsegs.append((b, a))
    endpoints = sorted([p for s in rsegs for p in s])
    out = []
    last_x = -math.inf
    for (x, _y) in endpoints:
        crossing = [s for s in rsegs if s[0][0] <= x <= s[1][0]]
        if len(crossing) >= min_lns and (x - last_x) >= gamma:
            ys = []
            for (ax, ay), (bx, by) in crossing:
                span = bx - ax
                t = (x - ax) / span if span > 0 else 0.5
                ys.append(ay + t * (by - ay))
            avg_y = sum(ys) / len(ys)
            out.append((x * cx - avg_y * cy, x * cy + avg_y * cx))
            last_x = x
    return np.asarray(out, dtype=np.float64).reshape(-1, 2)
