"""Raster↔vector numpy kernels (SURVEY.md §2.9; BASELINE.json:6
"raster↔vector conversion between occupancy-grid rasters and extracted
corridor/room polygons"). No Spark imports; no scipy (not installed [E]).

Vector extraction is a boundary-edge stitch on the cell lattice: every edge
between a filled and an empty cell is directed so the filled cell lies on
its LEFT; stitched loops are then CCW outer rings / CW holes, and filling
the rings back (even-odd test on cell centers) reproduces the mask EXACTLY
— the raster→vector→raster round trip is lossless by construction and
asserted in tests (IoU == 1, SURVEY.md §5.2-4).
"""

from __future__ import annotations

import numpy as np

from imc import kernels


def label_components(mask: np.ndarray) -> np.ndarray:
    """4-connected component labels (0 = empty, 1..k in deterministic scan
    order). mask: (nx, ny) bool array indexed [ix, iy].

    Nodes are the filled cells in (ix, iy) scan order, edges join filled
    4-neighbours; a component's label is the dense rank of its minimum
    node + 1, i.e. components are numbered by their first cell in scan
    order."""
    nx, ny = mask.shape
    filled = np.flatnonzero(mask)
    node = np.full((nx, ny), -1, dtype=np.int64)
    node.flat[filled] = np.arange(filled.size)
    step_x = mask[:-1, :] & mask[1:, :]
    step_y = mask[:, :-1] & mask[:, 1:]
    a = np.concatenate([node[:-1, :][step_x], node[:, :-1][step_y]])
    b = np.concatenate([node[1:, :][step_x], node[:, 1:][step_y]])
    root, _ = kernels.label_components(filled.size, a, b)
    labels = np.zeros((nx, ny), dtype=np.int32)
    labels.flat[filled] = np.unique(root, return_inverse=True)[1] + 1
    return labels


def mask_to_rings(mask: np.ndarray):
    """Extract boundary rings of a binary mask on the unit cell lattice.

    Returns list of (ring (m,2) float64 lattice coords, comp_label, is_outer),
    rings open (closing edge implied), outer rings CCW, deterministic order
    (sorted by starting vertex). Collinear run vertices are collapsed.
    """
    labels = label_components(mask)
    nx, ny = mask.shape

    def filled(ix, iy):
        return 0 <= ix < nx and 0 <= iy < ny and mask[ix, iy]

    # directed boundary edges: filled cell on the left of travel
    edges = {}  # start vertex -> list of (end vertex, owner cell)
    for ix in range(nx):
        for iy in range(ny):
            if not mask[ix, iy]:
                continue
            if not filled(ix - 1, iy):   # left edge, walk down
                edges.setdefault((ix, iy + 1), []).append(((ix, iy), (ix, iy)))
            if not filled(ix + 1, iy):   # right edge, walk up
                edges.setdefault((ix + 1, iy), []).append(((ix + 1, iy + 1), (ix, iy)))
            if not filled(ix, iy - 1):   # bottom edge, walk right
                edges.setdefault((ix, iy), []).append(((ix + 1, iy), (ix, iy)))
            if not filled(ix, iy + 1):   # top edge, walk left
                edges.setdefault((ix + 1, iy + 1), []).append(((ix, iy + 1), (ix, iy)))

    used = set()
    rings = []
    for start in sorted(edges.keys()):
        for e0 in edges[start]:
            if (start, e0[0]) in used:
                continue
            ring = [start]
            owner = e0[1]
            cur = start
            nxt_v = e0[0]
            used.add((cur, nxt_v))
            prev_dir = (nxt_v[0] - cur[0], nxt_v[1] - cur[1])
            cur = nxt_v
            while cur != start:
                ring.append(cur)
                outs = [e for e in edges.get(cur, []) if (cur, e[0]) not in used]
                if not outs:
                    break  # should not happen on a well-formed mask
                if len(outs) == 1:
                    chosen = outs[0]
                else:
                    # checkerboard junction: prefer the left-most turn
                    # (rotate prev_dir +90° first, then straight, then right)
                    def turn_key(e):
                        d = (e[0][0] - cur[0], e[0][1] - cur[1])
                        left = (-prev_dir[1], prev_dir[0])
                        if d == left:
                            return 0
                        if d == prev_dir:
                            return 1
                        return 2
                    chosen = min(outs, key=turn_key)
                used.add((cur, chosen[0]))
                prev_dir = (chosen[0][0] - cur[0], chosen[0][1] - cur[1])
                cur = chosen[0]
            # collapse collinear vertices
            out = []
            m = len(ring)
            for k in range(m):
                a = ring[(k - 1) % m]
                b = ring[k]
                c = ring[(k + 1) % m]
                if (b[0] - a[0]) * (c[1] - b[1]) != (b[1] - a[1]) * (c[0] - b[0]):
                    out.append(b)
            arr = np.asarray(out, dtype=np.float64)
            area = _signed_area(arr)
            rings.append((arr, int(labels[owner[0], owner[1]]), area > 0))
    return rings


def _signed_area(ring: np.ndarray) -> float:
    x = ring[:, 0]
    y = ring[:, 1]
    return 0.5 * float(np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y))


def fill_rings(rings, shape) -> np.ndarray:
    """Even-odd fill of lattice rings back onto a cell mask of `shape` —
    the vector→raster direction (scanline-equivalent via center PIP)."""
    nx, ny = shape
    gx, gy = np.meshgrid(np.arange(nx) + 0.5, np.arange(ny) + 0.5, indexing="ij")
    px = gx.ravel()
    py = gy.ravel()
    inside = np.zeros(px.shape[0], dtype=np.int64)
    for ring, _lab, _outer in rings:
        inside += kernels.point_in_polygon(px, py, ring).astype(np.int64)
    return (inside % 2 == 1).reshape(nx, ny)


def raster_to_polygons(gx: np.ndarray, gy: np.ndarray, hits: np.ndarray,
                       threshold: int, cell: float):
    """Sparse raster rows → world-coordinate polygons.

    Returns list of (poly_id, ring (m,2) world coords, is_outer); poly_id is
    the deterministic component label; rings scaled/offset by `cell` and the
    sparse extent's origin.
    """
    if gx.size == 0:
        return []
    keep = hits >= threshold
    gx = gx[keep]
    gy = gy[keep]
    if gx.size == 0:
        return []
    x0 = int(gx.min())
    y0 = int(gy.min())
    nx = int(gx.max()) - x0 + 1
    ny = int(gy.max()) - y0 + 1
    mask = np.zeros((nx, ny), dtype=bool)
    mask[gx - x0, gy - y0] = True
    out = []
    for ring, lab, outer in mask_to_rings(mask):
        world = np.empty_like(ring)
        world[:, 0] = (ring[:, 0] + x0) * cell
        world[:, 1] = (ring[:, 1] + y0) * cell
        out.append((lab, world, outer))
    return out
