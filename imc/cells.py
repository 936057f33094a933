"""Morton/quadtree cell index — from-scratch "H3/S2-style" cells.

No h3/s2 library exists in this environment (SURVEY.md §0 [E]), so cell ids
are interleaved-bit (Morton/Z-order) codes over a fixed planar grid:
prefix = containment, neighbors by coordinate arithmetic — the properties
the ε-join prefilter needs (BASELINE.json:6 "batched H3/S2 cell encoding via
vectorized pandas/Arrow UDFs"). The API keeps a `scheme` slot so a real H3
lib can slot in later (SURVEY.md §7.3-5).

Coordinates are biased by 2^20 cells so negative floor coordinates encode
fine; each axis uses 21 bits → ids fit in a signed 64-bit BIGINT.

Join-prefilter correctness (SURVEY.md §2.4): for unit weights,
TRACLUS dist(A,B) ≤ ε implies some endpoint pair is within 2ε Euclidean
(gap ≤ 2·d⊥ + d∥ ≤ 2·dist). With cell size g ≥ 2ε, two points within 2ε lie
in the same or 8-adjacent cells, so `cover(A) ∩ ring1(cover(B)) ≠ ∅` —
the equi-join on (cover, dilated cover) loses no true pair. Verified
against a crossJoin oracle in tests (SURVEY.md §5.2-2).
"""

from __future__ import annotations

import numpy as np

_BIAS = 1 << 20
_MASK21 = (1 << 21) - 1

# 8-neighborhood + self
RING1 = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]


def _part1by1(v: np.ndarray) -> np.ndarray:
    """Spread the low 21 bits of v to even bit positions (uint64)."""
    v = v.astype(np.uint64) & np.uint64(_MASK21)
    v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
    v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
    return v


def _compact1by1(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.uint64) & np.uint64(0x5555555555555555)
    v = (v | (v >> np.uint64(1))) & np.uint64(0x3333333333333333)
    v = (v | (v >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
    return v


def morton_encode(ix, iy) -> np.ndarray:
    """Interleave biased integer cell coords → int64 Morton id. Vectorized."""
    ix = np.asarray(ix, dtype=np.int64) + _BIAS
    iy = np.asarray(iy, dtype=np.int64) + _BIAS
    if np.any(ix < 0) or np.any(iy < 0) or np.any(ix > _MASK21) or np.any(iy > _MASK21):
        raise ValueError("cell coordinate out of the 21-bit biased domain")
    code = _part1by1(ix) | (_part1by1(iy) << np.uint64(1))
    return code.astype(np.int64)


def morton_decode(code) -> tuple[np.ndarray, np.ndarray]:
    code = np.asarray(code, dtype=np.int64).astype(np.uint64)
    ix = _compact1by1(code).astype(np.int64) - _BIAS
    iy = _compact1by1(code >> np.uint64(1)).astype(np.int64) - _BIAS
    return ix, iy


def point_cell(x, y, cell_size: float, ox: float = 0.0, oy: float = 0.0) -> np.ndarray:
    """Morton cell id of point(s). Vectorized."""
    ix = np.floor((np.asarray(x, dtype=np.float64) - ox) / cell_size).astype(np.int64)
    iy = np.floor((np.asarray(y, dtype=np.float64) - oy) / cell_size).astype(np.int64)
    return morton_encode(ix, iy)


def segment_cover(x1: float, y1: float, x2: float, y2: float, cell_size: float,
                  dilate: bool = False, ox: float = 0.0, oy: float = 0.0,
                  scheme: str = "morton") -> np.ndarray:
    """Morton ids of cells traversed by one segment (supercover via DDA);
    with dilate=True also the 8-neighbor ring of each (deduped, sorted —
    deterministic). Scalar per segment; batching lives in the pandas UDF."""
    from imc.kernels import grid_traverse

    if scheme != "morton":
        raise NotImplementedError(f"cell scheme {scheme!r} not available in this environment")
    cells = grid_traverse(x1, y1, x2, y2, cell_size, ox, oy)
    if dilate:
        offs = np.asarray(RING1, dtype=np.int64)
        cells = (cells[:, None, :] + offs[None, :, :]).reshape(-1, 2)
    codes = morton_encode(cells[:, 0], cells[:, 1])
    return np.unique(codes)
