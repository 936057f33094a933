"""Pipeline parameters (SURVEY.md §1.1 A8, FIXTURES.md §3).

A plain dataclass injected into UDF closures — deterministic, hashable into
the run manifest (SURVEY.md §7.6 / imc.manifest).
"""

from __future__ import annotations

import dataclasses
import hashlib
import json


# fixture id encoding: traj_id = venue * VENUE_STRIDE + walk — the single
# source for every venue derivation (joins PIP keying, raster grouping,
# pipeline partitioning, oracle SQL)
VENUE_STRIDE = 10_000


@dataclasses.dataclass(frozen=True)
class IMCParams:
    eps: float = 1.2          # ε neighborhood radius (m), [T] §4.2
    min_lns: int = 3          # MinLns density threshold, [T] §4.2
    gamma: float = 1.0        # γ sweep smoothing spacing (m), [T] §4.3
    w_perp: float = 1.0       # distance weights, [T] §3.2.2 (defaults 1,1,1)
    w_par: float = 1.0
    w_ang: float = 1.0
    cell_size: float = 0.0    # ε-join prefilter cell size; 0 → auto (2ε)
    raster_cell: float = 0.5  # occupancy-grid cell size (m), FIXTURES.md §3
    raster_threshold: int = 2  # min hits for a raster cell to count as occupied
    corridor_min_width: float = 0.5  # floor for buffer-corridor width (m)
    salt_buckets: int = 8     # salting factor for hot cells (SURVEY.md §2.4)
    hot_cell_factor: float = 20.0  # cell is "hot" if count > factor × mean

    @property
    def gap_bound(self) -> float:
        """Completeness bound of the ε-join prefilter: TRACLUS dist ≤ ε ⟹
        the segments' bbox gap ≤ max(2/w⊥, 1/w∥)·ε (gap ≤ 2·d⊥ + d∥; see
        imc/cells.py). Weight-dependent, so non-default weights widen the
        prefilter instead of silently dropping ε-pairs."""
        return max(2.0 / max(self.w_perp, 1e-9),
                   1.0 / max(self.w_par, 1e-9)) * self.eps

    @property
    def join_cell(self) -> float:
        """Prefilter cell size; auto = 2 × gap_bound (= 4ε at unit weights —
        measured fastest: fewer cover cells per segment, and the bbox-gap
        prefilter absorbs the extra in-cell false positives)."""
        return self.cell_size if self.cell_size > 0 else 2.0 * self.gap_bound

    def params_hash(self) -> str:
        payload = json.dumps(dataclasses.asdict(self), sort_keys=True)
        return hashlib.sha256(payload.encode()).hexdigest()[:16]


DEFAULT_PARAMS = IMCParams()

