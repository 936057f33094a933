"""TRACLUS parameter selection ([T] §4.4; SURVEY.md §2.5 "ε-entropy
parameter search").

The paper picks ε minimizing the entropy of the neighborhood-size
distribution  H(ε) = −Σ_i p_i log2 p_i,  p_i = |Nε(L_i)| / Σ_j |Nε(L_j)|
(|Nε| includes the segment itself), then MinLns ≈ avg|Nε| + 1..3.

Each candidate ε is one ε-join + two aggregations — a small driver loop of
pure DataFrame ops; nothing is collected except the scalar entropy."""

from __future__ import annotations

import dataclasses
import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from imc import joins
from imc.config import IMCParams


def symmetrize(eps_pairs: DataFrame) -> DataFrame:
    """(a,b) canonical pairs → both directions (src, dst)."""
    ab = eps_pairs.select(F.col("a_seg").alias("src"), F.col("b_seg").alias("dst"))
    ba = eps_pairs.select(F.col("b_seg").alias("src"), F.col("a_seg").alias("dst"))
    return ab.unionByName(ba)


def neighborhood_entropy(segments: DataFrame, eps: float,
                         params: IMCParams | None = None,
                         has_long: bool | None = None) -> tuple[float, float]:
    """Returns (H(ε), avg |Nε|) for one candidate ε. has_long forwards to
    eps_join — search_eps probes the input ONCE instead of per candidate."""
    params = dataclasses.replace(params or IMCParams(), eps=eps, cell_size=0.0)
    # lineage cut: the pair plan is consumed via symmetrize twice below
    pairs = (joins.eps_join(segments, params, has_long=has_long)
             .localCheckpoint(eager=True))
    # |Nε| per segment including itself; segments with no neighbor count 1
    deg = (segments.select("seg_id")
           .join(symmetrize(pairs).groupBy("src").agg(F.count("*").alias("n")),
                 F.col("seg_id") == F.col("src"), "left")
           .select((F.coalesce(F.col("n"), F.lit(0)) + 1).alias("n_eps")))
    row = deg.agg(
        F.sum("n_eps").alias("total"),
        F.avg("n_eps").alias("avg"),
        # Σ n·log2(n): H = log2(T) − Σ n·log2(n) / T
        F.sum(F.col("n_eps") * F.log2(F.col("n_eps"))).alias("nlogn"),
    ).collect()[0]
    total = float(row["total"] or 0)
    if total <= 0:
        return 0.0, 0.0
    h = math.log2(total) - float(row["nlogn"]) / total
    return h, float(row["avg"])


def search_eps(segments: DataFrame, candidates: list[float],
               params: IMCParams | None = None) -> dict:
    """Evaluate H(ε) over candidate ε values; returns
    {"best_eps", "min_lns_range", "table": [(eps, H, avg_n)]}."""
    table = []
    # ONE long-segment probe for the whole sweep: thresholds scale with ε,
    # so "no segment exceeds the smallest candidate's threshold" implies
    # the same for every larger candidate; only a positive probe falls
    # back to per-candidate probing (has_long=None)
    from pyspark.sql import functions as F
    smallest = dataclasses.replace(params or IMCParams(),
                                   eps=min(candidates), cell_size=0.0)
    ln = F.hypot(F.col("x2") - F.col("x1"), F.col("y2") - F.col("y1"))
    any_long = not segments.filter(
        ln > F.lit(4.0 * smallest.join_cell)).isEmpty()
    has_long = None if any_long else False
    for eps in candidates:
        h, avg_n = neighborhood_entropy(segments, eps, params,
                                        has_long=has_long)
        table.append((eps, h, avg_n))
    best = min(table, key=lambda t: t[1])
    return {
        "best_eps": best[0],
        "min_lns_range": (int(round(best[2])) + 1, int(round(best[2])) + 3),
        "table": table,
    }
