"""Line-segment DBSCAN as a dataflow operator (SURVEY.md §2.8).

[T] §4.2 Fig. 12 is a sequential queue expansion; in bulk form, after the
ε-join produced the full ε-graph:

  1. venue groups: ε-pairs cross venues only at venue borders, so the
     venues linked by cross-venue pairs form groups
     (imc.graph.connected_components over the venue-adjacency graph —
     usually edgeless, and then one fill job), and every ε-edge lies
     inside one group.
  2. one cogrouped pass: segments and pairs are hash-bucketed by venue
     group, and one numpy kernel per bucket (kernels.dbscan_segments)
     computes cores (|Nε(L)| ≥ MinLns, Nε including L, [T] Defn 6), the
     connected components of the core-core subgraph, border attachment
     to the minimum adjacent core component (the paper's queue order is
     first-come-first-served, which is not reproducible in parallel —
     pinned to min), and the |PTR(C)| ≥ MinLns filter ([T] Defn 8,
     Fig. 12 step 3).
  3. canonical cluster ids: dense rank over the component's min seg_id so
     output ids are deterministic and fixture-comparable.

Returns assignments(seg_id, cluster_id, is_core) — noise segments are
absent (the reference marks them noise and drops them from clusters).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from imc import graph, kernels
from imc.config import VENUE_STRIDE, IMCParams
from imc.partitioning import python_stage_partitions
from imc.segments import SEG_ID_STRIDE

_COMP_SCHEMA = "seg_id long, comp long, is_core boolean"


def _venue(col: str):
    return F.expr(f"`{col}` div {SEG_ID_STRIDE * VENUE_STRIDE}")


def rank_components(comps: DataFrame) -> DataFrame:
    """(comp) → (comp, cluster_id): dense canonical ids 0..n−1 in
    ascending comp order WITHOUT a global single-partition window (one
    row per cluster is tiny per venue, but a global Window.orderBy over
    10^8 clusters is one serial sort task).

    comp is a component-min seg_id, and seg_id div (SEG_ID_STRIDE ×
    VENUE_STRIDE) is its venue — MONOTONE in comp — so the global
    ascending-comp order equals (venue asc, comp asc): rank within venue
    (a distributed window keyed by venue) plus a per-venue base offset
    (running sum over ONE ROW PER VENUE — the only single-task step,
    venue-count-sized) reproduces the exact same total order, hence
    bit-identical cluster ids (oracle-gated via imc_assignments)."""
    wv = Window.partitionBy("_v").orderBy("comp")
    ranked = (comps.withColumn("_v", _venue("comp"))
              .withColumn("_r", F.row_number().over(wv)))
    wo = Window.orderBy("_v").rowsBetween(Window.unboundedPreceding, -1)
    offs = (ranked.groupBy("_v").agg(F.count("*").alias("_n"))
            .withColumn("_off", F.coalesce(F.sum("_n").over(wo), F.lit(0))))
    return (ranked.join(F.broadcast(offs.select("_v", "_off")), "_v")
            .select("comp", (F.col("_off") + F.col("_r") - 1)
                    .cast("long").alias("cluster_id")))


def dbscan(segments: DataFrame, eps_pairs: DataFrame,
           params: IMCParams | None = None) -> DataFrame:
    """assignments(seg_id, cluster_id, is_core) — SURVEY.md §2.8.

    One bucket's segments and pairs are held in one Python worker, and a
    single huge venue group is one task: the same scale posture as
    raster.extract_polygons' per-venue grid."""
    params = params or IMCParams()
    min_lns = params.min_lns
    # cut lineage ONCE: the pairs feed both the venue-group edges and the
    # cogroup, and an unmaterialized ε-join plan (a direct caller's) would
    # otherwise run once per reference
    pairs = eps_pairs.select("a_seg", "b_seg").localCheckpoint(eager=True)

    cross = (pairs.select(_venue("a_seg").alias("a"), _venue("b_seg").alias("b"))
             .filter("a != b"))
    groups = graph.connected_components(
        cross.select(F.col("a").alias("id"))
        .union(cross.select(F.col("b").alias("id"))).distinct(),
        cross)

    n = python_stage_partitions(segments.sparkSession)

    def bucketed(df: DataFrame, key: str) -> DataFrame:
        # a venue's group is itself unless a cross-venue pair links it;
        # the explicit count keeps AQE from coalescing the kernel stage
        group = F.coalesce("comp", "_venue")
        return (df.withColumn("_venue", _venue(key))
                .join(groups.withColumnRenamed("id", "_venue"), "_venue", "left")
                .select(*df.columns,
                        F.pmod(F.hash(group), F.lit(n)).alias("_bucket"))
                .repartition(n, "_bucket"))

    def cluster(segs: pd.DataFrame, prs: pd.DataFrame) -> pd.DataFrame:
        seg_id, comp, is_core = kernels.dbscan_segments(
            segs["seg_id"].to_numpy(np.int64), segs["traj_id"].to_numpy(np.int64),
            prs["a_seg"].to_numpy(np.int64), prs["b_seg"].to_numpy(np.int64),
            min_lns)
        return pd.DataFrame({"seg_id": seg_id, "comp": comp, "is_core": is_core})

    segs = bucketed(segments.select("seg_id", "traj_id"), "seg_id")
    surviving = (segs.groupBy("_bucket")
                 .cogroup(bucketed(pairs, "a_seg").groupBy("_bucket"))
                 .applyInPandas(cluster, _COMP_SCHEMA)
                 .localCheckpoint(eager=True))

    # canonical ids: dense rank of comp labels — ranked on the DISTINCT
    # comp set (one row per cluster) via the two-level venue rank (no
    # global single-partition window), then joined back
    ranked = rank_components(surviving.select("comp").distinct())
    return (surviving.join(F.broadcast(ranked), "comp")
            .select("seg_id", "cluster_id", "is_core"))
