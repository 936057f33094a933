"""Line-segment DBSCAN as a dataflow operator (SURVEY.md §2.8).

[T] §4.2 Fig. 12 is a sequential queue expansion; in bulk form, after the
ε-join produced the full ε-graph:

  1. cores: |Nε(L)| ≥ MinLns, where Nε includes L itself ([T] Defn 6) —
     one hash aggregation over the symmetrized pair list.
  2. clusters = connected components of the core-core subgraph
     (imc.graph.connected_components: contracting rounds, so a hot-cell
     near-clique of O(n²) edges collapses to one supernode in round 1).
  3. border segments attach to the minimum adjacent core label
     (deterministic; the paper's queue order is first-come-first-served,
     which is not reproducible in parallel — pinned to min).
  4. clusters with |PTR(C)| < MinLns distinct trajectories are discarded
     ([T] Defn 8, Fig. 12 step 3).
  5. canonical cluster ids: dense_rank over the component's min seg_id so
     output ids are deterministic and fixture-comparable.

Returns assignments(seg_id, cluster_id, is_core) — noise segments are
absent (the reference marks them noise and drops them from clusters).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from imc import graph
from imc.config import IMCParams


def symmetrize(eps_pairs: DataFrame) -> DataFrame:
    """(a,b) canonical pairs → both directions (src, dst)."""
    ab = eps_pairs.select(F.col("a_seg").alias("src"), F.col("b_seg").alias("dst"))
    ba = eps_pairs.select(F.col("b_seg").alias("src"), F.col("a_seg").alias("dst"))
    return ab.unionByName(ba)


def core_segments(segments: DataFrame, eps_pairs: DataFrame,
                  params: IMCParams) -> DataFrame:
    """(seg_id, n_eps, is_core); n_eps counts the segment itself."""
    deg = (symmetrize(eps_pairs)
           .groupBy("src").agg(F.count("*").alias("n_nbrs")))
    return (segments.select("seg_id")
            .join(deg, segments.seg_id == deg.src, "left")
            .select("seg_id",
                    (F.coalesce(F.col("n_nbrs"), F.lit(0)) + 1).alias("n_eps"))
            .withColumn("is_core", F.col("n_eps") >= F.lit(params.min_lns)))


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
    from imc.config import VENUE_STRIDE
    from imc.segments import SEG_ID_STRIDE
    v = F.expr(f"comp div {SEG_ID_STRIDE * VENUE_STRIDE}")
    wv = Window.partitionBy("_v").orderBy("comp")
    ranked = (comps.withColumn("_v", v)
              .withColumn("_r", F.row_number().over(wv)))
    wo = Window.orderBy("_v").rowsBetween(Window.unboundedPreceding, -1)
    offs = (ranked.groupBy("_v").agg(F.count("*").alias("_n"))
            .withColumn("_off", F.coalesce(F.sum("_n").over(wo), F.lit(0))))
    return (ranked.join(F.broadcast(offs.select("_v", "_off")), "_v")
            .select("comp", (F.col("_off") + F.col("_r") - 1)
                    .cast("long").alias("cluster_id")))


def dbscan(segments: DataFrame, eps_pairs: DataFrame,
           params: IMCParams | None = None) -> DataFrame:
    """assignments(seg_id, cluster_id, is_core) — SURVEY.md §2.8."""
    params = params or IMCParams()
    # cut lineage ONCE: eps_pairs is consumed by several branches below
    # (degrees, core edges, border attach); an unmaterialized ε-join plan
    # embedded that many times blows up driver-side optimization (the
    # staged refine projections re-optimize per reference — observed OOM
    # at default 1g driver heap). localCheckpoint is a no-op-ish scan for
    # already-materialized inputs (the pipeline passes parquet-backed
    # pairs) and caps plan size for direct callers.
    eps_pairs = eps_pairs.localCheckpoint(eager=True)
    cores = core_segments(segments, eps_pairs, params).filter("is_core")
    core_ids = cores.select("seg_id").localCheckpoint(eager=True)

    core_pairs = (eps_pairs
                  .join(core_ids.withColumnRenamed("seg_id", "a_seg"), "a_seg", "left_semi")
                  .join(core_ids.withColumnRenamed("seg_id", "b_seg"), "b_seg", "left_semi")
                  .select(F.col("a_seg").alias("a"), F.col("b_seg").alias("b")))
    comp = (graph.connected_components(core_ids.withColumnRenamed("seg_id", "id"),
                                       core_pairs)
            .withColumnRenamed("id", "seg_id"))

    sym = symmetrize(eps_pairs)

    # border attachment: non-core neighbors of cores take min adjacent comp
    border = (sym
              .join(core_ids.withColumnRenamed("seg_id", "dst"), "dst", "left_semi")
              .join(core_ids.withColumnRenamed("seg_id", "src"), "src", "left_anti")
              .join(comp.withColumnRenamed("seg_id", "dst"), "dst")
              .groupBy("src").agg(F.min("comp").alias("comp"))
              .select(F.col("src").alias("seg_id"), "comp"))

    assigned = (comp.select("seg_id", "comp").withColumn("is_core", F.lit(True))
                .unionByName(border.withColumn("is_core", F.lit(False))))

    # |PTR(C)| ≥ MinLns filter ([T] Defn 8): distinct trajectories per comp
    with_traj = assigned.join(segments.select("seg_id", "traj_id"), "seg_id")
    keep = (with_traj.groupBy("comp")
            .agg(F.countDistinct("traj_id").alias("n_traj"))
            .filter(F.col("n_traj") >= F.lit(params.min_lns))
            .select("comp"))
    surviving = assigned.join(keep, "comp", "left_semi")

    # canonical ids: dense rank of comp labels — ranked on the DISTINCT
    # comp set (one row per cluster) via the two-level venue rank (no
    # global single-partition window), then joined back
    ranked = rank_components(surviving.select("comp").distinct())
    return (surviving.join(F.broadcast(ranked), "comp")
            .select("seg_id", "cluster_id", "is_core"))
