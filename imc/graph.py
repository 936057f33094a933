"""Connected components of an undirected graph — the one engine behind
DBSCAN's venue-adjacency graph (venues linked by cross-venue ε-pairs,
imc/dbscan.py) and the near-duplicate pair graphs of
textops.dedup_clusters and similarity.embedding_dup_clusters.

The first cut counts the edges. A graph of at most LOCAL_EDGES edges is
read to the driver once, mapped to dense indices and labelled by the
numpy kernel kernels.label_components; one broadcast join carries the
labels back. That is the local labelling of Kiveris et al. ("Connected
Components in MapReduce and Beyond", SoCC 2014) over a whole graph that
fits in memory: one batch-vectorized kernel instead of per-round
dataflow (CIDR 2022). It runs on the driver, not in a Python worker: the
first Python stage of a session spends 1.6–2.7 s of worker CPU (~4 s
wall) starting its workers, 0.4–0.6 s warm (a trivial mapInPandas or
mapInArrow, local[2] on 4 vCPUs), more than labelling such a graph.

A larger graph runs contracting min-priority labelling with one pointer
jump per round (Kiveris et al.). Each round, every supernode of the
contracted edge list moves to the minimum-priority node of its closed
neighbourhood, then one step further along that node's own move; the
edge list is rewritten onto the new supernodes, deduped, and stripped of
self-loops. A clique (a near-duplicate cluster) collapses to one
supernode in round 1 and its O(n²) edges vanish; the loop ends when no
edge is left.

A node's priority is (xxhash64(id), id), not its id: by id, a path whose
ids increase along it (consecutive ids along a chain) needs O(n)
rounds; hashed priorities make local minima frequent on any id layout,
O(log n) rounds. One aggregate at the end relabels each component,
whose surviving supernode is an arbitrary member, to its minimum id.

Each round's frames are cut with localCheckpoint(eager=False).persist()
and filled by ONE noop write, which also counts the contracted edges
through an Observation (under AQE, cutting a frame already runs its
shuffle stages). The cut keeps a round's plan from referencing earlier
rounds; the persist lets later plans read the materialized size. An
eager localCheckpoint carries its plan's size estimate forward instead,
and join estimates multiply, so the estimate, and with it driver time
and memory, grows without bound over rounds.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from imc import kernels

# Every round strictly shrinks the contracted graph and the round count
# is logarithmic (7 rounds on a 1024-node sorted path), so reaching this
# bound means a defect, not a hard input.
MAX_ROUNDS = 64
# Graphs up to this many edges are labelled on the driver: 2 MB of int64
# endpoints, ~15 MB at the peak of np.unique and the kernel, < 0.1 s.
LOCAL_EDGES = 1 << 17


def _prio(col: str):
    return F.struct(F.xxhash64(col).alias("h"), F.col(col).alias("v"))


def _cut(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=False).persist()


def _fill(edges: DataFrame, labels: DataFrame | None = None) -> int:
    """Materialize the round's cut frames in one action; returns the edge
    count."""
    obs = Observation()
    out = edges.observe(obs, F.count(F.lit(1)).alias("n"))
    if labels is not None:
        out = out.union(labels)
    out.write.format("noop").mode("overwrite").save()
    return obs.get["n"]


def _label_local(ids: DataFrame, cut: DataFrame) -> DataFrame:
    t = cut.toArrow()
    a = t.column("a").to_numpy()
    nodes, idx = np.unique(np.concatenate([a, t.column("b").to_numpy()]),
                           return_inverse=True)
    lab, _ = kernels.label_components(len(nodes), idx[:len(a)], idx[len(a):])
    comp = ids.sparkSession.createDataFrame(
        pa.table({"id": nodes, "comp": nodes[lab]}))
    return (ids.select("id").join(F.broadcast(comp), "id", "left")
            .select("id", F.coalesce("comp", "id").alias("comp"))
            .localCheckpoint(eager=True))


def connected_components(ids: DataFrame, edges: DataFrame) -> DataFrame:
    """(id, comp) for every row of ids(id), comp = the minimum id of its
    component in the undirected graph edges(a, b). Edge endpoints must
    be ids. Raises RuntimeError if MAX_ROUNDS rounds leave edges behind.
    The returned frame is a materialized local checkpoint."""
    cut = _cut(edges.select("a", "b").filter("a != b"))
    n_edges = _fill(cut)
    if n_edges <= LOCAL_EDGES:
        out = (_label_local(ids, cut) if n_edges
               else ids.select("id", F.col("id").alias("comp")))
        cut.unpersist()
        return out
    g = _cut(cut.union(cut.select("b", "a")).distinct())
    n_edges = _fill(g)
    cut.unpersist()
    labels = None  # (id, lab) over the nodes of the graph
    rounds = 0
    while n_edges:
        if rounds == MAX_ROUNDS:
            g.unpersist()
            labels.unpersist()
            raise RuntimeError(
                f"connected_components: {n_edges} contracted edges remain "
                f"after {MAX_ROUNDS} rounds")
        rounds += 1
        hop = (g.groupBy("a").agg(F.min(_prio("b")).alias("p"))
               .select(F.col("a").alias("node"),
                       F.least(_prio("a"), "p")["v"].alias("to")))
        # one pointer jump; `to` is itself a node of g, as g is symmetric
        m = _cut(hop.join(hop.select(F.col("node").alias("to"),
                                     F.col("to").alias("to2")), "to")
                 .select("node", F.col("to2").alias("to")))
        if labels is None:
            new_labels = m.select(F.col("node").alias("id"),
                                  F.col("to").alias("lab"))
        else:
            new_labels = (labels.join(m, labels.lab == m.node, "left")
                          .select("id", F.coalesce("to", "lab").alias("lab")))
        new_labels = _cut(new_labels)
        new_g = _cut(g.join(m.select(F.col("node").alias("a"),
                                     F.col("to").alias("ca")), "a")
                     .join(m.select(F.col("node").alias("b"),
                                    F.col("to").alias("cb")), "b")
                     .select(F.col("ca").alias("a"), F.col("cb").alias("b"))
                     .filter("a != b").distinct())
        n_edges = _fill(new_g, new_labels)
        for df in (g, labels, m):
            if df is not None:
                df.unpersist()
        g, labels = new_g, new_labels
    g.unpersist()
    node_comp = labels.select(
        "id", F.min("id").over(Window.partitionBy("lab")).alias("comp"))
    # checkpointed, so a caller reading it several times (dbscan) plans a
    # scan, not this subtree per reference; not persisted, as AQE plans
    # each reference to a cached frame as its own stage and job
    out = (ids.select("id").join(node_comp, "id", "left")
           .select("id", F.coalesce("comp", "id").alias("comp"))
           .localCheckpoint(eager=True))
    labels.unpersist()
    return out
