"""imc.graph.connected_components: exact labels against a union-find, a
round count logarithmic in path length, a bounded plan-size estimate, no
leaked caches, and a loud bound on rounds."""

import random

import pytest
from pyspark.sql import functions as F

from fixtures.oracle import _UF
from imc import graph


def _components(spark, ids, edges):
    out = graph.connected_components(
        spark.createDataFrame([(i,) for i in ids], "id long"),
        spark.createDataFrame(edges, "a long, b long"))
    return {r.id: r.comp for r in out.collect()}


def _oracle(ids, edges):
    pos = {x: k for k, x in enumerate(sorted(ids))}
    uf = _UF(len(ids))
    for a, b in edges:
        uf.union(pos[a], pos[b])
    order = sorted(ids)
    return {x: order[uf.find(pos[x])] for x in ids}


@pytest.mark.parametrize("seed", [3, 11])
def test_connected_components_match_union_find(spark, seed):
    rng = random.Random(seed)
    ids = rng.sample(range(-10**12, 10**12), 300)
    chunks = [ids[k:k + 30] for k in range(0, 300, 30)]
    edges = []
    # chunk 0 stays isolated ids
    edges += [(a, b) for i, a in enumerate(chunks[1]) for b in chunks[1][i + 1:]]
    edges += [(chunks[2][0], b) for b in chunks[2][1:]]
    path = sorted(chunks[3])
    edges += list(zip(path, path[1:]))
    path = chunks[4][:]
    rng.shuffle(path)
    edges += list(zip(path, path[1:]))
    pool = [x for c in chunks[5:] for x in c]
    edges += [tuple(rng.sample(pool, 2)) for _ in range(120)]
    edges += [(b, a) for a, b in edges[:5]] + edges[:5]  # both directions, duplicates
    assert _components(spark, ids, edges) == _oracle(ids, edges)


def test_connected_components_rounds_estimate_and_caches(spark):
    """Sorted paths are the worst case for id-ordered contraction (n/2
    rounds); the job count must grow with log n instead. The inputs are
    range frames, so their size estimates are real sizes."""
    sc = spark.sparkContext

    def named_cached():
        rdds = sc._jsc.getPersistentRDDs()
        return {int(k) for k in rdds.keySet().toArray()
                if rdds.get(k).name() is not None}

    jobs = {}
    for n in (64, 1024):
        before = named_cached()
        group = f"cc-path-{n}"
        sc.setJobGroup(group, group)
        try:
            out = graph.connected_components(
                spark.range(n),
                spark.range(n - 1).select(F.col("id").alias("a"),
                                          (F.col("id") + 1).alias("b")))
            assert {r.comp for r in out.collect()} == {0}
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs[n] = len(sc.statusTracker().getJobIdsForGroup(group))
        assert len(named_cached() - before) <= 1
    assert jobs[1024] <= 2.5 * jobs[64], jobs
    size = out._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    assert len(str(size)) <= 20, size


def test_connected_components_raises_past_max_rounds(spark, monkeypatch):
    # priorities order 1 < 0 < 2, so on the path 1-2-0 node 0 stays its
    # own supernode in round 1 and the edge (1, 0) is left for round 2
    monkeypatch.setattr(graph, "MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="after 1 rounds"):
        _components(spark, [0, 1, 2], [(1, 2), (2, 0)])
    monkeypatch.setattr(graph, "MAX_ROUNDS", 2)
    assert _components(spark, [0, 1, 2], [(1, 2), (2, 0)]) == {0: 0, 1: 0, 2: 0}
