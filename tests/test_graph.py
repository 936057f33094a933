"""imc.graph.connected_components: exact labels against a union-find in
both regimes (driver labelling, contraction rounds), a round count
logarithmic in path length, a bounded plan-size estimate, no leaked
caches, and a loud bound on rounds."""

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


@pytest.fixture
def contraction(monkeypatch):
    """Forces the contraction rounds: every graph with an edge is above
    the driver-labelling bound."""
    monkeypatch.setattr(graph, "LOCAL_EDGES", 0)


@pytest.mark.parametrize("local_edges", [graph.LOCAL_EDGES, 0],
                         ids=["local", "contraction"])
@pytest.mark.parametrize("seed", [3, 11])
def test_connected_components_match_union_find(spark, monkeypatch, seed,
                                               local_edges):
    monkeypatch.setattr(graph, "LOCAL_EDGES", local_edges)
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


def _named_cached(sc):
    rdds = sc._jsc.getPersistentRDDs()
    return {int(k) for k in rdds.keySet().toArray()
            if rdds.get(k).name() is not None}


def test_connected_components_in_memory_path(spark):
    """A graph under LOCAL_EDGES is labelled on the driver: a shuffled
    10³-node path (the worst case for rounds) in at most 4 jobs (fill,
    read, broadcast of the label table, join back), leaving no named
    cache behind."""
    rng = random.Random(5)
    path = list(range(1000))
    rng.shuffle(path)
    ids = spark.createDataFrame([(i,) for i in path], "id long")
    edges = spark.createDataFrame(list(zip(path, path[1:])), "a long, b long")
    sc = spark.sparkContext
    before = _named_cached(sc)
    sc.setJobGroup("cc-local-path", "cc-local-path")
    try:
        out = graph.connected_components(ids, edges)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n = len(sc.statusTracker().getJobIdsForGroup("cc-local-path"))
    assert n <= 4, n
    assert _named_cached(sc) == before
    assert {r.comp for r in out.collect()} == {0}


def test_connected_components_rounds_estimate_and_caches(spark, contraction):
    """Sorted paths are the worst case for id-ordered contraction (n/2
    rounds); the job count must grow with log n instead. The inputs are
    range frames, so their size estimates are real sizes."""
    sc = spark.sparkContext
    jobs = {}
    for n in (64, 1024):
        before = _named_cached(sc)
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
        assert len(_named_cached(sc) - before) <= 1
    assert jobs[1024] <= 2.5 * jobs[64], jobs
    size = out._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    assert len(str(size)) <= 20, size


def test_connected_components_raises_past_max_rounds(spark, monkeypatch,
                                                     contraction):
    # priorities order 1 < 0 < 2, so on the path 1-2-0 node 0 stays its
    # own supernode in round 1 and the edge (1, 0) is left for round 2
    monkeypatch.setattr(graph, "MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="after 1 rounds"):
        _components(spark, [0, 1, 2], [(1, 2), (2, 0)])
    monkeypatch.setattr(graph, "MAX_ROUNDS", 2)
    assert _components(spark, [0, 1, 2], [(1, 2), (2, 0)]) == {0: 0, 1: 0, 2: 0}
