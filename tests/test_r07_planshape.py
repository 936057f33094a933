"""Round-7 optimization gates: plan-shape assertions and equivalence
checks for the r7 performance work, so a later refactor can't silently
regress the shapes (the source_quota explain-gate pattern).

1. ann_topk_pq's ADC prune is the exact two-phase sharded top-k: the
   phase-1 exchange partitions on (query_id, _shard) and the output is
   shard-count-invariant (VERDICT r06 #1 done-criterion).
2. eps_join's optimizer barrier holds: the join condition stays a small
   prefilter conjunction — the r7 bug pushed the fully-inlined TRACLUS
   refine into the join condition (169 KB of expression text), blowing
   whole-stage codegen's 64 KB method limit on every execution.
3. Python-kernel stages pin an explicit partition count (AQE's
   byte-based coalescing starved them of cores, r7 profile).
4. The brute-force probe collect enforces its smallness contract
   loudly (VERDICT r06 #3).
5. multi_bucket's parsed-SQL bucket keys equal the Column-composed
   reference formulation bit-for-bit.
"""

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from imc import corridors, dbscan, joins, raster, segments, similarity, sweep
from imc.config import IMCParams
from imc.partitioning import python_stage_partitions


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(1234)
    rows = [(int(i), [float(x) for x in rng.normal(size=16)], "l")
            for i in range(300)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string")


def test_pq_adc_prune_is_sharded_two_phase(emb):
    out = similarity.ann_topk_pq(emb, k=3, probe_mod=60, m=4, k_pq=4,
                                 shards=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "_shard" in plan, plan[:2000]
    exchanges = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert any("_shard" in e and "query_id" in e for e in exchanges), \
        exchanges


def test_pq_output_invariant_to_shard_count(emb):
    a = (similarity.ann_topk_pq(emb, k=3, probe_mod=60, m=4, k_pq=4,
                                shards=1)
         .toPandas().sort_values(["query_id", "rank"])
         .reset_index(drop=True))
    b = (similarity.ann_topk_pq(emb, k=3, probe_mod=60, m=4, k_pq=4,
                                shards=8)
         .toPandas().sort_values(["query_id", "rank"])
         .reset_index(drop=True))
    pd.testing.assert_frame_equal(a, b)


def _toy_segments(spark, n=400):
    rng = np.random.default_rng(7)
    pdf = pd.DataFrame({
        "seg_id": np.arange(n, dtype=np.int64),
        "x1": rng.uniform(0, 40, n), "y1": rng.uniform(0, 40, n),
    })
    ang = rng.uniform(0, 2 * np.pi, n)
    ln = rng.uniform(0.2, 2.5, n)
    pdf["x2"] = pdf["x1"] + ln * np.cos(ang)
    pdf["y2"] = pdf["y1"] + ln * np.sin(ang)
    return spark.createDataFrame(pdf)


def test_eps_join_condition_stays_small(spark):
    """The refine must NOT be substituted into the join condition: the
    condition carries only the equi keys + cheap prefilters (a few KB),
    never the flattened TRACLUS tree (169 KB before the r7 barrier —
    a guaranteed Janino 64 KB compile failure)."""
    segs = _toy_segments(spark)
    out = joins.eps_join(segs, IMCParams(eps=1.2, min_lns=3), salt=False,
                         has_long=False)
    opt = out._jdf.queryExecution().optimizedPlan()

    found = []

    def walk(node):
        if node.nodeName() == "Join":
            found.append(len(node.simpleString(10_000_000)))
        for i in range(node.children().size()):
            walk(node.children().apply(i))

    walk(opt)
    assert found, "no join in eps_join plan?"
    assert all(n < 8_000 for n in found), found


def test_eps_join_barrier_value_is_identity(spark):
    """shuffle(array(dist))[0] is a permutation of a one-element array —
    the barrier must not change a single pair or distance vs an
    unfiltered refine recomputation."""
    segs = _toy_segments(spark, n=200)
    params = IMCParams(eps=1.2, min_lns=3)
    got = (joins.eps_join(segs, params, salt=False, has_long=False)
           .toPandas().sort_values(["a_seg", "b_seg"])
           .reset_index(drop=True))
    # reference: recompute distances for got's pairs directly from the
    # staged expression WITHOUT the filter/barrier and check the cut
    cov = joins.with_traclus_dist(
        got[["a_seg", "b_seg"]].merge(
            segs.toPandas().add_prefix("a").rename(
                columns={"aseg_id": "a_seg"}), on="a_seg")
        .merge(segs.toPandas().add_prefix("b").rename(
            columns={"bseg_id": "b_seg"}), on="b_seg")
        .pipe(spark.createDataFrame)).toPandas()
    m = got.merge(cov[["a_seg", "b_seg", "dist"]], on=["a_seg", "b_seg"],
                  suffixes=("", "_ref"))
    assert len(m) == len(got)
    assert np.allclose(m["dist"], m["dist_ref"], rtol=0, atol=0)
    assert (m["dist"] <= params.eps).all()


def _stage_inputs(spark):
    segs = spark.createDataFrame(pd.DataFrame({
        "seg_id": np.arange(6, dtype=np.int64),
        "traj_id": np.array([1, 1, 1, 2, 2, 2], dtype=np.int64),
        "x1": [0.0, 1, 2, 0, 1, 2], "y1": [0.0, 0, 0, 0.5, 0.5, 0.5],
        "x2": [1.0, 2, 3, 1, 2, 3], "y2": [0.0, 0, 0, 0.5, 0.5, 0.5]}))
    assign = spark.createDataFrame(pd.DataFrame({
        "seg_id": np.arange(6, dtype=np.int64),
        "cluster_id": np.zeros(6, dtype=np.int64)}))
    return segs, assign


def _plan_counts(df, key):
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return re.findall(rf"RepartitionByExpression \[{key}#\d+L?\], (\d+)",
                      plan)


def _mdl(spark):
    pts = spark.createDataFrame(
        pd.DataFrame({"traj_id": [1] * 5, "seq": range(5),
                      "x": [0.0, 1, 2, 3, 4], "y": [0.0] * 5}))
    return _plan_counts(segments.mdl_segments(pts), "traj_id")


def _sweep(spark):
    segs, assign = _stage_inputs(spark)
    return _plan_counts(sweep.representative_trajectories(segs, assign),
                        "cluster_id")


def _corridors(spark):
    segs, assign = _stage_inputs(spark)
    return _plan_counts(corridors.corridor_polygons(segs, assign),
                        "cluster_id")


def _extract(spark):
    rast = spark.createDataFrame(pd.DataFrame({
        "venue": np.array([0, 0, 1], dtype=np.int64),
        "gx": np.array([0, 1, 0], dtype=np.int32),
        "gy": np.array([0, 0, 0], dtype=np.int32),
        "hits": np.array([3, 3, 3], dtype=np.int64)}))
    return _plan_counts(raster.extract_polygons(rast), "venue")


def _dbscan(spark):
    # the kernel stage sits below dbscan's localCheckpoint, so its count
    # is the partition count of the checkpointed leaves
    segs, _ = _stage_inputs(spark)
    pairs = spark.createDataFrame(pd.DataFrame({
        "a_seg": np.array([0, 1, 3], dtype=np.int64),
        "b_seg": np.array([1, 2, 4], dtype=np.int64)}))
    out = dbscan.dbscan(segs, pairs, IMCParams(min_lns=1))
    leaves = out._jdf.queryExecution().optimizedPlan().collectLeaves()
    return [str(leaves.apply(i).rdd().getNumPartitions())
            for i in range(leaves.size())]


def _rasterize(spark):
    segs, _ = _stage_inputs(spark)
    return _plan_counts(raster.rasterize(segs), "traj_id")


@pytest.mark.parametrize("build,want", [
    (_mdl, python_stage_partitions),
    (_sweep, python_stage_partitions),
    (_corridors, python_stage_partitions),
    (_extract, python_stage_partitions),
    (_dbscan, python_stage_partitions),
    (_rasterize, lambda s: 2 * s.sparkContext.defaultParallelism),
], ids=["mdl_segments", "representative_trajectories", "corridor_polygons",
        "extract_polygons", "dbscan", "rasterize"])
def test_python_kernel_stages_pin_partition_count(spark, build, want):
    """Every shuffle feeding a Python-kernel stage carries the policy's
    explicit count (AQE's byte-based coalescing would starve it), and
    rasterize's scan fan-out carries fan_out's."""
    counts = build(spark)
    assert counts and set(counts) == {str(want(spark))}, counts


def test_bruteforce_probe_cap_raises_loudly(emb):
    with pytest.raises(ValueError, match="max_probes"):
        similarity.ann_topk_bruteforce(emb, k=2, probe_mod=1,
                                       max_probes=10)


def test_multi_bucket_sql_matches_column_reference(emb):
    """The parsed-SQL bucket keys must equal the Column-composed
    reference (the pre-r7 formulation) bit-for-bit."""
    bits, tables = 6, 3
    got = (similarity.multi_bucket(emb, bits, tables)
           .toPandas().sort_values(["vec_id", "tbl"])
           .reset_index(drop=True))
    planes = similarity.lsh_planes(bits, tables)
    frames = []
    for t in range(tables):
        key = None
        for j in range(bits):
            proj = None
            for d, c in planes[t][j]:
                term = F.coalesce(
                    F.try_element_at("embedding", F.lit(d + 1))
                    .cast("double"), F.lit(0.0)) * F.lit(c)
                proj = term if proj is None else proj + term
            bit = (proj > 0).cast("long") * F.lit(1 << j)
            key = bit if key is None else key + bit
        frames.append(emb.select("vec_id", F.lit(t).alias("tbl"),
                                 key.alias("bucket")))
    ref = frames[0]
    for fr in frames[1:]:
        ref = ref.unionByName(fr)
    ref = (ref.toPandas().sort_values(["vec_id", "tbl"])
           .reset_index(drop=True))
    pd.testing.assert_frame_equal(got, ref)
