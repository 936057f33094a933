"""Distributed DBSCAN + sweep vs the brute-force union-find oracle
(SURVEY.md §5.2-2/-3) on MDL-partitioned fixture segments."""

from functools import reduce

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fixtures import gen_pages, oracle
from imc import dbscan, extract, joins, kernels, segments, sweep
from imc.config import VENUE_STRIDE, IMCParams

PARAMS = IMCParams(eps=1.2, min_lns=3)


def _segments_and_pairs(spark, seed=42):
    path = gen_pages.ensure_pages(sf=0.001, seed=seed)
    pages = spark.read.parquet(path)
    pts = extract.pages_to_points(pages)
    seg_df = segments.mdl_segments(pts)
    seg_df.cache().count()
    pairs = joins.eps_join(seg_df, PARAMS)
    pairs.cache().count()
    return seg_df, pairs


@pytest.fixture(scope="module")
def fixture_data(spark):
    return _segments_and_pairs(spark)


def _assert_matches_oracle(seg_df, got):
    pdf = seg_df.toPandas().sort_values("seg_id")
    want = oracle.dbscan_oracle(
        pdf["seg_id"].to_numpy(np.int64),
        pdf["traj_id"].to_numpy(np.int64),
        pdf[["x1", "y1", "x2", "y2"]].to_numpy(np.float64),
        PARAMS.eps, PARAMS.min_lns)

    got_s = got.sort_values("seg_id").reset_index(drop=True)
    want_s = want.sort_values("seg_id").reset_index(drop=True)
    assert len(got_s) == len(want_s)
    pd.testing.assert_frame_equal(
        got_s.astype({"seg_id": "int64", "cluster_id": "int64", "is_core": "bool"}),
        want_s.astype({"seg_id": "int64", "cluster_id": "int64", "is_core": "bool"}))


def test_dbscan_matches_oracle(spark, fixture_data):
    seg_df, pairs = fixture_data
    _assert_matches_oracle(seg_df, dbscan.dbscan(seg_df, pairs, PARAMS).toPandas())


def test_dbscan_cross_venue_groups_match_oracle(spark, fixture_data):
    """The fixture's segments of trajectories with traj_id % 10 < 3,
    copied into venues 0, 1, 7 and 3 at x-offsets 0, 0.4, 0.9 and
    5000 m: venues 0, 1 and 7 chain through cross-venue ε-pairs into one
    venue group whose components span venues, venue 3 stays alone. The
    venue-bucketed pass must equal the oracle over all four."""
    seg_df, _ = fixture_data
    base = seg_df.filter(F.col("traj_id") % 10 < 3)
    copies = []
    for venue, dx in ((0, 0.0), (1, 0.4), (7, 0.9), (3, 5000.0)):
        tid = F.col("traj_id") % VENUE_STRIDE + venue * VENUE_STRIDE
        copies.append(base.select(
            (tid * segments.SEG_ID_STRIDE
             + F.col("seg_id") % segments.SEG_ID_STRIDE).alias("seg_id"),
            tid.alias("traj_id"),
            (F.col("x1") + dx).alias("x1"), "y1",
            (F.col("x2") + dx).alias("x2"), "y2"))
    segs = reduce(DataFrame.unionByName, copies).localCheckpoint(eager=True)
    pairs = joins.eps_join(segs, PARAMS).localCheckpoint(eager=True)

    stride = segments.SEG_ID_STRIDE * VENUE_STRIDE
    venue_pairs = {(int(r["a"]), int(r["b"])) for r in pairs.select(
        F.expr(f"a_seg div {stride}").alias("a"),
        F.expr(f"b_seg div {stride}").alias("b")).distinct().collect()}
    assert {(0, 1), (1, 7)} <= venue_pairs
    assert not any(3 in p for p in venue_pairs if p != (3, 3))

    _assert_matches_oracle(segs, dbscan.dbscan(segs, pairs, PARAMS).toPandas())


def _dbscan_jobs(spark, seg_df, pairs) -> int:
    """Spark jobs one dbscan build + noop write starts."""
    sc = spark.sparkContext
    group = f"dbscan-jobs-{id(seg_df)}"
    sc.setJobGroup(group, group)
    try:
        (dbscan.dbscan(seg_df, pairs, PARAMS)
         .write.format("noop").mode("overwrite").save())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_dbscan_job_count_is_small_and_seed_free(spark, fixture_data):
    """A constant number of Spark jobs, whatever the ε-graph: the density
    step is one cogrouped pass, and the distributed connected-components
    rounds run only on the (here edgeless) venue-adjacency graph. Fixture
    seeds 42 and 7 start the same count."""
    seg_df, pairs = fixture_data
    seg7, pairs7 = _segments_and_pairs(spark, seed=7)
    try:
        n42 = _dbscan_jobs(spark, seg_df, pairs)
        n7 = _dbscan_jobs(spark, seg7, pairs7)
    finally:
        seg7.unpersist()
        pairs7.unpersist()
    assert n42 <= 20, n42
    assert n42 == n7, (n42, n7)


def test_dbscan_invariants(spark, fixture_data):
    seg_df, pairs = fixture_data
    got = dbscan.dbscan(seg_df, pairs, PARAMS).toPandas()
    # every segment at most one cluster
    assert got["seg_id"].is_unique
    # cluster ids dense from 0
    cids = sorted(got["cluster_id"].unique())
    assert cids == list(range(len(cids)))
    # each surviving cluster has >= MinLns distinct trajectories
    traj = seg_df.select("seg_id", "traj_id").toPandas()
    m = got.merge(traj, on="seg_id")
    per = m.groupby("cluster_id")["traj_id"].nunique()
    assert (per >= PARAMS.min_lns).all()
    # clusters exist (corridors are dense enough)
    assert len(cids) >= 3


def test_sweep_matches_oracle(spark, fixture_data):
    seg_df, pairs = fixture_data
    assign = dbscan.dbscan(seg_df, pairs, PARAMS)
    rep = sweep.representative_trajectories(seg_df, assign, PARAMS).toPandas()

    adf = assign.toPandas().merge(seg_df.toPandas(), on="seg_id")
    for cid, grp in adf.groupby("cluster_id"):
        segs = grp.sort_values("seg_id")[["x1", "y1", "x2", "y2"]].to_numpy(np.float64)
        want = oracle.sweep_oracle(segs, PARAMS.min_lns, PARAMS.gamma)
        mine = (rep[rep["cluster_id"] == cid]
                .sort_values("pt_seq")[["x", "y"]].to_numpy(np.float64))
        assert mine.shape == want.shape, f"cluster {cid}"
        np.testing.assert_allclose(mine, want, atol=1e-9, err_msg=f"cluster {cid}")


def test_rep_polylines_near_corridor_centerlines(spark, fixture_data):
    """Sanity layer (FIXTURES.md §5): representative points lie close to a
    true corridor centerline (within corridor half-width + 2σ)."""
    seg_df, pairs = fixture_data
    assign = dbscan.dbscan(seg_df, pairs, PARAMS)
    rep = sweep.representative_trajectories(seg_df, assign, PARAMS).toPandas()
    truth = gen_pages.venue_truth()
    edges = truth[["x1", "y1", "x2", "y2"]].to_numpy(np.float64)
    tol = 1.0 + 2 * 0.25
    ok = 0
    for _, r in rep.iterrows():
        d = kernels.point_segment_distance(
            np.full(len(edges), r["x"]), np.full(len(edges), r["y"]),
            edges[:, 0], edges[:, 1], edges[:, 2], edges[:, 3]).min()
        ok += d <= tol
    assert ok / max(len(rep), 1) > 0.9


def test_cluster_sse_hand_computed(spark):
    """QMeasure terms ([T] §6.2): two parallel unit segments at distance 1
    in one cluster → SSE = dist²/|C| = 1/2; singleton cluster → SSE 0."""
    import pandas as pd
    from imc import quality
    segs = spark.createDataFrame(pd.DataFrame({
        "seg_id": [1, 2, 3],
        "x1": [0.0, 0.0, 100.0], "y1": [0.0, 1.0, 0.0],
        "x2": [1.0, 1.0, 101.0], "y2": [0.0, 1.0, 0.0],
    }))
    assign = spark.createDataFrame(pd.DataFrame({
        "seg_id": [1, 2, 3], "cluster_id": [0, 0, 1],
        "is_core": [True, True, True],
    }))
    got = quality.cluster_sse(segs, assign).toPandas().set_index("cluster_id")
    assert got.loc[0, "n_segs"] == 2 and got.loc[0, "sse"] == 0.5
    assert got.loc[1, "n_segs"] == 1 and got.loc[1, "sse"] == 0.0
    q = quality.qmeasure(segs, assign)
    assert q == 0.5


def test_rank_components_two_level_equals_global_order(spark):
    """r5 (VERDICT r04 #6): canonical cluster ids come from a rank-within-
    venue + venue-offset pair — identical ids to a global ascending-comp
    row_number, with no single-partition window over the cluster set (the
    row_number window must partition by venue)."""
    from pyspark.sql import functions as F

    from imc.config import VENUE_STRIDE
    from imc.segments import SEG_ID_STRIDE
    stride = SEG_ID_STRIDE * VENUE_STRIDE
    rng = np.random.default_rng(3)
    # clusters scattered over 40 venues, several per venue, unsorted input
    comps = sorted({int(v) * stride + int(o)
                    for v in rng.integers(0, 40, size=300)
                    for o in rng.integers(0, 99999, size=3)})
    rng.shuffle(arr := np.array(comps, dtype=np.int64))
    df = spark.createDataFrame([(int(c),) for c in arr], "comp long")

    out = dbscan.rank_components(df)
    got = out.toPandas().sort_values("comp").reset_index(drop=True)
    assert got["cluster_id"].tolist() == list(range(len(comps)))
    assert got["comp"].tolist() == comps  # ascending comp ⇔ ascending id

    # plan gate: every row_number window partitions by _v (venue) — the
    # only global window is the per-venue offset running sum
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re
    for spec in re.findall(r"row_number\(\) windowspecdefinition\(([^)]*)\)",
                           plan):
        assert "_v" in spec, plan[:3000]
