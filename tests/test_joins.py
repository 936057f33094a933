"""Operator equivalence tests (SURVEY.md §5.2-2): cell-prefilter ε-join ≡
crossJoin+filter; salted ≡ unsalted; kNN via cells ≡ brute-force kNN;
PIP assignment vs scalar oracle."""

import re

import numpy as np
import pandas as pd
import pytest

from fixtures import gen_pages, oracle
from imc import extract, joins, kernels, segments
from imc.config import VENUE_STRIDE, IMCParams

PARAMS = IMCParams(eps=1.2, min_lns=3)


@pytest.fixture(scope="module")
def seg_df(spark):
    path = gen_pages.ensure_pages(sf=0.001)
    pages = spark.read.parquet(path)
    pts = extract.pages_to_points(pages)
    # limit to 20 trajectories to keep the brute-force oracle small
    df = segments.raw_segments(pts).filter("traj_id % 50 < 20")
    df.cache().count()
    return df


def brute_pairs(pdf: pd.DataFrame, eps: float) -> set:
    arr = pdf[["x1", "y1", "x2", "y2"]].to_numpy(np.float64)
    ids = pdf["seg_id"].to_numpy(np.int64)
    n = len(ids)
    ii, jj = np.triu_indices(n, k=1)
    _, _, _, dist = kernels.traclus_distance(
        arr[ii, 0], arr[ii, 1], arr[ii, 2], arr[ii, 3],
        arr[jj, 0], arr[jj, 1], arr[jj, 2], arr[jj, 3])
    keep = dist <= eps
    a = np.minimum(ids[ii[keep]], ids[jj[keep]])
    b = np.maximum(ids[ii[keep]], ids[jj[keep]])
    return set(zip(a.tolist(), b.tolist()))


def test_dist_expressions_match_numpy_kernels(spark):
    """The Catalyst TRACLUS/Hausdorff expressions reproduce the numpy
    kernels (≤1 ulp: sqrt(x²+y²) vs np.hypot) on random + adversarial
    pairs — the ε-join refine runs JVM-side on these expressions."""
    from pyspark.sql import functions as F
    rng = np.random.default_rng(11)
    n = 3000
    arr = rng.uniform(-50, 50, size=(n, 8))
    arr[:50, 4:] = arr[:50, :4]              # identical segments
    arr[50:100, 6:] = arr[50:100, 4:6]       # zero-length b (guarded path)
    arr[100:150, 2:4] = arr[100:150, 0:2] + np.array([1e-9, 0.0])  # tiny a
    cols = ["ax1", "ay1", "ax2", "ay2", "bx1", "by1", "bx2", "by2"]
    pdf = pd.DataFrame(arr, columns=cols)
    df = spark.createDataFrame(pdf)
    got = joins.with_traclus_dist(df, 1.0, 1.0, 1.0, out="dt") \
        .withColumn("dh", joins.hausdorff_dist_expr()) \
        .select("dt", "dh").toPandas()
    want_t = kernels.traclus_distance(*[arr[:, i] for i in range(8)])[3]
    want_h = kernels.hausdorff_distance(*[arr[:, i] for i in range(8)])
    np.testing.assert_allclose(got["dt"], want_t, rtol=1e-12, atol=1e-12)
    np.testing.assert_allclose(got["dh"], want_h, rtol=1e-12, atol=1e-12)


def test_eps_join_equals_bruteforce(spark, seg_df):
    got = joins.eps_join(seg_df, PARAMS, salt=False).toPandas()
    want = brute_pairs(seg_df.toPandas(), PARAMS.eps)
    got_set = set(zip(got["a_seg"].tolist(), got["b_seg"].tolist()))
    assert got_set == want
    assert len(got) == len(got_set)  # no duplicate pairs
    assert (got["a_seg"] < got["b_seg"]).all()  # canonical order
    assert (got["dist"] <= PARAMS.eps).all()


def test_salted_equals_unsalted(spark, seg_df):
    plain = joins.eps_join(seg_df, PARAMS, salt=False).toPandas()
    salted = joins.eps_join(seg_df, PARAMS, salt=True).toPandas()
    a = set(zip(plain["a_seg"], plain["b_seg"]))
    b = set(zip(salted["a_seg"], salted["b_seg"]))
    assert a == b


# at the default hot_cell_factor (20) the hot fixture has no hot cell;
# at 1.0 its junction cells are hot
HOT_PARAMS = IMCParams(eps=1.2, min_lns=3, hot_cell_factor=1.0)


@pytest.fixture(scope="module")
def seg_hot(spark):
    """MDL segments of the hot-cell fixture (~30% of walks through one
    junction), with a LONG segment crossing the junction."""
    path = gen_pages.ensure_pages(sf=0.001, hot=True)
    pts = extract.pages_to_points(spark.read.parquet(path))
    long_row = spark.createDataFrame(
        pd.DataFrame([(999_000_000, 9999, -40.0, 20.0, 90.0, 20.0)],
                     columns=["seg_id", "traj_id", "x1", "y1", "x2", "y2"]))
    df = (segments.mdl_segments(pts).filter("traj_id % 50 < 12")
          .select("seg_id", "traj_id", "x1", "y1", "x2", "y2")
          .unionByName(long_row))
    df.cache().count()
    yield df
    df.unpersist()


def _pairs(df) -> set:
    pdf = df.toPandas()
    return set(zip(pdf["a_seg"], pdf["b_seg"]))


def test_salted_equals_unsalted_hot_fixture(spark, seg_hot):
    """Skew robustness: on the hot-cell fixture the salted join, with hot
    cells sampled in its own plan, still produces the exact pair set —
    the long join's hot-cell salting (ADVICE r03: previously unsalted)
    is exercised against real hot cells, not just the .otherwise(0)
    path."""
    plain = _pairs(joins.eps_join(seg_hot, HOT_PARAMS, salt=False))
    assert _pairs(joins.eps_join(seg_hot, HOT_PARAMS, salt=True)) == plain
    assert len(plain) > 0
    # (the long segment contributes candidates through the hot junction
    # cells — exactness of long-involving PAIRS at a pair-producing ε is
    # covered by test_eps_join_split_long_equals_bruteforce)


def test_manifest_hot_cells_equal_unsalted_hot_fixture(spark, seg_hot):
    """The pipeline's path: hot cells from hot_cell_keys (as the segments
    manifest records them) mark the salted joins through a plan literal
    — no frame built from Python rows, so no ExistingRDD scan and no
    Python RDD job — and the pairs equal the unsalted join's. A list
    longer than HOT_CELLS_CAP raises before any job."""
    hot = joins.hot_cell_keys(seg_hot, HOT_PARAMS)
    assert hot
    out = joins.eps_join(seg_hot, HOT_PARAMS, has_long=True, hot_cells=hot)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan
    assert _pairs(out) == _pairs(joins.eps_join(seg_hot, HOT_PARAMS,
                                                salt=False))

    sc = spark.sparkContext
    group = "test_hot_cells_cap"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(ValueError, match="HOT_CELLS_CAP"):
            joins.eps_join(seg_hot, HOT_PARAMS,
                           hot_cells=list(range(joins.HOT_CELLS_CAP + 1)))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_knn_equals_bruteforce(spark, seg_df):
    k = 5
    small = seg_df.filter("traj_id % 50 < 6")  # keep brute force cheap
    got = joins.knn_join(small, small, k=k, params=PARAMS).toPandas()
    pdf = small.toPandas()
    arr = pdf[["x1", "y1", "x2", "y2"]].to_numpy(np.float64)
    ids = pdf["seg_id"].to_numpy(np.int64)
    n = len(ids)
    for qi in range(0, n, 17):  # sample probes
        d = kernels.traclus_distance(
            np.full(n, arr[qi, 0]), np.full(n, arr[qi, 1]),
            np.full(n, arr[qi, 2]), np.full(n, arr[qi, 3]),
            arr[:, 0], arr[:, 1], arr[:, 2], arr[:, 3])[3]
        d[qi] = np.inf
        # engine ranks on (round(dist,6), b_seg) — oracle-stable tie-break
        order = np.lexsort((ids, np.round(d, 6)))[:k]
        want = set(ids[order].tolist())
        mine = set(got[got["a_seg"] == ids[qi]]["b_seg"].tolist())
        assert mine == want, f"probe {ids[qi]}"


def test_knn_rank_and_count(spark, seg_df):
    k = 3
    small = seg_df.filter("traj_id % 50 < 4")
    got = joins.knn_join(small, small, k=k, params=PARAMS).toPandas()
    n_probes = small.count()
    counts = got.groupby("a_seg").size()
    assert (counts == k).all()
    assert len(counts) == n_probes  # fallback guarantees k for every probe
    assert set(got["rank"]) == {1, 2, 3}
    assert got["settled"].all()  # every fixture probe provably exact


def test_knn_unsettled_probes_are_flagged(spark):
    """r5 (VERDICT r04 #4): a probe whose k-th neighbor lies beyond the
    round budget's R_max emits its partial top-k with settled=false —
    truncated results are distinguishable from exact ones."""
    import pandas as pdd
    # probe 0 at the origin; one base neighbor adjacent, one 500 units
    # away (beyond R_0 = gap_bound, the only round when max_rounds=1)
    pdf = pdd.DataFrame(
        [(0, 0, 0.0, 0.0, 1.0, 0.0),
         (1, 0, 0.5, 0.1, 1.5, 0.1),
         (2, 0, 500.0, 0.0, 501.0, 0.0)],
        columns=["seg_id", "traj_id", "x1", "y1", "x2", "y2"])
    segs = spark.createDataFrame(pdf)
    probe = segs.filter("seg_id = 0")

    trunc = joins.knn_join(probe, segs, k=2, params=PARAMS,
                           max_rounds=1).toPandas()
    assert len(trunc) == 1  # only the near neighbor was reachable
    assert not trunc["settled"].any()

    full = joins.knn_join(probe, segs, k=2, params=PARAMS).toPandas()
    assert len(full) == 2 and full["settled"].all()
    assert set(full["b_seg"]) == {1, 2}


def _pip_join(df) -> str:
    """The tile_assignments join node of df's executed plan, as printed."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.search(r"\w+Join \[.*", plan).group(0)


def test_tile_assignment_many_venues_is_venue_keyed(spark):
    """With many venues the PIP must test only the probe venue's rings, not
    every ring in the corpus: venue is the join's equi-key. 60 venues × 16
    tiles; correctness vs the scalar oracle."""
    n_venues = 60
    tiles = gen_pages.all_tiles(n_venues)
    rng = np.random.default_rng(7)
    rows = []
    for v in range(n_venues):
        vx = (v % 10) * gen_pages.VENUE_PITCH
        vy = (v // 10) * gen_pages.VENUE_PITCH
        for w in range(20):
            x = vx + rng.uniform(-5, 45)
            y = vy + rng.uniform(-5, 45)
            rows.append((int((v * VENUE_STRIDE + w) * 100_000),
                         v * VENUE_STRIDE + w, x, y, x + 0.5, y + 0.5))
    pdf = pd.DataFrame(rows, columns=["seg_id", "traj_id", "x1", "y1", "x2", "y2"])
    out = joins.tile_assignments(spark.createDataFrame(pdf), tiles)
    got = out.toPandas()
    assert re.match(r"\w+Join \[venue#\d+L\], \[ev#\d+L\], LeftOuter",
                    _pip_join(out))
    got_map = dict(zip(got["seg_id"], got["tile_id"]))
    assert len(got_map) == len(pdf)
    want = oracle.tile_assignments_oracle(
        pdf.sample(n=120, random_state=3), tiles, VENUE_STRIDE)
    assert {k: got_map[k] for k in want} == want


def test_tile_assignment_matches_scalar(spark, seg_df):
    tiles = gen_pages.venue_tiles()
    got = joins.tile_assignments(seg_df, tiles).toPandas()
    pdf = seg_df.toPandas()
    mx = (pdf["x1"] + pdf["x2"]) / 2
    my = (pdf["y1"] + pdf["y2"]) / 2
    want = {}
    for sid, px, py in zip(pdf["seg_id"], mx, my):
        assigned = -1
        for _, trow in tiles.sort_values("tile_id").iterrows():
            ring = np.array([[p["x"], p["y"]] for p in trow["ring"]])
            if kernels.point_in_polygon([px], [py], ring)[0]:
                assigned = trow["tile_id"]
                break
        want[sid] = assigned
    got_map = dict(zip(got["seg_id"], got["tile_id"]))
    assert got_map == want
    # walks stay in corridors: vast majority assigned
    frac = (got["tile_id"] >= 0).mean()
    assert frac > 0.9


@pytest.mark.parametrize("tiles_as", ["pandas", "spark_int_venue",
                                      "no_broadcast"])
def test_tile_assignments_many_venues(spark, tiles_as):
    """tile_assignments on a 1,200-venue corpus with overlapping tiles
    (lowest tile_id wins), venues with no tiles (-1) and tiles with no
    segments equals the scalar oracle — for pandas tiles, for a Spark
    frame whose venue is int (as read back from a venue-hive-partitioned
    directory), and with broadcast joins off. The planner, not the
    operator, picks the join: broadcast by default, a shuffle join on
    venue when broadcasting is off."""
    n_v = 1200
    seg_rows, tile_rows = [], []
    sq = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0)]
    for v in range(n_v):
        ox, oy = (v % 40) * 100.0, (v // 40) * 100.0
        traj = v * VENUE_STRIDE
        # seg 0: inside both tiles (overlap) -> lowest tile_id wins
        seg_rows.append((traj * 100000 + 0, traj, ox + 1.0, oy + 1.0,
                         ox + 3.0, oy + 3.0))
        # seg 1: inside tile 1 only
        seg_rows.append((traj * 100000 + 1, traj, ox + 5.0, oy + 1.0,
                         ox + 6.0, oy + 2.0))
        # seg 2: outside every tile
        seg_rows.append((traj * 100000 + 2, traj, ox + 50.0, oy + 50.0,
                         ox + 51.0, oy + 51.0))
        if v % 7 == 0:
            continue  # venue without tiles: all segments -> -1
        for tid, (dx, dy) in enumerate([(0.0, 0.0), (2.0, 0.0)]):
            ring = [{"x": x + ox + dx, "y": y + oy + dy} for x, y in sq]
            tile_rows.append((v * 1000 + tid, v, ring))
    # tiles of venues past the last segment's venue: tiles without segments
    tile_rows.append((n_v * 1000, n_v, [{"x": x, "y": y} for x, y in sq]))
    seg_pdf = pd.DataFrame(seg_rows, columns=["seg_id", "traj_id",
                                              "x1", "y1", "x2", "y2"])
    segs = spark.createDataFrame(seg_pdf)
    tiles_pdf = pd.DataFrame(tile_rows, columns=["tile_id", "venue", "ring"])
    tiles = (tiles_pdf if tiles_as == "pandas" else spark.createDataFrame(
        tiles_pdf, "tile_id long, venue int, ring array<struct<x:double,y:double>>"))

    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    if tiles_as == "no_broadcast":
        spark.conf.set(key, "-1")
    try:
        out = joins.tile_assignments(segs, tiles)
        got = out.toPandas()
        join = _pip_join(out)
    finally:
        spark.conf.set(key, old)

    assert join.startswith(("SortMergeJoin", "ShuffledHashJoin")
                           if tiles_as == "no_broadcast"
                           else "BroadcastHashJoin"), join
    m = dict(zip(got["seg_id"], got["tile_id"]))
    assert len(got) == len(seg_pdf)
    assert m == oracle.tile_assignments_oracle(seg_pdf, tiles_pdf, VENUE_STRIDE)
    # sanity on the semantics themselves
    v = 1  # a venue with tiles
    traj = v * VENUE_STRIDE
    assert m[traj * 100000 + 0] == v * 1000 + 0   # overlap -> lowest id
    assert m[traj * 100000 + 1] == v * 1000 + 1
    assert m[traj * 100000 + 2] == -1
    assert all(m[t * 100000 + i] == -1
               for t in [0 * VENUE_STRIDE, 7 * VENUE_STRIDE] for i in range(3))


def _diag_segment_df(spark, rng, n_base=15, n_short=80):
    """Adversarial fixture: kilometre-scale diagonal segments (the case
    where a full-bbox cover is quadratic) with planted NEAR pairs — two
    parallel jittered copies per base diagonal (long-long pairs: small
    d⊥/d∥/dθ) and short segments hugging base endpoints (long-short
    pairs: d∥ small only near an endpoint), plus random far shorts."""
    rows = []
    sid = 1000
    for i in range(n_base):
        x = rng.uniform(-200, 200)
        y = rng.uniform(-200, 200)
        ang = rng.uniform(0, 2 * np.pi)
        ln = rng.uniform(150, 600)
        ux, uy = np.cos(ang), np.sin(ang)
        nx, ny = -uy, ux
        rows.append((sid, 1, x, y, x + ln * ux, y + ln * uy))
        sid += 1
        for _ in range(2):  # parallel near copies
            off = rng.uniform(0.5, 3.0) * rng.choice([-1, 1])
            j0 = rng.uniform(-2, 2)
            j1 = rng.uniform(-2, 2)
            rows.append((sid, 1,
                         x + off * nx + j0 * ux, y + off * ny + j0 * uy,
                         x + off * nx + (ln + j1) * ux,
                         y + off * ny + (ln + j1) * uy))
            sid += 1
        for end in (0.0, 1.0):  # endpoint-hugging shorts
            ex, ey = x + end * ln * ux, y + end * ln * uy
            sl = rng.uniform(2.0, 6.0)
            rows.append((sid, 1, ex + rng.uniform(-1, 1),
                         ey + rng.uniform(-1, 1),
                         ex + sl * ux + rng.uniform(-1, 1),
                         ey + sl * uy + rng.uniform(-1, 1)))
            sid += 1
    for i in range(n_short):
        x = rng.uniform(-300, 300)
        y = rng.uniform(-300, 300)
        ang = rng.uniform(0, 2 * np.pi)
        ln = rng.uniform(0.5, 8.0)
        rows.append((2000 + i, 1, x, y, x + ln * np.cos(ang),
                     y + ln * np.sin(ang)))
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["seg_id", "traj_id",
                                    "x1", "y1", "x2", "y2"]))


def test_eps_join_split_long_equals_bruteforce(spark):
    """Long-diagonal adversarial corpus: the split-cover path must produce
    exactly the brute-force pair set (and the unsplit path's), with no
    duplicates. Larger ε so long-long and long-short pairs both occur."""
    rng = np.random.default_rng(3)
    df = _diag_segment_df(spark, rng)
    params = IMCParams(eps=12.0, min_lns=3)
    got = joins.eps_join(df, params, salt=False).toPandas()
    pdf = df.toPandas()
    want = brute_pairs(pdf, params.eps)
    got_set = set(zip(got["a_seg"].tolist(), got["b_seg"].tolist()))
    assert got_set == want and len(want) > 50
    assert len(got) == len(got_set)  # no duplicate pairs
    # the planted classes actually occur: long-long AND long-short pairs
    lens = dict(zip(pdf["seg_id"],
                    np.hypot(pdf["x2"] - pdf["x1"], pdf["y2"] - pdf["y1"])))
    thresh = 4.0 * params.join_cell
    classes = {(lens[a] > thresh) + (lens[b] > thresh) for a, b in want}
    assert {1, 2} <= classes
    # unsplit (full-bbox) path agrees too
    unsplit = joins.eps_join(df, params, salt=False, split_factor=0).toPandas()
    assert set(zip(unsplit["a_seg"], unsplit["b_seg"])) == want
    # salted split path agrees as well
    salted = joins.eps_join(df, params, salt=True).toPandas()
    assert set(zip(salted["a_seg"], salted["b_seg"])) == want


def test_split_cover_linear_in_length(spark):
    """Cover rows must grow ~linearly with diagonal segment length (the
    full-bbox cover grows quadratically): 4x the length must cost well
    under 16x the cells — and under ~8x (linear plus constants)."""
    params = IMCParams(eps=1.2, min_lns=3)
    g = params.join_cell
    r = params.gap_bound / 2.0
    thresh = 4.0 * g

    def n_cover(length):
        df = spark.createDataFrame(
            pd.DataFrame([(1, 0.0, 0.0, length / np.sqrt(2),
                           length / np.sqrt(2))],
                         columns=["seg_id", "x1", "y1", "x2", "y2"]))
        return joins._split_bbox_cover(df, g, r, thresh).count()

    n1, n4 = n_cover(200.0), n_cover(800.0)
    assert n4 < 8 * n1, (n1, n4)
    # sanity: the full-bbox cover IS quadratic on the same input
    def n_full(length):
        df = spark.createDataFrame(
            pd.DataFrame([(1, 0.0, 0.0, length / np.sqrt(2),
                           length / np.sqrt(2))],
                         columns=["seg_id", "x1", "y1", "x2", "y2"]))
        return joins._bbox_cover(df, g, r).count()
    assert n_full(800.0) > 10 * n_full(200.0)


def test_cell_key_envelope_guard(spark):
    """Coordinates beyond the 21-bit biased cell domain must FAIL LOUDLY
    instead of silently aliasing distinct cells (ADVICE r02)."""
    import pandas as pd
    from pyspark.errors import SparkRuntimeException
    far = 6.0e6  # |floor(coord/g)| >= 2^20 at default join_cell
    df = spark.createDataFrame(
        pd.DataFrame([(1, 1, far, far, far + 1.0, far + 1.0),
                      (2, 1, far, far, far + 1.5, far + 0.5)],
                     columns=["seg_id", "traj_id", "x1", "y1", "x2", "y2"]))
    with pytest.raises(SparkRuntimeException, match="21-bit"):
        joins.eps_join(df, PARAMS, salt=False).count()


def test_eps_join_plan_shape(spark, seg_df):
    """Structural plan pins: the all-short path must carry NO aggregation
    (the PBSM responsible-cell filter replaces the dedupe shuffle, and the
    limit-1 probe must keep the long-path distinct out of the plan); with
    a long segment present, exactly the minority-distinct aggregation
    appears."""
    plan_short = (joins.eps_join(seg_df, PARAMS, salt=False)
                  ._jdf.queryExecution().optimizedPlan().toString())
    assert "Aggregate" not in plan_short

    import pandas as pd
    long_row = spark.createDataFrame(
        pd.DataFrame([(999999, 1, 0.0, 0.0, 500.0, 500.0)],
                     columns=["seg_id", "traj_id", "x1", "y1", "x2", "y2"]))
    with_long = seg_df.select("seg_id", "traj_id",
                              "x1", "y1", "x2", "y2").unionByName(long_row)
    plan_long = (joins.eps_join(with_long, PARAMS, salt=False)
                 ._jdf.queryExecution().optimizedPlan().toString())
    assert "Aggregate" in plan_long
