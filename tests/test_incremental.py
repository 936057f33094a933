"""Incremental "new pages since snapshot" mode (SURVEY.md §2.10):
folding a new crawl batch into an existing output must equal a full
recompute over (old ∪ new) pages, while touching only affected-venue
partitions on disk."""

import os
from urllib.parse import urlparse

import pandas as pd
import pytest

from fixtures import gen_pages
from imc import manifest, pipeline
from imc.config import IMCParams

PARAMS = IMCParams(eps=1.2, min_lns=3)


def _read_sorted(spark, path, keys):
    df = spark.read.parquet(path).toPandas()
    return df[sorted(df.columns)].sort_values(keys).reset_index(drop=True)


@pytest.mark.usefixtures("spark")
def test_incremental_equals_full(spark, tmp_path):
    from pyspark.sql import functions as F
    pages = spark.read.parquet(gen_pages.ensure_pages(sf=0.01))  # 10 venues
    slot = F.regexp_extract("url", r"walk(\d+)$", 1).cast("int")
    venue = F.regexp_extract("url", r"venue(\d+)/", 1).cast("int")

    # new batch: venue 0's slots ≥ 400, NEWEST version per url (a crawler
    # delta); everything else — including those urls' older duplicates —
    # is the previously ingested corpus, so url replacement is exercised
    from imc.extract import dedupe_pages
    new_batch = dedupe_pages(pages).filter((venue == 0) & (slot >= 400))
    old_batch = pages.join(new_batch.select("url", "warc_ts"),
                           ["url", "warc_ts"], "left_anti")
    assert new_batch.count() > 0
    assert old_batch.count() + new_batch.count() == pages.count()

    inc_out = str(tmp_path / "inc")
    full_out = str(tmp_path / "full")
    pipeline.run(spark, old_batch, inc_out, PARAMS)

    # unaffected venue partitions must not be rewritten by the incremental
    probe = os.path.join(inc_out, "segments", "venue=5")
    mtime_before = max(os.path.getmtime(os.path.join(probe, f))
                       for f in os.listdir(probe))

    inc_results = pipeline.run_incremental(spark, new_batch, inc_out, PARAMS)
    full_results = pipeline.run(spark, pages, full_out, PARAMS)
    assert set(inc_results) == set(full_results)

    mtime_after = max(os.path.getmtime(os.path.join(probe, f))
                      for f in os.listdir(probe))
    assert mtime_after == mtime_before

    # stage-by-stage equivalence with the full recompute
    checks = {
        "points": ["traj_id", "seq"],
        "segments": ["seg_id"],
        "eps_pairs": ["a_seg", "b_seg"],
        "assignments": ["seg_id"],
        "rep_points": ["cluster_id", "pt_seq"],
        "tile_assignments": ["seg_id"],
        "raster": ["venue", "gx", "gy"],
    }
    for name, keys in checks.items():
        got = _read_sorted(spark, inc_results[name][0], keys)
        want = _read_sorted(spark, full_results[name][0], keys)
        assert len(got) == len(want), name
        pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                      obj=name)

    # manifests record the delta lineage (parent snapshot + delta fp)
    m = manifest.read_manifest(inc_results["eps_pairs"][0])
    assert len(m["inputs"]) == 2 and m["committed"]


@pytest.mark.usefixtures("spark")
def test_incremental_empty_venue_drops_stale_partition(spark, tmp_path):
    """A new batch can make an affected venue produce ZERO rows for a
    stage (here: every venue-0 walk url replaced by a 1-point trajectory
    → no segments). Dynamic overwrite alone would keep the stale venue=0
    partition; the incremental run must drop it and still equal a full
    recompute over the merged corpus."""
    import pandas as pdd
    from fixtures.gen_pages import _make_html, _make_text
    pages = spark.read.parquet(gen_pages.ensure_pages(sf=0.01))

    rows = []
    ts = pdd.Timestamp("2027-01-01T00:00:00")  # newer than everything
    for slot in range(0, 500, 10):  # every venue-0 walk-carrying slot
        url = f"https://fixture.test/venue0/walk{slot}"
        traj = f"TRAJ {slot // 10} 0 1.000000 2.000000 2027-01-01T00:00:00Z"
        rows.append((url, ts, _make_html("t", "p", traj),
                     _make_text("t", "p", traj), "en"))
    new_batch = spark.createDataFrame(
        pdd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"]))

    inc_out = str(tmp_path / "inc2")
    pipeline.run(spark, pages, inc_out, PARAMS)
    inc_results = pipeline.run_incremental(spark, new_batch, inc_out, PARAMS)

    assert not os.path.exists(os.path.join(inc_results["segments"][0], "venue=0"))
    segs = spark.read.parquet(inc_results["segments"][0])
    assert segs.filter("venue = 0").count() == 0
    assert segs.count() > 0  # venues 1-9 intact

    # every manifest the fold committed counts the table as it now is on
    # disk: untouched venue files are listed, dropped venue dirs are not
    for name, (p, _) in inc_results.items():
        m = manifest.read_manifest(p)
        table = spark.read.parquet(p)
        assert m["row_count"] == table.count(), name
        on_disk = {os.path.relpath(urlparse(f).path, p)
                   for f in table.inputFiles()}
        assert {e["file"] for e in m["partitions"]} == on_disk, name
    seg_files = [e["file"] for e in
                 manifest.read_manifest(inc_results["segments"][0])["partitions"]]
    assert any(f.startswith("venue=5/") for f in seg_files)
    assert not any(f.startswith("venue=0/") for f in seg_files)

    full_out = str(tmp_path / "full2")
    full_results = pipeline.run(spark, pages.unionByName(new_batch),
                                full_out, PARAMS)
    for name, keys in [("segments", ["seg_id"]), ("eps_pairs", ["a_seg", "b_seg"]),
                       ("assignments", ["seg_id"]),
                       ("tile_assignments", ["seg_id"])]:
        got = _read_sorted(spark, inc_results[name][0], keys)
        want = _read_sorted(spark, full_results[name][0], keys)
        pd.testing.assert_frame_equal(got, want, check_dtype=False, obj=name)
    # a fold records the schema a cold run records (venue stays bigint)
    for name, (p, _) in inc_results.items():
        assert (manifest.read_manifest(p)["schema"]
                == manifest.read_manifest(full_results[name][0])["schema"]), name


@pytest.mark.usefixtures("spark")
def test_incremental_recrawl_without_points_purges_old_venue(spark, tmp_path):
    """ADVICE r02 (medium): a url's newer version may carry NO points for a
    venue its old version had. That venue is absent from the new batch's
    extracted points, but must still be recomputed — otherwise its stale
    points (and all downstream rows) survive, breaking the wholesale-
    replace contract and the bit-equal-to-full guarantee."""
    import pandas as pdd
    from fixtures.gen_pages import _make_html, _make_text
    pages = spark.read.parquet(gen_pages.ensure_pages(sf=0.001))  # 1 venue

    # pick a url that currently carries points; re-crawl it with a page
    # that has no TRAJ lines at all (boilerplate-only page)
    from imc.extract import pages_to_points
    victim = pages_to_points(pages).select("url").distinct().limit(1).collect()[0]["url"]
    ts = pdd.Timestamp("2027-01-01T00:00:00")  # newer than everything
    new_batch = spark.createDataFrame(pdd.DataFrame(
        [(victim, ts, _make_html("t", "no geometry here", None),
          _make_text("t", "no geometry here", None), "en")],
        columns=["url", "warc_ts", "html", "text", "lang"]))

    inc_out = str(tmp_path / "inc3")
    pipeline.run(spark, pages, inc_out, PARAMS)
    inc_results = pipeline.run_incremental(spark, new_batch, inc_out, PARAMS)

    pts = spark.read.parquet(inc_results["points"][0])
    assert pts.filter(pts.url == victim).count() == 0  # old points purged

    full_out = str(tmp_path / "full3")
    full_results = pipeline.run(spark, pages.unionByName(new_batch),
                                full_out, PARAMS)
    for name, keys in [("points", ["traj_id", "seq"]), ("segments", ["seg_id"]),
                       ("eps_pairs", ["a_seg", "b_seg"]),
                       ("assignments", ["seg_id"])]:
        got = _read_sorted(spark, inc_results[name][0], keys)
        want = _read_sorted(spark, full_results[name][0], keys)
        pd.testing.assert_frame_equal(got, want, check_dtype=False, obj=name)


@pytest.mark.usefixtures("spark")
def test_incremental_merge_plan_bounded(spark):
    """The merge filters must JOIN against the affected-venue set — never
    embed it as an isin literal list: the optimized plan stays O(1)-sized
    however many venues a crawl delta touches."""
    from pyspark.sql import functions as F
    aff = (spark.range(100_000).select(F.col("id").alias("venue"))
           .localCheckpoint(eager=True))
    old = spark.range(100).select((F.col("id") * 1_000_000_000).alias("a_seg"))
    kept = pipeline._venue_filter(old, aff, key="a_seg", anti=True)
    plan = kept._jdf.queryExecution().optimizedPlan().toString()
    assert len(plan) < 20_000, f"merge plan grew with venue count: {len(plan)}"
    # and it actually filters: venues 0..99999 are all affected here
    assert kept.count() == 0


def _intruder_batch(spark):
    """A venue-1 walk sitting ON venue 0's middle corridor — cross-venue
    ε-pairs (and components) WILL form with venue 0's traffic."""
    import pandas as pdd
    from fixtures.gen_pages import _make_html, _make_text
    ts = pdd.Timestamp("2027-01-01T00:00:00")
    traj = "\n".join(
        f"TRAJ 10000 {i} {10.0 + 0.5 * i:.6f} 20.000000 2027-01-01T00:00:00Z"
        for i in range(6))
    return spark.createDataFrame(pdd.DataFrame(
        [("https://fixture.test/venue1/walk0", ts,
          _make_html("t", "p", traj), _make_text("t", "p", traj), "en")],
        columns=["url", "warc_ts", "html", "text", "lang"]))


@pytest.mark.usefixtures("spark")
def test_incremental_cross_venue_delta_equals_full(spark, tmp_path):
    """r4 halo closure: a batch whose venue-1 trajectory sits INSIDE
    venue 0's extent used to be REJECTED; now the affected set expands to
    the adjacency closure {0, 1} and the merge is exact — bit-equal to a
    full recompute including the cross-venue ε-pairs and the DBSCAN
    components that span both venues."""
    pages = spark.read.parquet(gen_pages.ensure_pages(sf=0.001))  # venue 0
    out = str(tmp_path / "halo")
    pipeline.run(spark, pages, out, PARAMS)
    batch = _intruder_batch(spark)

    inc_results = pipeline.run_incremental(spark, batch, out, PARAMS)
    full_results = pipeline.run(spark, pages.unionByName(batch),
                                str(tmp_path / "halo_full"), PARAMS)
    for name, keys in [("points", ["traj_id", "seq"]),
                       ("segments", ["seg_id"]),
                       ("eps_pairs", ["a_seg", "b_seg"]),
                       ("assignments", ["seg_id"]),
                       ("tile_assignments", ["seg_id"])]:
        got = _read_sorted(spark, inc_results[name][0], keys)
        want = _read_sorted(spark, full_results[name][0], keys)
        pd.testing.assert_frame_equal(got, want, check_dtype=False, obj=name)
    # the interesting case actually happened: cross-venue pairs exist
    pairs = spark.read.parquet(inc_results["eps_pairs"][0]).toPandas()
    va = pairs["a_seg"] // (100000 * 10000)
    vb = pairs["b_seg"] // (100000 * 10000)
    assert (va != vb).any()


@pytest.mark.usefixtures("spark")
def test_incremental_halo_valve_and_prestats_fallback(spark, tmp_path,
                                                      monkeypatch):
    """The halo safety valve refuses deltas whose closure spans most of
    the corpus, and a pre-stats base manifest still takes the old
    scan-and-refuse guard for cross-venue batches."""
    import json
    pages = spark.read.parquet(gen_pages.ensure_pages(sf=0.001))
    out = str(tmp_path / "valve")
    pipeline.run(spark, pages, out, PARAMS)
    batch = _intruder_batch(spark)

    # valve: force the limit to zero-tolerance — the {0,1} closure trips
    monkeypatch.setattr(pipeline, "HALO_MIN_VENUES", 1)
    monkeypatch.setattr(pipeline, "HALO_VENUE_FRACTION", 0.0)
    with pytest.raises(ValueError, match="halo too large"):
        pipeline.run_incremental(spark, batch, out, PARAMS)
    monkeypatch.undo()

    # pre-stats manifest (old base): fallback scan refuses loudly
    mp = os.path.join(out, "segments", manifest.MANIFEST_NAME)
    with open(mp) as f:
        m = json.load(f)
    m.pop("stats", None)
    with open(mp, "w") as f:
        json.dump(m, f)
    with pytest.raises(ValueError, match="venue-locality"):
        pipeline.run_incremental(spark, batch, out, PARAMS)


@pytest.mark.usefixtures("spark")
def test_venue_halo_closure_chain(spark):
    """Closure semantics (on the ONE production implementation — the
    side-table lazy BFS): adjacency must CHAIN (A near B near C pulls C
    in even when A and C are far apart) and stop at genuine gaps."""
    # venues 0..9 in a chain 5 apart (extent width 4, gap 1 ≤ gb) then a
    # far venue 20
    old_vs = {str(i): [i * 5.0, i * 5.0 + 4.0, 0.0, 4.0, 1.0]
              for i in range(10)}
    old_vs["20"] = [1000.0, 1004.0, 0.0, 4.0, 1.0]

    def closure(new_ext, affected, gb):
        vs_df = spark.createDataFrame(
            [(int(k), *map(float, v)) for k, v in old_vs.items()],
            "venue long, x0 double, x1 double, y0 double, y1 double, "
            "max_len double")
        aff = spark.createDataFrame([(int(v),) for v in sorted(affected)],
                                    "venue long")
        return pipeline._venue_halo_closure_lazy(vs_df, aff, new_ext,
                                                 affected, gb)

    assert closure({}, {3}, gb=2.0) == set(range(10))
    # gap bound too small to bridge the 1-unit gaps → no expansion
    assert closure({}, {3}, gb=0.5) == {3}
    # new extents seed expansion even for a brand-new venue id
    assert closure({"99": [999.0, 999.5, 0.0, 4.0]}, {99}, gb=2.0) == {99, 20}
    # a HULL seed spanning old and new geometry pulls in every venue
    # lying BETWEEN them (the bridge-segment corridor, review r4) even
    # at a gap bound too small to chain venue-to-venue
    assert closure({"0": [0.0, 47.0, 0.0, 4.0]}, {0}, gb=0.5) == set(range(10))


@pytest.mark.usefixtures("spark")
def test_affected_seed_extents_are_point_hulls(spark):
    """Review r4: the closure seed must be the hull of an affected
    venue's OLD and NEW points together — a recomputed segment may
    bridge them, sweeping the corridor in between. Unaffected venues
    contribute nothing."""
    old_pts = spark.createDataFrame(
        [(0, 1.0, 2.0), (0, 3.0, 4.0), (5, 100.0, 100.0)],
        "venue long, x double, y double")
    new_pts = spark.createDataFrame([(0, 50.0, -7.0)],
                                    "venue long, x double, y double")
    aff = spark.createDataFrame([(0,)], "venue long")
    ext = pipeline._affected_seed_extents(old_pts, new_pts, aff)
    assert ext == {"0": [1.0, 50.0, -7.0, 4.0]}


@pytest.mark.usefixtures("spark")
def test_incremental_guard_is_driver_side(spark, tmp_path, monkeypatch):
    """VERDICT r03 #1: with per-venue extents cached in the segments
    manifest, the locality guard must run entirely driver-side — zero jobs
    over the old segments table. The fallback scan fires ONLY for a base
    output whose manifest predates stats."""
    import json
    from pyspark.sql import functions as F

    from imc.extract import dedupe_pages
    pages = spark.read.parquet(gen_pages.ensure_pages(sf=0.001))
    slot = F.regexp_extract("url", r"walk(\d+)$", 1).cast("int")
    new_batch = dedupe_pages(pages).filter(slot >= 40)
    assert new_batch.count() > 0
    old_batch = pages.join(new_batch.select("url", "warc_ts"),
                           ["url", "warc_ts"], "left_anti")
    out = str(tmp_path / "drv")
    pipeline.run(spark, old_batch, out, PARAMS)
    seg_manifest = manifest.read_manifest(os.path.join(out, "segments"))
    assert "venue_stats" in seg_manifest.get("stats", {})

    def _boom(*a, **k):
        raise AssertionError("fallback scan ran despite manifest stats")

    monkeypatch.setattr(pipeline, "_extent_guard_scan", _boom)
    res = pipeline.run_incremental(spark, new_batch, out, PARAMS)
    # the merged stats stay complete (unaffected rows from the old side
    # table + recomputed affected rows) — the NEXT batch is guarded from
    # the side table too; the manifest JSON itself stays O(1) (r5: no
    # inline per-venue dict)
    m2 = manifest.read_manifest(res["segments"][0])
    assert m2["stats"]["venue_stats"] == manifest.VENUE_STATS_DIR
    assert m2["stats"]["n_venues"] == 1
    sdf = manifest.read_venue_stats(spark, res["segments"][0])
    assert {int(r["venue"]) for r in sdf.collect()} == {0}

    # strip the stats → the pre-r4 manifest shape → fallback scan fires
    monkeypatch.undo()
    called = {"n": 0}
    orig = pipeline._extent_guard_scan

    def _spy(*a, **k):
        called["n"] += 1
        return orig(*a, **k)

    monkeypatch.setattr(pipeline, "_extent_guard_scan", _spy)
    mp = os.path.join(out, "segments", manifest.MANIFEST_NAME)
    with open(mp) as f:
        m = json.load(f)
    m.pop("stats", None)
    with open(mp, "w") as f:
        json.dump(m, f)
    pipeline.run_incremental(spark, new_batch, out, PARAMS)
    assert called["n"] == 1


@pytest.mark.usefixtures("spark")
def test_run_has_no_probe_jobs(spark, tmp_path, monkeypatch):
    """VERDICT r03 #4: pipeline.run must pass a manifest-derived has_long
    to eps_join — no isEmpty() probe job anywhere in a full run."""
    from pyspark.sql import DataFrame
    pages = spark.read.parquet(gen_pages.ensure_pages(sf=0.001))
    calls = {"n": 0}
    orig = DataFrame.isEmpty

    def _count(self):
        calls["n"] += 1
        return orig(self)

    monkeypatch.setattr(DataFrame, "isEmpty", _count)
    pipeline.run(spark, pages, str(tmp_path / "np"), PARAMS)
    assert calls["n"] == 0


@pytest.mark.usefixtures("spark")
def test_incremental_crash_between_tombstone_and_commit(spark, tmp_path,
                                                        monkeypatch):
    """VERDICT r03 #7 crash injection: die between mark_uncommitted and the
    manifest refresh mid-run_incremental. The next run_incremental must
    refuse loudly (torn snapshot), and a full run(resume=True) over the
    merged corpus must recover to the clean full-recompute state."""
    from pyspark.sql import functions as F

    from imc.extract import dedupe_pages
    pages = spark.read.parquet(gen_pages.ensure_pages(sf=0.001))
    slot = F.regexp_extract("url", r"walk(\d+)$", 1).cast("int")
    new_batch = dedupe_pages(pages).filter(slot >= 40)
    old_batch = pages.join(new_batch.select("url", "warc_ts"),
                           ["url", "warc_ts"], "left_anti")
    out = str(tmp_path / "crash")
    pipeline.run(spark, old_batch, out, PARAMS)

    real = manifest.refresh_manifest

    def _crash(*a, **k):
        raise RuntimeError("injected crash before manifest refresh")

    monkeypatch.setattr(manifest, "refresh_manifest", _crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        pipeline.run_incremental(spark, new_batch, out, PARAMS)
    monkeypatch.setattr(manifest, "refresh_manifest", real)

    # the points stage is now tombstoned (dropped partitions, no commit)
    assert not manifest.read_manifest(os.path.join(out, "points"))["committed"]
    with pytest.raises(ValueError, match="uncommitted"):
        pipeline.run_incremental(spark, new_batch, out, PARAMS)

    # recovery: a full resume run over the merged corpus rebuilds the torn
    # stage (snapshot mismatch -> rewrite) and matches a clean full run
    rec = pipeline.run(spark, pages, out, PARAMS, resume=True)
    clean = pipeline.run(spark, pages, str(tmp_path / "clean"), PARAMS)
    for name, keys in [("points", ["traj_id", "seq"]),
                       ("segments", ["seg_id"]),
                       ("eps_pairs", ["a_seg", "b_seg"]),
                       ("assignments", ["seg_id"])]:
        got = _read_sorted(spark, rec[name][0], keys)
        want = _read_sorted(spark, clean[name][0], keys)
        pd.testing.assert_frame_equal(got, want, check_dtype=False, obj=name)


@pytest.mark.usefixtures("spark")
def test_incremental_rejects_params_mismatch(spark, tmp_path):
    pages = spark.read.parquet(gen_pages.ensure_pages(sf=0.001))
    out = str(tmp_path / "pm")
    pipeline.run(spark, pages, out, PARAMS)
    import dataclasses
    other = dataclasses.replace(PARAMS, eps=2.4)
    with pytest.raises(ValueError, match="params"):
        pipeline.run_incremental(spark, pages.limit(10), out, other)


@pytest.mark.usefixtures("spark")
def test_incremental_rejects_torn_and_missing_base(spark, tmp_path):
    """Recovery guards (review r03): a torn snapshot (uncommitted manifest
    from a crashed overwrite) or a missing base stage must raise a clear
    recovery error instead of merging over inconsistent data — and the
    streaming router must still route such outputs to the incremental
    path (never to run(), which would discard prior waves)."""
    from imc import streaming
    pages = spark.read.parquet(gen_pages.ensure_pages(sf=0.001))
    out = str(tmp_path / "torn")
    pipeline.run(spark, pages, out, PARAMS)

    manifest.mark_uncommitted(os.path.join(out, "eps_pairs"))
    assert streaming._initialized(out)  # prior data -> incremental path
    with pytest.raises(ValueError, match="uncommitted"):
        pipeline.run_incremental(spark, pages.limit(5), out, PARAMS)

    import shutil as sh
    sh.rmtree(os.path.join(out, "raster"))
    with pytest.raises(ValueError, match="no manifest"):
        pipeline.run_incremental(spark, pages.limit(5), out, PARAMS)

    assert not streaming._initialized(str(tmp_path / "fresh"))


@pytest.mark.usefixtures("spark")
def test_venue_stats_side_table_bounded_at_1e5_venues(spark, tmp_path,
                                                      monkeypatch):
    """r5 capacity-wall fix (VERDICT r04 next-round #1): per-venue stats
    live in a parquet side table; the manifest JSON summary stays
    O(1)-sized, and the lazy halo closure collects only the closure's own
    extents — never the full 10^5-row table — per batch."""
    import json

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    n = 100_000
    # venues on a sparse 1000×100 grid, cells 100 apart (far beyond any
    # gap bound), extents 4 wide — no two venues are adjacent
    stats = spark.range(n).select(
        F.col("id").alias("venue"),
        (F.col("id") % 1000 * 100.0).alias("x0"),
        (F.col("id") % 1000 * 100.0 + 4.0).alias("x1"),
        (F.floor(F.col("id") / 1000) * 100.0).alias("y0"),
        (F.floor(F.col("id") / 1000) * 100.0 + 4.0).alias("y1"),
        F.lit(1.0).alias("max_len"))
    stage = str(tmp_path / "seg_stage")
    os.makedirs(stage)
    summary = manifest.write_venue_stats(stats, stage)
    assert summary["n_venues"] == n
    assert summary["max_len"] == 1.0

    sdf = manifest.read_venue_stats(spark, stage)
    # the table on disk holds every venue row the summary counted
    assert tuple(sdf.agg(F.count("*"), F.max("max_len")).first()) == (n, 1.0)
    assert len(json.dumps(summary)) < 512  # manifest JSON stays O(1)

    # lazy closure: a seed hull spanning venue 0's cell and reaching
    # venue 1's (x0=100) pulls exactly {0, 1} in — and the driver
    # collects only a handful of rows doing it
    aff = spark.createDataFrame([(0,)], "venue long")
    collected = []
    orig = DataFrame.collect

    def spy(self):
        out = orig(self)
        collected.append(len(out))
        return out

    monkeypatch.setattr(DataFrame, "collect", spy)
    got = pipeline._venue_halo_closure_lazy(
        sdf, aff, {"0": [0.0, 104.0, 0.0, 4.0]}, {0}, gb=2.0)
    assert got == {0, 1}
    assert sum(collected) < 50, f"closure collected {sum(collected)} rows"


@pytest.mark.usefixtures("spark")
def test_incremental_r4_inline_stats_base_still_halo_merges(spark, tmp_path):
    """Format-upgrade path (review r5): a base committed by the previous
    revision carries per-venue stats INLINE in the manifest JSON and has
    no _venue_stats side table. The halo closure must still work (adapter
    builds the extent DataFrame from the dict) — a cross-venue delta
    merges exactly instead of being refused — and the commit upgrades the
    base to the side-table format."""
    import json
    import shutil as sh
    pages = spark.read.parquet(gen_pages.ensure_pages(sf=0.001))  # venue 0
    out = str(tmp_path / "r4base")
    pipeline.run(spark, pages, out, PARAMS)

    # rewrite the segments manifest into the r4 shape: inline dict stats,
    # no side table
    seg_dir = os.path.join(out, "segments")
    sdf = manifest.read_venue_stats(spark, seg_dir)
    inline = {str(int(r["venue"])): [r["x0"], r["x1"], r["y0"], r["y1"],
                                     r["max_len"]] for r in sdf.collect()}
    mp = os.path.join(seg_dir, manifest.MANIFEST_NAME)
    with open(mp) as f:
        m = json.load(f)
    m["stats"] = {"venue_stats": inline}
    with open(mp, "w") as f:
        json.dump(m, f)
    sh.rmtree(os.path.join(seg_dir, manifest.VENUE_STATS_DIR))

    batch = _intruder_batch(spark)  # venue-1 walk inside venue 0's extent
    inc_results = pipeline.run_incremental(spark, batch, out, PARAMS)
    full_results = pipeline.run(spark, pages.unionByName(batch),
                                str(tmp_path / "r4full"), PARAMS)
    for name, keys in [("segments", ["seg_id"]),
                       ("eps_pairs", ["a_seg", "b_seg"]),
                       ("assignments", ["seg_id"])]:
        got = _read_sorted(spark, inc_results[name][0], keys)
        want = _read_sorted(spark, full_results[name][0], keys)
        pd.testing.assert_frame_equal(got, want, check_dtype=False, obj=name)
    # the commit upgraded the base to the side-table format
    m2 = manifest.read_manifest(seg_dir)
    assert m2["stats"]["venue_stats"] == manifest.VENUE_STATS_DIR
    assert manifest.read_venue_stats(spark, seg_dir) is not None
