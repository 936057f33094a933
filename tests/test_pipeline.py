"""End-to-end pipeline + resume semantics (SURVEY.md §7.1 M7)."""

import itertools
import json
import os
from contextlib import contextmanager

import pytest
from pyspark.sql.types import LongType, StructField, StructType

from fixtures import gen_pages, oracle
from imc import manifest, pipeline
from imc.config import VENUE_STRIDE, IMCParams

PARAMS = IMCParams(eps=1.2, min_lns=3)


# the operator that builds each stage, as pipeline.run calls it
OPERATORS = ["extract.pages_to_points", "segments.mdl_segments",
             "joins.eps_join", "dbscan.dbscan",
             "sweep.representative_trajectories",
             "corridors.corridor_polygons", "raster.rasterize",
             "raster.extract_polygons", "joins.tile_assignments"]


def _spy_operators(monkeypatch) -> list[str]:
    """Record every stage-operator call pipeline.run makes."""
    calls: list[str] = []
    for key in OPERATORS:
        mod, fn = key.split(".")
        real = getattr(getattr(pipeline, mod), fn)

        def spy(*a, _real=real, _key=key, **k):
            calls.append(_key)
            return _real(*a, **k)

        monkeypatch.setattr(getattr(pipeline, mod), fn, spy)
    return calls


@contextmanager
def _job_group(sc, group: str):
    """Run the block's Spark jobs under `group`, then restore the
    enclosing group; yields the group's job ids, filled in when the
    block exits."""
    ids: list[int] = []
    keys = ("spark.jobGroup.id", "spark.job.description")
    outer = [sc.getLocalProperty(k) for k in keys]
    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        for k, v in zip(keys, outer):
            sc.setLocalProperty(k, v)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def _tasks(sc, job_ids) -> int:
    """Tasks the jobs ran, each stage counted once (a stage a later job
    reuses is skipped there). Past spark.ui.retainedStages the status
    store drops skipped stages first, so a stage it no longer holds ran
    no task."""
    st = sc.statusTracker()
    stages = {s for j in job_ids for s in st.getJobInfo(j).stageIds}
    return sum(info.numCompletedTasks for info in map(st.getStageInfo, stages)
               if info is not None)


# tasks of one cold pipeline.run over a sf0.001 fixture, measured in the
# test session (conftest: local[*] on 4 cores, 32 shuffle partitions,
# 16384 rows per Arrow batch); each Python-kernel stage runs one task per
# Arrow batch of input rows, one task each on these fixtures
PIPELINE_TASKS = 75


def _spy_commits(spark, monkeypatch) -> dict[str, tuple[list, StructType]]:
    """Run every manifest commit under its own job group; record per
    stage (ids of the jobs the commit started, schema of the frame it
    returned)."""
    commits: dict[str, tuple[list, StructType]] = {}
    real, seq = manifest.refresh_manifest, itertools.count()

    def spy(sp, path, stage, *a, **k):
        with _job_group(spark.sparkContext, f"commit-{next(seq)}") as ids:
            out = real(sp, path, stage, *a, **k)
        commits[stage] = (ids, out[0].schema)
        return out

    monkeypatch.setattr(manifest, "refresh_manifest", spy)
    return commits


@pytest.mark.usefixtures("spark")
def test_pipeline_end_to_end_and_resume(spark, tmp_path, monkeypatch):
    path = gen_pages.ensure_pages(sf=0.001)
    pages = spark.read.parquet(path)
    out = str(tmp_path / "run1")
    calls = _spy_operators(monkeypatch)
    commits = _spy_commits(spark, monkeypatch)

    sc = spark.sparkContext
    with _job_group(sc, "imc-cold") as cold_jobs:
        results = pipeline.run(spark, pages, out, PARAMS)
    assert sorted(set(calls)) == sorted(OPERATORS)
    assert _tasks(sc, cold_jobs + [j for ids, _ in commits.values()
                                   for j in ids]) == PIPELINE_TASKS
    expected = {"points", "segments", "eps_pairs", "assignments",
                "rep_points", "corridors", "raster", "polygons",
                "tile_assignments"}
    assert set(results) == expected
    for name, (p, snap) in results.items():
        m = manifest.read_manifest(p)
        assert m["snapshot_id"] == snap
        assert m["committed"]
        assert m["row_count"] > 0, name
        assert sum(pc["rows"] for pc in m["partitions"]) == m["row_count"]
        # the commit starts no Spark job beyond the stage's own write
        # (segments alone writes its venue-stats side table), yet its
        # footer counts and recorded schema match what Spark reads back
        # — except venue, which keeps the operator's bigint where
        # directory inference says int
        if name != "segments":
            assert commits[name][0] == [], (name, commits[name][0])
        written = spark.read.parquet(p)
        assert m["row_count"] == written.count(), name
        inferred = StructType([
            f if f.name != "venue" else StructField("venue", LongType())
            for f in written.schema.fields])
        assert StructType.fromJson(m["schema"]) == inferred, name

    # the committed tile assignments equal the scalar PIP oracle over this
    # run's own outer polygons (tile_id = venue * 1000 + poly_id)
    polys = spark.read.parquet(results["polygons"][0]).toPandas()
    tiles = polys[polys["is_outer"]].assign(
        tile_id=lambda d: d["venue"] * 1000 + d["poly_id"])
    segs = spark.read.parquet(results["segments"][0]).toPandas()
    got = spark.read.parquet(results["tile_assignments"][0]).toPandas()
    assert len(got) == len(segs)
    assert dict(zip(got["seg_id"], got["tile_id"])) == \
        oracle.tile_assignments_oracle(segs, tiles, VENUE_STRIDE)

    # resume: second run with identical inputs+params must skip (manifests
    # unchanged on disk — compare mtimes) without building any stage or
    # starting any Spark job (stages are read back with their recorded
    # schema, so not even a schema-inference job runs)
    mtimes = {n: os.path.getmtime(os.path.join(p, manifest.MANIFEST_NAME))
              for n, (p, _) in results.items()}
    calls.clear()
    resumed: dict[str, StructType] = {}
    real_read = manifest.read_stage

    def read_spy(sp, p, schema=None):
        df = real_read(sp, p, schema)
        resumed[os.path.basename(p)] = df.schema
        return df

    monkeypatch.setattr(manifest, "read_stage", read_spy)
    with _job_group(spark.sparkContext, "imc-resume") as resume_jobs:
        results2 = pipeline.run(spark, pages, out, PARAMS)
    monkeypatch.setattr(manifest, "read_stage", real_read)
    assert calls == []
    assert resume_jobs == []
    # cold and resumed runs hand downstream stages one schema
    assert resumed == {n: commits[n][1] for n in expected}
    for n, (p, snap) in results2.items():
        assert results[n][1] == snap
        assert os.path.getmtime(os.path.join(p, manifest.MANIFEST_NAME)) == mtimes[n], n

    # corrupted manifest → that stage recomputes; it rewrites the same
    # snapshot, so every later stage still resumes without being built
    mp = os.path.join(results["points"][0], manifest.MANIFEST_NAME)
    with open(mp, "w") as f:
        json.dump({"snapshot_id": "bogus"}, f)
    calls.clear()
    results3 = pipeline.run(spark, pages, out, PARAMS)
    assert calls == ["extract.pages_to_points"]
    assert results3 == results
    assert manifest.read_manifest(results["points"][0])["snapshot_id"] == results["points"][1]

    # param change → new snapshot ids → stages recompute. Every stage's
    # snapshot hashes the whole IMCParams, so every operator runs again.
    p2 = IMCParams(eps=1.2, min_lns=4)
    calls.clear()
    results4 = pipeline.run(spark, pages, out, p2)
    assert sorted(set(calls)) == sorted(OPERATORS)
    assert results4["eps_pairs"][1] != results["eps_pairs"][1]

    # DIFFERENT input, same output dir → root fingerprint differs → every
    # stage recomputes instead of returning stale outputs (ADVICE r01)
    hot_pages = spark.read.parquet(gen_pages.ensure_pages(sf=0.001, hot=True))
    results5 = pipeline.run(spark, hot_pages, out, PARAMS)
    assert results5["points"][1] != results["points"][1]
    assert results5["eps_pairs"][1] != results["eps_pairs"][1]


@pytest.mark.usefixtures("spark")
def test_input_fingerprint_stable_across_processes(spark):
    """r4 regression: df.semanticHash() is only stable within one JVM, so
    a fingerprint built on it silently defeated resume for every NEW
    spark-submit process (each run recomputed all stages). The fingerprint
    must be reproducible by a fresh interpreter + fresh SparkSession."""
    import subprocess
    import sys
    path = gen_pages.ensure_pages(sf=0.001)
    here = pipeline._input_fingerprint(spark.read.parquet(path))
    script = (
        "from pyspark.sql import SparkSession\n"
        "import imc.pipeline as P\n"
        "s = (SparkSession.builder.master('local[2]')"
        ".config('spark.ui.enabled','false').getOrCreate())\n"
        f"print('FP=' + P._input_fingerprint(s.read.parquet({path!r})))\n")
    out = subprocess.run([sys.executable, "-c", script], check=True,
                         capture_output=True, text=True,
                         cwd=os.path.dirname(os.path.dirname(
                             os.path.abspath(__file__)))).stdout
    other = [ln for ln in out.splitlines() if ln.startswith("FP=")][0][3:]
    assert other == here


@pytest.mark.usefixtures("spark")
def test_partitioned_stages_prune(spark, tmp_path):
    """points/segments/raster/polygons are hive-partitioned by venue; a
    venue predicate must reach the scan as a PartitionFilter (SURVEY.md
    §4.2), so bbox/venue queries prune instead of scanning the world."""
    path = gen_pages.ensure_pages(sf=0.001)
    pages = spark.read.parquet(path)
    out = str(tmp_path / "runp")
    results = pipeline.run(spark, pages, out, PARAMS)
    for name in ("points", "segments", "raster", "polygons"):
        assert os.path.isdir(os.path.join(results[name][0], "venue=0")), name
    seg = spark.read.parquet(results["segments"][0]).filter("venue = 0")
    plan = seg._jdf.queryExecution().executedPlan().toString()
    scan = plan[plan.index("PartitionFilters"):]
    assert "venue" in scan[:200]
    # in-memory input → unique fingerprint → resume never skips
    mem = spark.createDataFrame(pages.limit(20).toPandas())
    ra = pipeline.run(spark, mem, str(tmp_path / "runm"), PARAMS)
    rb = pipeline.run(spark, mem, str(tmp_path / "runm"), PARAMS)
    assert ra["points"][1] != rb["points"][1]


def test_pipeline_task_count_is_seed_free(spark, tmp_path):
    """A cold run over the fixture of seed 7 runs the tasks pinned for
    seed 42 (test_pipeline_end_to_end_and_resume): the Python stages are
    sized by input rows, and the hot-cell marker starts no job."""
    pages = spark.read.parquet(gen_pages.ensure_pages(sf=0.001, seed=7))
    with _job_group(spark.sparkContext, "imc-cold-s7") as ids:
        pipeline.run(spark, pages, str(tmp_path / "s7"), PARAMS)
    assert _tasks(spark.sparkContext, ids) == PIPELINE_TASKS
