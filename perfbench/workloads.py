"""The benchmark's workloads: production calls over seeded inputs.

A workload is an ordered list of `Op`s, each one production call
(`pipeline.run`, or the corpus query an `__spark_entry__` query makes)
run with the arguments production passes. After the timed pass,
`checks()` compares every output with a reference from
`perfbench/reference.py`. `wrap(tracer)` installs the spans of a traced
pass; `LAYER_FIELDS` and `layer_names()` name every per-layer metric.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fixtures import gen_pages
from imc import manifest, pipeline, similarity, textops
from imc.config import IMCParams
from perfbench import corpus, reference

Check = tuple[str, Callable[[], bool]]
Sink = Callable[[str, DataFrame], DataFrame]


@dataclass
class Op:
    key: str                      # span name of the call
    run: Callable[[Sink], None]   # makes the call; stores its outputs
    scope: str = ""               # prefix of its per-layer metrics


class Workload:
    name = ""
    input_rows = 0       # rows the program receives, for rows_per_cpu_s

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.spark: SparkSession | None = None
        self.out = os.path.join(work, "out")

    def prepare(self) -> None:
        """Write the seeded input files and compute the references the
        checks compare against; needs no Spark session, so it runs while
        the session starts (set-up time)."""
        raise NotImplementedError

    def load(self, spark: SparkSession) -> None:
        """Open the input files in the session (set-up time)."""
        raise NotImplementedError

    def reset(self) -> None:
        """Give the next pass an empty output directory (untimed)."""
        shutil.rmtree(self.out, ignore_errors=True)
        os.makedirs(self.out)

    def ops(self) -> list[Op]:
        raise NotImplementedError

    def wrap(self, tracer) -> None:
        raise NotImplementedError

    def rows_out(self) -> dict[str, int]:
        """Rows each traced function wrote in the last pass."""
        raise NotImplementedError

    def checks(self) -> list[Check]:
        raise NotImplementedError


# --------------------------------------------------------------- TRACLUS

TRACLUS_SF = 0.001        # 500 pages, one venue, ~800 segments

# pipeline.run's stage tables and the operator that builds each
STAGE_FN = {
    "points": "extract.pages_to_points",
    "segments": "segments.mdl_segments",
    "eps_pairs": "joins.eps_join",
    "assignments": "dbscan.dbscan",
    "rep_points": "sweep.representative_trajectories",
    "corridors": "corridors.corridor_polygons",
    "raster": "raster.rasterize",
    "polygons": "raster.extract_polygons",
    "tile_assignments": "joins.tile_assignments",
}

# each stage's comparison frame: the columns of the written table, with
# the rounding and sizes the repository's twins compare
FRAMES = {
    "points": ["traj_id", "seq", "x", "y", "url"],
    "segments": ["seg_id", "traj_id", "x1", "y1", "x2", "y2"],
    "eps_pairs": ["a_seg", "b_seg", "round(dist, 6) AS dist"],
    "assignments": ["seg_id", "cluster_id", "is_core"],
    "rep_points": ["cluster_id", "pt_seq", "round(x, 6) AS x",
                   "round(y, 6) AS y"],
    "corridors": ["cluster_id", "round(width, 6) AS width",
                  "cast(size(ring) AS bigint) AS n_vertices"],
    "raster": ["venue", "gx", "gy", "hits"],
    "polygons": ["venue", "poly_id", "is_outer",
                 "cast(size(ring) AS bigint) AS n_vertices"],
    "tile_assignments": ["seg_id", "tile_id"],
}


def _materialize_label(df, path, stage, *args, **kwargs):
    return STAGE_FN.get(stage, f"manifest.materialize[{stage}]"), "write"


class TraclusFull(Workload):
    """Production's main run, `pipeline.run(resume=False)` into an empty
    output directory, then its rerun with resume on over the completed
    output, where every stage's manifest matches and is skipped."""

    name = "traclus_full"

    def prepare(self) -> None:
        self.pages_path = gen_pages.ensure_pages(
            sf=TRACLUS_SF, seed=self.seed,
            root=os.path.join(self.work, "pages"))
        self.input_rows = gen_pages.n_pages_for_sf(TRACLUS_SF)
        self.ref_dir = os.path.join(self.work, "ref")
        self.ref = reference.traclus(self.pages_path, self.ref_dir)
        self.results: dict[bool, dict] = {}

    def load(self, spark: SparkSession) -> None:
        self.spark = spark
        self.pages = spark.read.parquet(self.pages_path)

    def _run(self, resume: bool) -> None:
        if resume:
            self.stamps = _file_stamps(self.out)
        self.results[resume] = pipeline.run(self.spark, self.pages, self.out,
                                            resume=resume)

    def ops(self) -> list[Op]:
        return [Op("pipeline.run", lambda sink: self._run(False)),
                Op("pipeline.run[resume]", lambda sink: self._run(True),
                   scope="resume.")]

    def wrap(self, tracer) -> None:
        for key in STAGE_FN.values():
            mod, fn = key.split(".")
            tracer.wrap(getattr(pipeline, mod), fn)
        tracer.wrap(manifest, "materialize", _materialize_label)
        tracer.wrap(manifest, "refresh_manifest", lambda *a, **k: (
            "manifest.refresh_manifest", "other"))

    def rows_out(self) -> dict[str, int]:
        return {fn: manifest.read_manifest(
                    os.path.join(self.out, st))["row_count"]
                for st, fn in STAGE_FN.items()}

    def _table(self, stage: str):
        return (self.spark.read.parquet(self.results[False][stage][0])
                .selectExpr(*FRAMES[stage]).toPandas())

    def _tiles_ok(self) -> bool:
        # tiles as pipeline.run derives them: outer polygon rings,
        # tile_id = venue * 1000 + poly_id
        polys = (self.spark.read.parquet(self.results[False]["polygons"][0])
                 .filter("is_outer").select(
                     (F.col("venue") * 1000 + F.col("poly_id"))
                     .alias("tile_id"), "venue", "ring").toPandas())
        polys["ring"] = [[{"x": p["x"], "y": p["y"]} for p in r]
                         for r in polys["ring"]]
        want = reference.tile_assignments(
            os.path.join(self.ref_dir, "segments.parquet"), polys)
        return reference.frames_match(self._table("tile_assignments"), want)

    def checks(self) -> list[Check]:
        def stage_check(stage: str) -> Check:
            return (f"{stage} = reference", lambda: reference.frames_match(
                self._table(stage), self.ref[stage]))

        return [
            ("pipeline.run params = the twins' params",
             lambda: IMCParams() == _entry_params()),
            *(stage_check(st) for st in self.ref),
            ("tile_assignments = reference", self._tiles_ok),
            ("resume skipped every stage (same snapshots, no file "
             "rewritten)", lambda: self.results[True] == self.results[False]
             and _file_stamps(self.out) == self.stamps),
        ]


def _file_stamps(root: str) -> dict[str, tuple[int, int]]:
    """(size, mtime) of every file under root, by relative path."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.relpath(os.path.join(d, f), root)] = (
                st.st_size, st.st_mtime_ns)
    return out


def _entry_params() -> IMCParams:
    import __spark_entry__ as entry
    return entry.PARAMS


# ---------------------------------------------------------------- corpus

N_DOCS = 1500
N_VECS = 600


class CorpusCurate(Workload):
    """Near-duplicate clustering (the MinHash/LSH/Jaccard ladder and its
    connected components) and IVF top-k search with a trained, persisted
    index, as `__spark_entry__`'s `dedup_clusters` and `ann_topk_ivf`
    queries make them, over seeded documents and embeddings. Runs no spatial
    layer."""

    name = "corpus_curate"

    def prepare(self) -> None:
        self.paths = corpus.write(os.path.join(self.work, "corpus"), N_DOCS,
                                  N_VECS, self.seed)
        self.input_rows = N_DOCS + N_VECS
        self.ref = reference.corpus(*self.paths)
        self.tables: dict = {}

    def load(self, spark: SparkSession) -> None:
        self.spark = spark
        self.docs, self.emb = (spark.read.parquet(p) for p in self.paths)

    def _dedup(self, sink: Sink) -> None:
        self.tables["dedup_clusters"] = sink(
            "textops.dedup_clusters", textops.dedup_clusters(self.docs))

    def _ann(self, sink: Sink) -> None:
        # train (or load) the persisted index, then query through it
        idx = os.path.join(self.out, "ivf_index")
        cents = similarity.ivf_index(self.emb, idx, reference.IVF_LISTS,
                                     reference.IVF_ITERS)
        self.tables["centroids"] = cents
        self.tables["ann_topk_ivf"] = sink(
            "similarity.ann_topk_ivf", similarity.ann_topk_ivf(
                self.emb, k=reference.TOP_K, probe_mod=reference.PROBE_MOD,
                n_lists=reference.IVF_LISTS, n_probe=reference.IVF_PROBE,
                centroids=cents, hot_lists=similarity.ivf_hot_lists(idx)))

    def ops(self) -> list[Op]:
        return [Op("dedup_clusters", self._dedup),
                Op("ann_topk_ivf", self._ann)]

    def wrap(self, tracer) -> None:
        tracer.wrap(textops, "dedup_clusters")
        tracer.wrap(similarity, "ivf_index")
        tracer.wrap(similarity, "ann_topk_ivf")

    def rows_out(self) -> dict[str, int]:
        t = self.tables
        return {"textops.dedup_clusters": t["dedup_clusters"].count(),
                "similarity.ivf_index": len(t["centroids"]),
                "similarity.ann_topk_ivf": t["ann_topk_ivf"].count()}

    def checks(self) -> list[Check]:
        t, ref = self.tables, self.ref
        return [
            ("dedup_clusters = DuckDB twin", lambda: reference.frames_match(
                t["dedup_clusters"].toPandas(), ref["dedup_clusters"])),
            ("ivf_index centroids = numpy-trained", lambda: np.allclose(
                np.asarray(t["centroids"]), ref["centroids"], rtol=0,
                atol=1e-12)),
            ("ann_topk_ivf = DuckDB twin", lambda: reference.frames_match(
                t["ann_topk_ivf"].select("query_id", "neighbor_id", "score",
                                         "rank").toPandas(),
                ref["ann_topk_ivf"])),
        ]


WORKLOADS = {w.name: w for w in (TraclusFull, CorpusCurate)}

# per-layer fields of each traced function; the write of a pipeline stage
# is its manifest.materialize call, the write of a corpus op the sink
LAYER_FIELDS = {
    TraclusFull: [f"{fn}.{f}" for fn in STAGE_FN.values()
                  for f in ("build_s", "write_s", "jobs", "shuffle_mb",
                            "skew", "rows_out")],
    CorpusCurate: [f"{fn}.{f}" for fn in ("textops.dedup_clusters",
                                          "similarity.ivf_index",
                                          "similarity.ann_topk_ivf")
                   for f in ("build_s", "exec_s", "jobs", "shuffle_mb",
                             "skew", "rows_out")],
}
# the resume rerun: its skip path, and the operator that still runs
RESUME_FIELDS = ["resume.wall_s", "resume.driver_s",
                 "resume.manifest.materialize_s",
                 "resume.dbscan.dbscan.build_s", "resume.dbscan.dbscan.jobs"]
RUN_FIELDS = ["pipeline.driver_s", "manifest.refresh_s", "spark.jobs",
              "spark.tasks", "spark.executor_cpu_s", "spark.spill_mb",
              "trace.overhead_s", "joins.headline_rows_per_s", "pass.wall_s",
              "pass.peak_rss_mb"]


def layer_names() -> list[str]:
    """Every per-layer metric, in a fixed order."""
    return [n for fields in LAYER_FIELDS.values() for n in fields] + \
        RESUME_FIELDS + RUN_FIELDS
