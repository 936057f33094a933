"""End-to-end pipeline — EP1 of SURVEY.md §3.2.

pages ─filter/dedupe/extract/parse─► points
      ─lead window + MDL grouped-map─► segments
      ─cell cover + salted equi-join + refine─► eps_pairs
      ─venue groups + bucketed numpy DBSCAN─► assignments
      ─per-cluster sweep─► rep_points
      ─Bresenham explode + count─► raster ─► polygons
      ─ring-edge crossing join─► tile_assignments

Every stage lands as an iceberg_lite snapshot table (imc.manifest): a rerun
with the same inputs + params skips completed stages (resume). run() makes
the resume decision, once per stage and before anything is built: each
stage is given as a zero-argument builder, called only when the stage's
manifest must be written. A skipped stage therefore runs no operator and
no eager probe or collect, and is read back with the schema its manifest
records, so a fully resumed run starts no Spark job.
"""

from __future__ import annotations

import hashlib
import os
import uuid
from contextlib import contextmanager

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from imc import (corridors, dbscan, extract, joins, manifest, raster,
                 segments, sweep)
from imc.config import VENUE_STRIDE, IMCParams


class IncompleteBaseError(ValueError):
    """run_incremental found a base output with MISSING stage manifests —
    an initial run was interrupted before completing every stage. A
    dedicated type (ADVICE r04: streaming's first-wave crash recovery
    used to dispatch on the message substring 'has no manifest', so any
    rewording silently disabled recovery and wedged the stream on
    replay); imc.streaming catches this type, everything else stays a
    loud ValueError."""


def _input_fingerprint(pages: DataFrame) -> str:
    """Content-address the pipeline ROOT from the actual input: the
    canonicalized logical-plan string hash PLUS file list + sizes + mtimes.

    Two ADVICE-found stale-resume classes are both closed here: a rerun
    with a different --input but the same --output (r01 — caught by the
    file listing), and two different filtered/derived views over the SAME
    files, e.g. run(pages.filter(...)) then run(pages) (r02 — caught by
    the canonicalized plan, which differs whenever the plan differs, so a
    plain re-read of the same path still matches). The plan identity is
    the CANONICALIZED PLAN STRING, not df.semanticHash(): semanticHash is
    only stable within one JVM session (r4 fix — it silently defeated
    resume for every new spark-submit process; cross-process stability is
    test-gated in tests/test_pipeline.py). In-memory inputs get a unique
    id — no stable identity ⟹ no resume skipping."""
    files = sorted(pages.inputFiles())
    if not files:
        return "inmemory-" + uuid.uuid4().hex
    h = hashlib.sha256()
    plan = pages._jdf.queryExecution().logical().canonicalized().toString()
    h.update(f"plan|{plan}".encode())
    for f in files:
        try:
            st = os.stat(manifest.local_path(f) or f)
            h.update(f"{f}|{st.st_size}|{st.st_mtime_ns}".encode())
        except OSError:
            h.update(f.encode())
    return "pages-" + h.hexdigest()[:20]


def _venue_stats_agg(df: DataFrame) -> DataFrame:
    """LAZY per-venue column statistics over a segments table (the
    iceberg-lite analogue of Iceberg per-file column bounds):
    (venue, x0, x1, y0, y1, max_len) — bbox of all segment endpoints plus
    the longest segment length. Persisted as a parquet SIDE TABLE next to
    the stage data (manifest.write_venue_stats), never inlined in the
    manifest JSON (r5: the inline dict made the manifest linear in venue
    count — the first capacity wall at 10^7+ venues). Downstream: (a) the
    incremental venue-locality guard queries it lazily, filtered to the
    batch's venues; (b) eps_join's has_long and hot_cells come from the
    O(1) manifest summary scalars derived from it."""
    return (df.groupBy("venue")
            .agg(F.min(F.least("x1", "x2")).alias("x0"),
                 F.max(F.greatest("x1", "x2")).alias("x1"),
                 F.min(F.least("y1", "y2")).alias("y0"),
                 F.max(F.greatest("y1", "y2")).alias("y1"),
                 F.max(F.sqrt((F.col("x2") - F.col("x1"))
                              * (F.col("x2") - F.col("x1"))
                              + (F.col("y2") - F.col("y1"))
                              * (F.col("y2") - F.col("y1")))).alias("max_len")))


def _segments_stats_fn(params: IMCParams):
    """stats_fn for the segments stage: persist the per-venue stats side
    table, then record only O(1) scalars in the manifest JSON — n_venues,
    max_len (→ has_long without a probe job) and the hot-cell key list
    (→ eps_join salting without a per-call sampling job; capped at
    joins.HOT_CELLS_CAP, results-invariant by the salted≡unsalted
    guarantee)."""
    def fn(written: DataFrame, path: str) -> dict:
        return manifest.write_venue_stats(_venue_stats_agg(written), path) | {
            "hot_cells": joins.hot_cell_keys(written, params)}
    return fn


def _has_long(seg_stats: dict | None, params: IMCParams) -> bool | None:
    """Manifest-derived eps_join(has_long=...) value from the max_len
    summary scalar. None (probe) only when the manifest predates stats."""
    mx = (seg_stats or {}).get("max_len")
    if mx is None:
        return None
    return mx > joins.DEFAULT_SPLIT_FACTOR * params.join_cell


def run(spark: SparkSession, pages: DataFrame, out_dir: str,
        params: IMCParams | None = None, resume: bool = True,
        use_mdl: bool = True) -> dict:
    """Run the full pipeline; returns {stage: (path, snapshot_id)}."""
    params = params or IMCParams()
    ph = params.params_hash()
    os.makedirs(out_dir, exist_ok=True)
    results: dict[str, tuple[str, str]] = {}

    def stage(name, build, inputs, partition_by=None, stats_fn=None):
        """Resume decision for one stage: a committed manifest with the
        expected snapshot is read back and `build` is never called, so a
        skipped stage runs neither its operator nor its eager probes.
        `build()` is evaluated before materialize is entered, so the
        operator's own work never counts as write time."""
        path = os.path.join(out_dir, name)
        snap = manifest.snapshot_id(name, inputs, ph)
        if resume and manifest.is_current(path, snap):
            out = manifest.read_stage(
                spark, path, manifest.read_manifest(path)["schema"])
        else:
            out, _ = manifest.materialize(build(), path, name, inputs, ph,
                                          partition_by=partition_by,
                                          stats_fn=stats_fn)
        results[name] = (path, snap)
        return out, snap

    venue_col = (F.col("traj_id") / VENUE_STRIDE).cast("long").alias("venue")
    # points + segments are hive-partitioned by venue: a bbox/venue query
    # then PRUNES at the scan (SURVEY.md §4.2 partition-pruning row) —
    # at 10^12 docs an unpartitioned layout re-scans the world per venue
    pts, s_pts = stage(
        "points",
        lambda: extract.pages_to_points(pages).withColumn("venue", venue_col),
        [_input_fingerprint(pages)], partition_by=["venue"])
    seg_fn = segments.mdl_segments if use_mdl else segments.raw_segments
    segs, s_seg = stage("segments",
                        lambda: seg_fn(pts).withColumn("venue", venue_col),
                        [s_pts], partition_by=["venue"],
                        stats_fn=_segments_stats_fn(params))

    def eps_pairs():
        seg_stats = manifest.read_manifest(results["segments"][0]).get("stats")
        return joins.eps_join(segs, params,
                              has_long=_has_long(seg_stats, params),
                              hot_cells=(seg_stats or {}).get("hot_cells"))

    pairs, s_pairs = stage("eps_pairs", eps_pairs, [s_seg])
    assign, s_assign = stage("assignments",
                             lambda: dbscan.dbscan(segs, pairs, params),
                             [s_seg, s_pairs])
    stage("rep_points",
          lambda: sweep.representative_trajectories(segs, assign, params),
          [s_seg, s_assign])
    stage("corridors",
          lambda: corridors.corridor_polygons(segs, assign, params),
          [s_seg, s_assign])
    rast, s_rast = stage("raster", lambda: raster.rasterize(segs, params),
                         [s_seg], partition_by=["venue"])
    polys, s_polys = stage("polygons",
                           lambda: raster.extract_polygons(rast, params),
                           [s_rast], partition_by=["venue"])

    # tiles := extracted outer polygons; tile_id = venue * 1000 + poly_id
    # (deterministic). One Catalyst plan: the planner broadcasts the ring
    # edges when the tile set is small and shuffle-joins on venue otherwise.
    stage("tile_assignments",
          lambda: joins.tile_assignments(segs, _tiles_df_from_polygons(polys)),
          [s_seg, s_polys])
    return results


def _tiles_df_from_polygons(polys: DataFrame) -> DataFrame:
    return (polys.filter("is_outer")
            .select((F.col("venue") * 1000 + F.col("poly_id")).alias("tile_id"),
                    "venue", "ring"))


@contextmanager
def _dynamic_overwrite(spark: SparkSession):
    key = "spark.sql.sources.partitionOverwriteMode"
    old = spark.conf.get(key, "static")
    spark.conf.set(key, "dynamic")
    try:
        yield
    finally:
        spark.conf.set(key, old)


def run_incremental(spark: SparkSession, new_pages: DataFrame, out_dir: str,
                    params: IMCParams | None = None) -> dict:
    """Incremental "new pages since snapshot" mode (SURVEY.md §2.10): fold
    one NEW batch of pages into an existing pipeline output.

    The iceberg-lite analogue of an Iceberg snapshot-diff run: the heavy
    per-venue stages (ingest, MDL, ε-join, DBSCAN, raster, polygon
    extraction, PIP) recompute ONLY the venues present in the new batch.
    Venue-partitioned stages are rewritten with DYNAMIC partition
    overwrite — unaffected venue directories are untouched on disk; the
    derived tables (ε-pairs, assignments, tile_assignments) merge
    unaffected old rows with recomputed affected-venue rows. Cross-venue
    geometry is handled EXACTLY (r4): the affected set expands to its
    halo closure over the venue-adjacency graph (manifest extents within
    gap_bound — see _venue_halo_closure_lazy), so ε-pairs and components
    provably cannot cross the recompute boundary even when a delta lands
    inside another venue's extent. Cluster ids are globally dense-ranked
    by component-min seg_id, so the merged table is re-ranked (one row
    per cluster) and rep_points/corridors — tiny, id-addressed — are
    recomputed; incremental output is bit-equal to a full recompute over
    (old ∪ new) pages (test-gated equivalence).

    Contract (matches append-only crawls): a url in the new batch is at
    least as new as any already-ingested version — its points REPLACE the
    old url's points wholesale (including the zero-point case: a re-crawl
    whose new version carries no extractable points deletes the old ones).

    Scale posture: the affected-venue set participates in every merge plan
    as a broadcast-joined DataFrame — never as an `isin(...)` literal list
    (plan size stays O(1) in the venue count; explain-size test-gated).
    The one driver-side venue list is the partition-drop loop, which is
    O(|delta venues|) — the same partition list a real Iceberg dynamic
    overwrite commits — and deletes through the Hadoop FileSystem API, so
    hdfs:// / s3a:// stage roots work, with the manifest tombstoned
    (committed=False) before any drop so a crash never leaves truncated
    data marked committed.

    Returns {stage: (path, snapshot_id)} like run()."""
    params = params or IMCParams()
    ph = params.params_hash()
    results: dict[str, tuple[str, str]] = {}
    venue_col = (F.col("traj_id") / VENUE_STRIDE).cast("long").alias("venue")

    prev = {}
    for name in ("points", "segments", "eps_pairs", "assignments",
                 "rep_points", "corridors", "raster", "polygons",
                 "tile_assignments"):
        try:
            prev[name] = manifest.read_manifest(os.path.join(out_dir, name))
        except (OSError, ValueError) as e:
            raise IncompleteBaseError(
                f"stage '{name}' has no manifest — the base output is "
                f"incomplete (an initial run was interrupted); rerun the "
                f"full pipeline over the base input (resume completes the "
                f"missing stages) before folding new batches") from e
    for name, m in prev.items():
        if not m.get("committed"):
            raise ValueError(
                f"stage '{name}' has an in-flight (uncommitted) snapshot — "
                f"a prior run was interrupted mid-overwrite; restore the "
                f"previous snapshot (a real Iceberg rollback) or rerun the "
                f"full pipeline before folding new batches")
        if m.get("params_hash") != ph:
            raise ValueError(
                f"incremental run params (hash {ph}) do not match the "
                f"existing '{name}' stage (hash {m.get('params_hash')}); "
                f"a merged table would mix results computed under different "
                f"parameters — rerun the full pipeline instead")
    delta_fp = _input_fingerprint(new_pages)

    def inputs_of(name: str) -> list[str]:
        return [prev[name]["snapshot_id"], delta_fp]

    new_pts = (extract.pages_to_points(new_pages).withColumn("venue", venue_col)
               .localCheckpoint(eager=True))
    # urls from the BATCH, not from the extracted points: a url whose new
    # version yields zero points must still replace (delete) its old points
    new_urls = new_pages.select("url").distinct().localCheckpoint(eager=True)
    old_points = manifest.read_stage(spark, os.path.join(out_dir, "points"),
                                     prev["points"]["schema"])
    # affected venues = venues receiving NEW points ∪ venues LOSING points
    # because one of their urls was re-crawled (ADVICE r02: a url's newer
    # version may stop carrying points for a venue its old version had —
    # that venue must recompute too, or its stale rows survive the merge)
    aff_df = (new_pts.select("venue")
              .unionByName(old_points.join(new_urls, "url", "left_semi")
                           .select("venue"))
              .distinct().localCheckpoint(eager=True))
    affected = sorted(r["venue"] for r in aff_df.collect())

    # HALO CLOSURE (r4): venues are usually far apart, but a delta MAY
    # land near (or inside) another venue's extent — ε-pairs and DBSCAN
    # components can then span venues. Instead of rejecting such batches,
    # expand the affected set to the BFS closure over the venue-adjacency
    # graph (extents within gap_bound, from the per-venue stats SIDE
    # TABLE + the batch's own point bboxes). A closure set is closed
    # under adjacency, so no ε-pair can cross its boundary and any
    # component touching it lies entirely inside it — recomputing the
    # closure wholesale keeps the per-venue merge EXACT even for
    # cross-venue geometry (test-gated against a full recompute). Only a
    # pre-stats base manifest still takes the old scan-and-refuse guard.
    # r5: stats moved out of the manifest JSON into a lazy parquet side
    # table — the closure queries it per BFS round filtered to the
    # frontier's neighborhoods, so the driver only ever holds the
    # closure's own extents, O(|closure|) not O(venues).
    old_seg_stats = prev["segments"].get("stats") or {}
    seg_path = os.path.join(out_dir, "segments")
    old_vs_raw = old_seg_stats.get("venue_stats")
    old_vs_df = (manifest.read_venue_stats(spark, seg_path)
                 if old_vs_raw else None)
    if old_vs_df is None and isinstance(old_vs_raw, dict):
        # pre-side-table base (r4 format: per-venue stats inline in the
        # manifest JSON) — adapt to a DataFrame once so the halo closure
        # keeps working across the format upgrade (review r5: without
        # this, cross-venue deltas r4 merged exactly were refused by the
        # fallback scan). The next commit writes the side table.
        ext = list(old_vs_raw.values())
        old_vs_df = spark.createDataFrame(pa.table(
            {"venue": pa.array([int(k) for k in old_vs_raw], pa.int64()),
             **{c: pa.array([float(e[i]) for e in ext], pa.float64())
                for i, c in enumerate(("x0", "x1", "y0", "y1", "max_len"))}}))
    gb = params.gap_bound
    if old_vs_df is not None:
        # Seed extents are the HULL of each affected venue's OLD and NEW
        # point sets TOGETHER — not the two boxes separately (review r4):
        # a recomputed segment may BRIDGE an old point and a new point,
        # sweeping the corridor between the boxes past venues near
        # neither box alone. Every recomputed segment of venue v connects
        # two points of v's merged point set ⊆ hull(v), so an ε-pair
        # (bbox gap ≤ gap_bound) with another venue forces that venue's
        # extent within gap_bound of hull(v) — an adjacency edge the BFS
        # follows. Old points enter the hull UNFILTERED (url-replaced
        # points included): a venue that moves away may leave stale
        # cross-venue pairs that must be recomputed away too. One
        # aggregate over the affected venues' points — O(delta·venue).
        seed_ext = _affected_seed_extents(old_points, new_pts, aff_df)
        closure = _venue_halo_closure_lazy(old_vs_df, aff_df, seed_ext,
                                           set(affected), gb)
        if len(closure) > len(affected):
            # total known venues = side-table count (manifest scalar) +
            # brand-new venues this batch introduces (one tiny anti-join
            # over the side table — never a full load)
            n_new = (aff_df.join(old_vs_df.select("venue"), "venue",
                                 "left_anti").count())
            n_old = int(old_seg_stats.get(
                "n_venues",
                len(old_vs_raw) if isinstance(old_vs_raw, dict) else 0))
            total = n_old + n_new
            limit = max(HALO_MIN_VENUES, int(HALO_VENUE_FRACTION * total))
            if len(closure) > limit:
                raise ValueError(
                    f"incremental halo too large: the delta's spatial halo "
                    f"spans {len(closure)} of {total} venues (> limit "
                    f"{limit}) — the batch effectively touches most of the "
                    f"corpus, so a full pipeline run is cheaper and safer; "
                    f"no stage was modified")
            aff_df = spark.createDataFrame(pa.table(
                {"venue": pa.array(sorted(closure), pa.int64())})
            ).localCheckpoint(eager=True)
            affected = sorted(closure)

    def in_aff(df: DataFrame, key: str | None = None,
               anti: bool = False) -> DataFrame:
        return _venue_filter(df, aff_df, key=key, anti=anti)

    def overwrite_partitions(name: str, df: DataFrame,
                             stats_fn=None) -> DataFrame:
        """Dynamic-partition-overwrite the affected venue dirs, refresh the
        manifest (footer counts over every venue dir now on disk), return
        the full merged table. localCheckpoint breaks the
        read-path↔write-path cycle (a real Iceberg commit makes this a
        metadata swap). Affected venue dirs are DROPPED first:
        dynamic overwrite only replaces partitions PRESENT in df, so a
        venue whose recompute yields zero rows (e.g. its new pages carry
        only sub-2-point trajectories) would otherwise keep its stale
        partition and silently break the bit-equal-to-full guarantee."""
        path = os.path.join(out_dir, name)
        df = df.localCheckpoint(eager=True)
        manifest.mark_uncommitted(path)
        for v in affected:
            _delete_dir(spark, os.path.join(path, f"venue={v}"))
        with _dynamic_overwrite(spark):
            df.write.mode("overwrite").partitionBy("venue").parquet(path)
        out, snap = manifest.refresh_manifest(spark, path, name,
                                              inputs_of(name), ph, df.schema,
                                              partition_by=["venue"],
                                              stats_fn=stats_fn)
        results[name] = (path, snap)
        return out

    def rewrite(name: str, df: DataFrame) -> DataFrame:
        path = os.path.join(out_dir, name)
        df = df.localCheckpoint(eager=True)
        out, snap = manifest.materialize(df, path, name, inputs_of(name), ph)
        results[name] = (path, snap)
        return out

    def align(df: DataFrame, like: DataFrame) -> DataFrame:
        return df.select(*[F.col(f.name).cast(f.dataType).alias(f.name)
                           for f in like.schema.fields])

    # affected venues' merged points and their recomputed segments, as
    # LAZY/checkpointed plans — built before any write so the locality
    # guard below can refuse the batch with NOTHING mutated (review r03:
    # a guard after the points/segments overwrite left a committed but
    # cross-stage-inconsistent output behind)
    merged_points = (in_aff(old_points).join(new_urls, "url", "left_anti")
                     .select(old_points.columns)  # the join moved url first
                     .unionByName(align(new_pts, old_points)))
    new_segs = (segments.mdl_segments(merged_points)
                .withColumn("venue", venue_col)
                .localCheckpoint(eager=True))
    # per-venue stats of the recomputed affected venues: ONE O(delta)
    # aggregate (one row per affected venue, bounded by the halo valve)
    # that drives (a) the merged side-table commit, (b) the batch
    # eps_join's has_long
    new_stats_df = _venue_stats_agg(new_segs).localCheckpoint(eager=True)
    delta_max_len = float(
        new_stats_df.agg(F.max("max_len")).collect()[0][0] or 0.0)

    # venue-locality: with side-table stats, the halo closure above
    # already guarantees no ε-pair (or component) crosses the recompute
    # boundary — the only jobs run are over the venue-stats side table
    # (one row per venue, metadata scale), never the old corpus. Only a
    # pre-stats base manifest pays the one-off broadcast-NLJ scan,
    # which REFUSES cross-venue batches (the pre-halo behavior).
    if old_vs_df is None:
        _extent_guard_scan(spark, out_dir, aff_df, new_segs, gb)

    points = overwrite_partitions("points", merged_points)

    def merged_stats_fn(written: DataFrame, path: str) -> dict:
        """O(delta) side-table merge: old rows minus affected venues ∪
        recomputed affected rows (the old table is read lazily and only
        anti-joined — never loaded driver-side). A pre-stats base
        recomputes stats over the merged table once (the one-off upgrade
        scan). hot_cells carry over from the base manifest: heat is a
        perf-only heuristic (pair set provably salt-invariant) and the
        halo valve bounds affected venues to a corpus minority, so base
        heat stays representative."""
        old_sdf = manifest.read_venue_stats(spark, path)
        merged = (old_sdf.join(F.broadcast(aff_df), "venue", "left_anti")
                  .unionByName(new_stats_df)
                  if old_sdf is not None else _venue_stats_agg(written))
        out = manifest.write_venue_stats(merged, path)
        if "hot_cells" in old_seg_stats:
            out["hot_cells"] = old_seg_stats["hot_cells"]
        return out

    segs = overwrite_partitions("segments", new_segs,
                                stats_fn=merged_stats_fn)
    segs_aff = in_aff(segs).localCheckpoint(eager=True)

    old_pairs = manifest.read_stage(spark, os.path.join(out_dir, "eps_pairs"),
                                    prev["eps_pairs"]["schema"])
    # has_long from the delta's own stats (eps_join runs on affected venues
    # only) — no probe job, plan identical to what the probe would pick;
    # hot cells carried over from the base manifest (review r5: the delta
    # eps_join otherwise paid the per-batch sampling job run() eliminated;
    # base heat is representative — the valve bounds affected venues to a
    # minority — and any hot set is results-correct)
    aff_has_long = delta_max_len > joins.DEFAULT_SPLIT_FACTOR * params.join_cell
    new_pairs = joins.eps_join(segs_aff, params, has_long=aff_has_long,
                               hot_cells=old_seg_stats.get("hot_cells"))
    pairs_tbl = rewrite("eps_pairs",
                        in_aff(old_pairs, key="a_seg", anti=True)
                        .unionByName(align(new_pairs, old_pairs)))

    # assignments: components are venue-local, but canonical ids are a
    # GLOBAL dense rank of component-min seg_ids — key each side by its
    # component min (collision-free), merge, re-rank. DBSCAN consumes the
    # MATERIALIZED pair table (filtered back to affected venues), not the
    # new_pairs plan — the ε-join would otherwise run twice
    old_assign = manifest.read_stage(spark, os.path.join(out_dir, "assignments"),
                                     prev["assignments"]["schema"])
    new_assign = dbscan.dbscan(
        segs_aff, in_aff(pairs_tbl, key="a_seg"), params)
    merged_keyed = (
        in_aff(_with_comp_key(old_assign), key="seg_id", anti=True)
        .unionByName(align(_with_comp_key(new_assign),
                           _with_comp_key(old_assign))))
    assign = rewrite("assignments", _rank_comp_keys(merged_keyed))

    rewrite("rep_points", sweep.representative_trajectories(segs, assign, params))
    rewrite("corridors", corridors.corridor_polygons(segs, assign, params))

    rast = overwrite_partitions("raster", raster.rasterize(segs_aff, params))
    polys = overwrite_partitions(
        "polygons", raster.extract_polygons(in_aff(rast), params))

    old_ta = manifest.read_stage(spark, os.path.join(out_dir, "tile_assignments"),
                                 prev["tile_assignments"]["schema"])
    new_ta = joins.tile_assignments(
        segs_aff, _tiles_df_from_polygons(in_aff(polys)))
    rewrite("tile_assignments",
            in_aff(old_ta, key="seg_id", anti=True)
            .unionByName(align(new_ta, old_ta)))
    return results


_LOCALITY_MSG = (
    "venue-locality violated: segments outside the affected venues "
    "lie within gap_bound of an affected venue's extent (old or "
    "new), so ε-pairs (and DBSCAN components) could span venues and "
    "the per-venue incremental merge would be inexact — rerun the "
    "full pipeline for this batch (no stage was modified)")


# halo safety valve: a closure spanning more than this fraction of known
# venues (but at least HALO_MIN_VENUES) means the "delta" effectively
# touches the whole corpus — a full run is cheaper than dropping and
# rewriting most partitions through the incremental path
HALO_VENUE_FRACTION = 0.5
HALO_MIN_VENUES = 8


def _affected_seed_extents(old_points: DataFrame, new_pts: DataFrame,
                           aff_df: DataFrame) -> dict:
    """Per-affected-venue bbox of (old ∪ new) POINTS — the halo-closure
    seed. Point hulls, not segment extents: recomputed segments connect
    any two merged points (old↔new bridges included), and old orphan
    points (single-point trajectories, outside any old segment) can gain
    partners from the delta — the point hull covers both cases, the old
    segment extent covers neither. Returns {str(venue): [x0,x1,y0,y1]}."""
    pts = (old_points.join(F.broadcast(aff_df), "venue", "left_semi")
           .select("venue", "x", "y")
           .unionByName(new_pts.select("venue", "x", "y")))
    rows = (pts.groupBy("venue")
            .agg(F.min("x").alias("x0"), F.max("x").alias("x1"),
                 F.min("y").alias("y0"), F.max("y").alias("y1"))
            .collect())
    return {str(int(r["venue"])): [float(r["x0"]), float(r["x1"]),
                                   float(r["y0"]), float(r["y1"])]
            for r in rows}


def _venue_halo_closure_lazy(old_vs_df: DataFrame, aff_df: DataFrame,
                             new_ext: dict, affected: set,
                             gb: float) -> set:
    """BFS closure of the affected venues over the venue-adjacency graph:
    venue extents within gap_bound of each other are adjacent. Seeds
    (new_ext) are the affected venues' old∪new point HULLS
    (_affected_seed_extents — every recomputed segment, bridges included,
    lies inside them), plus their old extents for belt-and-braces. The
    result is closed under adjacency, so no ε-pair can cross its boundary
    and every DBSCAN component that touches it lies wholly inside it (a
    component's venue set is adjacency-connected) — the foundation of the
    exact cross-venue incremental merge.

    THE one closure implementation (review r5 deleted the numpy dict
    twin — two encodings of the adjacency invariant would drift). The
    venue extents live in the segments stage's parquet side table,
    queried PER ROUND: a literal bbox prefilter from the frontier's hull
    (pushes to the scan — the side table is range-partitioned/sorted by
    x0, so row groups outside the frontier's x-range prune) and then the
    exact per-box overlap test against the broadcast frontier. Only
    matching venues are collected: the driver holds O(|closure|)
    extents, never the O(venues) table; rounds = halo chain depth (1-2
    for real deltas, bounded by the safety valve)."""
    spark = old_vs_df.sparkSession
    closure = {int(v) for v in affected}
    # belt-and-braces seeds: the affected venues' OLD extents (side-table
    # lookup filtered to the batch's venues) + the old∪new point hulls
    seed_rows = (old_vs_df.join(F.broadcast(aff_df), "venue", "left_semi")
                 .collect())
    frontier = [[r["x0"], r["x1"], r["y0"], r["y1"]] for r in seed_rows]
    frontier += [list(map(float, e[:4])) for e in new_ext.values()]
    while frontier:
        fdf = spark.createDataFrame(pa.table(
            {c: pa.array([float(e[i]) for e in frontier], pa.float64())
             for i, c in enumerate(("fx0", "fx1", "fy0", "fy1"))}))
        pruned = old_vs_df.filter(
            (F.col("x0") <= max(e[1] for e in frontier) + gb)
            & (F.col("x1") >= min(e[0] for e in frontier) - gb)
            & (F.col("y0") <= max(e[3] for e in frontier) + gb)
            & (F.col("y1") >= min(e[2] for e in frontier) - gb))
        hits = (pruned.crossJoin(F.broadcast(fdf))
                .filter((F.col("x0") <= F.col("fx1") + gb)
                        & (F.col("x1") >= F.col("fx0") - gb)
                        & (F.col("y0") <= F.col("fy1") + gb)
                        & (F.col("y1") >= F.col("fy0") - gb))
                .select("venue", "x0", "x1", "y0", "y1")
                .dropDuplicates(["venue"])
                .collect())
        frontier = []
        for r in hits:
            if int(r["venue"]) not in closure:
                closure.add(int(r["venue"]))
                frontier.append([r["x0"], r["x1"], r["y0"], r["y1"]])
    return closure


def _extent_guard_scan(spark: SparkSession, out_dir: str, aff_df: DataFrame,
                       new_segs: DataFrame, gb: float) -> None:
    """Fallback locality guard for base outputs whose segments manifest
    predates per-venue stats: one broadcast-NLJ pass over the old segments
    table (corpus-scale — paid once; the next commit records stats and
    every later batch takes the driver-side guard)."""
    seg_path = os.path.join(out_dir, "segments")
    old_segs_tbl = manifest.read_stage(
        spark, seg_path, manifest.read_manifest(seg_path)["schema"])

    def _ext(df: DataFrame) -> DataFrame:
        return (df.groupBy("venue")
                .agg((F.min(F.least("x1", "x2")) - gb).alias("gx0"),
                     (F.max(F.greatest("x1", "x2")) + gb).alias("gx1"),
                     (F.min(F.least("y1", "y2")) - gb).alias("gy0"),
                     (F.max(F.greatest("y1", "y2")) + gb).alias("gy1"))
                .drop("venue"))

    ext = _ext(new_segs).unionByName(_ext(_venue_filter(old_segs_tbl, aff_df)))
    near = (_venue_filter(old_segs_tbl, aff_df, anti=True)
            .crossJoin(F.broadcast(ext))
            .filter((F.least("x1", "x2") <= F.col("gx1"))
                    & (F.greatest("x1", "x2") >= F.col("gx0"))
                    & (F.least("y1", "y2") <= F.col("gy1"))
                    & (F.greatest("y1", "y2") >= F.col("gy0"))))
    if not near.isEmpty():
        raise ValueError(_LOCALITY_MSG)


def _venue_filter(df: DataFrame, aff_df: DataFrame, key: str | None = None,
                  anti: bool = False) -> DataFrame:
    """Semi/anti-join df against an affected-venue DataFrame. `key` names a
    seg-id column to derive the venue from; None uses the existing `venue`
    column. A broadcast JOIN, never an `isin` literal list: the merge plan
    stays O(1)-sized however many venues a crawl delta touches
    (explain-size test-gated)."""
    how = "left_anti" if anti else "left_semi"
    if key is None:
        return df.join(F.broadcast(aff_df), "venue", how)
    # integer floor division — double division loses ulps past 2^53, which
    # at ~10^7 venues would misroute boundary seg_ids into the wrong venue
    # and silently keep stale rows through the anti-join (review r03)
    v = F.expr(f"`{key}` div {segments.SEG_ID_STRIDE * VENUE_STRIDE}")
    return (df.withColumn("_v", v)
            .join(F.broadcast(aff_df.withColumnRenamed("venue", "_v")),
                  "_v", how)
            .drop("_v"))


def _delete_dir(spark: SparkSession, path_str: str) -> None:
    """Recursive delete through the Hadoop FileSystem API — path-scheme
    aware (file://, hdfs://, s3a:// all resolve to their FileSystem), so
    incremental partition drops work on non-local stage roots too."""
    fs, hpath = manifest.hadoop_fs(spark, path_str)
    if fs.exists(hpath):
        fs.delete(hpath, True)


def _with_comp_key(assign: DataFrame) -> DataFrame:
    """(seg_id, cluster_id, is_core) → (seg_id, comp_key, is_core) where
    comp_key = the component's min seg_id (the rank-free canonical id)."""
    m = assign.groupBy("cluster_id").agg(F.min("seg_id").alias("comp_key"))
    return (assign.join(F.broadcast(m), "cluster_id")
            .select("seg_id", "comp_key", "is_core"))


def _rank_comp_keys(keyed: DataFrame) -> DataFrame:
    """comp_key → dense canonical cluster_id (two-level venue rank over
    the distinct key set — one row per cluster, the exact same total
    order and ids as imc.dbscan's rank_components)."""
    comps = keyed.select(F.col("comp_key").alias("comp")).distinct()
    ranked = dbscan.rank_components(comps).withColumnRenamed("comp",
                                                             "comp_key")
    return (keyed.join(F.broadcast(ranked), "comp_key")
            .select("seg_id", "cluster_id", "is_core"))
