"""iceberg_lite — snapshot/manifest layer over parquet (SURVEY.md §7.3-5).

The north_rule requires jobs "resumable from Iceberg-snapshot checkpoints
with per-partition lineage and metrics". No Iceberg runtime jar exists in
this environment (SURVEY.md §0 [E]), so this module emulates the needed
subset over plain parquet directories with a JSON manifest per stage:

  snapshot_id  = sha256(stage, sorted(input snapshot ids), params_hash)
                 — content-addressed, so resume is a pure manifest lookup:
                 same inputs + same params ⟹ same snapshot ⟹ skip stage.
  lineage      = input snapshot ids (the DAG edge set)
  metrics      = row count + per-file record counts, read from the data
                 files' parquet footers (as an Iceberg manifest lists each
                 data file with the record count its writer produced)

The interface is deliberately thin (materialize / read_stage / is_current)
so `df.writeTo(tbl).append()` on a real Iceberg catalog is a one-line swap.
Deciding whether a stage is resumed is the caller's job (pipeline.run
checks is_current before it builds the stage at all); this module only
writes, commits and reads.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

MANIFEST_NAME = "_imc_manifest.json"

# per-venue column-stats SIDE TABLE (parquet) inside the stage dir — the
# iceberg-lite analogue of Iceberg's partition-stats file. The leading
# underscore makes it invisible to parquet scans of the stage path
# (Hadoop FileInputFormat hides _*/.* paths), so the stage table and its
# stats co-live in one directory. Stats live outside the manifest JSON
# because one inline dict per venue would make the manifest — a
# driver-side, fully-loaded-per-batch structure — linear in venue count;
# the side table is read lazily and filtered to the venues a batch
# actually needs.
VENUE_STATS_DIR = "_venue_stats"


def snapshot_id(stage: str, input_snapshots: list[str], params_hash: str) -> str:
    payload = json.dumps({"stage": stage, "inputs": sorted(input_snapshots),
                          "params": params_hash}, sort_keys=True)
    return hashlib.sha256(payload.encode()).hexdigest()[:24]


def _manifest_path(path: str) -> str:
    return os.path.join(path, MANIFEST_NAME)


def is_current(path: str, expected_snapshot: str) -> bool:
    mp = _manifest_path(path)
    if not os.path.exists(mp):
        return False
    try:
        with open(mp) as f:
            m = json.load(f)
        return m.get("snapshot_id") == expected_snapshot and m.get("committed", False)
    except (json.JSONDecodeError, OSError):
        return False


def refresh_manifest(spark: SparkSession, path: str, stage: str,
                     input_snapshots: list[str], params_hash: str,
                     schema: StructType, partition_by: list[str] | None = None,
                     stats_fn=None) -> tuple[DataFrame, str]:
    """(Re)commit the manifest for data already at `path` — used both by
    materialize and by incremental dynamic-partition-overwrite commits
    (the iceberg-lite analogue of an Iceberg snapshot commit). Starts no
    Spark job of its own: row counts come from the data files' parquet
    footers, and the recorded schema is `schema` — the frame the caller
    wrote — as Spark reads it back (every field nullable, partition
    columns last). Returns (the table at `path` read with that schema,
    snapshot id).

    stats_fn: optional `dict | Callable[[DataFrame, str], dict]` of extra
    JSON-serializable column statistics recorded under manifest["stats"] —
    the iceberg-lite analogue of Iceberg's per-file column bounds. A
    callable runs over (table as written, stage path) at write time and
    may persist SIDE TABLES under the stage path (write_venue_stats);
    whatever dict it returns must stay O(1)-sized — per-venue data
    belongs in the side table, never inline in the manifest JSON. A plain
    dict is recorded as-is."""
    snap = snapshot_id(stage, input_snapshots, params_hash)
    parts = partition_by or []
    # the scan makes data columns nullable itself but takes a given
    # partition field as is, so partition fields are rebuilt nullable
    written = read_stage(spark, path, StructType(
        [f for f in schema.fields if f.name not in parts]
        + [StructField(c, schema[c].dataType) for c in parts]).jsonValue())
    files = _data_files(path)
    manifest = {
        "stage": stage,
        "snapshot_id": snap,
        "inputs": sorted(input_snapshots),
        "params_hash": params_hash,
        "schema": written.schema.jsonValue(),
        "row_count": sum(f["rows"] for f in files),
        "partitions": files,
        "partition_by": parts,
        "stats": (stats_fn(written, path) if callable(stats_fn)
                  else (stats_fn or {})),
        "committed": True,
        "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    write_json_atomic(_manifest_path(path), manifest)
    return written, snap


def _data_files(path: str) -> list[dict]:
    """One {"file": path relative to the stage, "rows": n} entry per data
    file under `path`, n from its parquet footer. `_*` and `.*` entries
    (manifest, _SUCCESS, side tables, checksums) are skipped, as Spark's
    own scan skips them."""
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if d[0] not in "_.")
        out += [{"file": os.path.relpath(os.path.join(root, n), path),
                 "rows": pq.read_metadata(os.path.join(root, n)).num_rows}
                for n in sorted(files) if n[0] not in "_."]
    return out


def write_json_atomic(mp: str, payload: dict) -> None:
    """tmp-file + os.replace: a crash mid-write can never leave truncated
    manifest JSON (the torn state every reader would otherwise have to
    special-case)."""
    tmp = mp + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    os.replace(tmp, mp)


def read_stage(spark: SparkSession, path: str,
               schema: dict | None = None) -> DataFrame:
    """The stage table at `path`. `schema` is the manifest's recorded
    schema (manifest["schema"]); given it, the read skips parquet's
    schema-inference job, so reading a committed stage starts no Spark
    job."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(StructType.fromJson(schema))
    return reader.parquet(path)


def mark_uncommitted(path: str) -> None:
    """Tombstone an existing manifest (committed=False) BEFORE destructive
    partition operations: a crash between a partition drop and the new
    commit must leave the stage un-resumable instead of serving truncated
    data as committed (the iceberg-lite analogue of an in-flight snapshot)."""
    mp = _manifest_path(path)
    if not os.path.exists(mp):
        return
    with open(mp) as f:
        m = json.load(f)
    m["committed"] = False
    write_json_atomic(mp, m)


def read_manifest(path: str) -> dict:
    with open(_manifest_path(path)) as f:
        return json.load(f)


def hadoop_fs(spark: SparkSession, path_str: str):
    """(FileSystem, Path) resolved for any scheme (file://, hdfs://,
    s3a://) — the ONE copy of the jvm resolution idiom (read_venue_stats
    and pipeline._delete_dir both delegate here)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path_str)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def write_venue_stats(stats_df: DataFrame, stage_path: str) -> dict:
    """Overwrite the stage's per-venue stats side table
    (venue, x0, x1, y0, y1, max_len) and return its O(1) manifest
    summary: venue count + the global max segment length (drives
    has_long with the exact predicate the in-join probe evaluates —
    strict >, same float64). One aggregate yields both the summary and
    the size of the range partitioning. localCheckpoint first: an
    incremental merge READS the old side table it is about to overwrite
    (self-overwrite would truncate the input mid-scan). Rows are
    range-partitioned + sorted by x0 so the halo closure's frontier
    queries get row-group min/max pruning on the x axis at corpus scale."""
    stats_df = stats_df.localCheckpoint(eager=True)
    n, mx = stats_df.agg(F.count("*"), F.max("max_len")).first()
    parts = max(1, min(n // 65_536,
                       stats_df.sparkSession.sparkContext.defaultParallelism))
    (stats_df.repartitionByRange(parts, "x0").sortWithinPartitions("x0")
     .write.mode("overwrite")
     .parquet(os.path.join(stage_path, VENUE_STATS_DIR)))
    return {"venue_stats": VENUE_STATS_DIR, "n_venues": n,
            "max_len": float(mx) if mx is not None else 0.0}


def read_venue_stats(spark: SparkSession, stage_path: str) -> DataFrame | None:
    """The stage's per-venue stats side table as a LAZY DataFrame, or None
    when the stage predates side-table stats. Callers filter/join it to
    the venues a batch needs — the full table never reaches the driver."""
    sp = os.path.join(stage_path, VENUE_STATS_DIR)
    # scheme-aware existence probe (os.path.exists is wrong for hdfs://
    # or s3a:// stage roots, which the incremental path supports)
    fs, hpath = hadoop_fs(spark, sp)
    if not fs.exists(hpath):
        return None
    return spark.read.parquet(sp)


def materialize(df: DataFrame, path: str, stage: str,
                input_snapshots: list[str], params_hash: str,
                partition_by: list[str] | None = None,
                stats_fn=None) -> tuple[DataFrame, str]:
    """Stage checkpoint: write df as the stage table and commit its
    manifest. Always writes — whether a stage can be resumed instead is
    decided by the caller before it builds df (pipeline.run, with
    snapshot_id + is_current), so a skipped stage's operator never runs.
    The manifest records df's own schema in the form Spark reads it back,
    so the commit starts no job beyond the write. Returns (the stage
    table read with that schema — the one a resumed run reads —,
    snapshot id)."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return refresh_manifest(df.sparkSession, path, stage, input_snapshots,
                            params_hash, df.schema, partition_by,
                            stats_fn=stats_fn)
