"""points → segments (SURVEY.md §2.3).

Two paths:
  * raw_segments: consecutive-point pairing via the `lead` window analytic —
    pure Catalyst, no UDF; one shuffle on traj_id.
  * mdl_segments: MDL-based trajectory partitioning ([T] §3.3) via
    groupBy(traj_id).applyInPandas — sequential within a trajectory,
    embarrassingly parallel across trajectories (the grouped-map contract).

seg_id is deterministic: traj_id * 100_000 + start_seq (trajectories are
bounded well below 100k points per trajectory; asserted in the kernel).
Zero-length segments are dropped (they break the distance math, [T] §3.2.2).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from imc.kernels import mdl_partition
from imc.partitioning import python_stage_partitions

SEG_ID_STRIDE = 100_000

SEGMENT_SCHEMA = T.StructType([
    T.StructField("seg_id", T.LongType()),
    T.StructField("traj_id", T.LongType()),
    T.StructField("x1", T.DoubleType()),
    T.StructField("y1", T.DoubleType()),
    T.StructField("x2", T.DoubleType()),
    T.StructField("y2", T.DoubleType()),
])


def _with_features(df: DataFrame) -> DataFrame:
    """len + angle as builtin column expressions (SURVEY.md §2.3)."""
    return (df
            .withColumn("len", F.hypot(F.col("x2") - F.col("x1"), F.col("y2") - F.col("y1")))
            .withColumn("angle", F.atan2(F.col("y2") - F.col("y1"), F.col("x2") - F.col("x1"))))


def raw_segments(points: DataFrame) -> DataFrame:
    """Consecutive-point pairing: lead over (traj_id, seq). No UDF."""
    w = Window.partitionBy("traj_id").orderBy("seq")
    df = (points
          .select("traj_id", "seq", "x", "y")
          .withColumn("x2", F.lead("x").over(w))
          .withColumn("y2", F.lead("y").over(w))
          .filter(F.col("x2").isNotNull())
          .select(
              (F.col("traj_id") * F.lit(SEG_ID_STRIDE) + F.col("seq")).alias("seg_id"),
              "traj_id",
              F.col("x").alias("x1"), F.col("y").alias("y1"),
              F.col("x2"), F.col("y2")))
    df = _with_features(df).filter(F.col("len") > 0)
    return df


def _mdl_group(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("seq")
    pts = pdf[["x", "y"]].to_numpy(dtype=np.float64)
    seqs = pdf["seq"].to_numpy()
    traj_id = int(pdf["traj_id"].iloc[0])
    assert seqs.max() < SEG_ID_STRIDE
    cp = mdl_partition(pts)
    if len(cp) < 2:
        return pd.DataFrame(columns=["seg_id", "traj_id", "x1", "y1", "x2", "y2"])
    a = cp[:-1]
    b = cp[1:]
    out = pd.DataFrame({
        "seg_id": traj_id * SEG_ID_STRIDE + seqs[a].astype(np.int64),
        "traj_id": traj_id,
        "x1": pts[a, 0], "y1": pts[a, 1],
        "x2": pts[b, 0], "y2": pts[b, 1],
    })
    return out


def mdl_segments(points: DataFrame) -> DataFrame:
    """MDL-partitioned segments.

    Not groupBy().applyInPandas(): with millions of small trajectories the
    per-group Arrow/pandas overhead dominates. Instead co-locate each
    trajectory with repartition(traj_id) + sortWithinPartitions, then one
    mapInPandas pass per partition runs the numpy kernel over every
    trajectory in the batch stream (same one-shuffle plan, ~3× less
    per-group overhead)."""

    def _mdl_partitioned(batches):
        # a trajectory can span Arrow batch boundaries within the partition
        # (rows are sorted by traj_id, seq) — buffer ARRAY SLICES per
        # trajectory (no per-row Python objects) and flush on id change
        pend_id = None
        pend: list[tuple[np.ndarray, np.ndarray, np.ndarray]] = []

        def flush(tid, chunks):
            if len(chunks) == 1:
                xs, ys, seqs = chunks[0]
            else:
                xs = np.concatenate([c[0] for c in chunks])
                ys = np.concatenate([c[1] for c in chunks])
                seqs = np.concatenate([c[2] for c in chunks])
            pts = np.stack([xs, ys], axis=1)
            cp = mdl_partition(pts)
            if len(cp) < 2:
                return None
            a = cp[:-1]
            b = cp[1:]
            return pd.DataFrame({
                "seg_id": tid * SEG_ID_STRIDE + seqs[a],
                "traj_id": tid,
                "x1": pts[a, 0], "y1": pts[a, 1],
                "x2": pts[b, 0], "y2": pts[b, 1],
            })

        for pdf in batches:
            xs = pdf["x"].to_numpy(np.float64)
            ys = pdf["y"].to_numpy(np.float64)
            seqs = pdf["seq"].to_numpy(np.int64)
            tids = pdf["traj_id"].to_numpy(np.int64)
            # split the batch at trajectory boundaries (vectorized)
            bounds = np.nonzero(np.diff(tids))[0] + 1
            starts = np.concatenate([[0], bounds])
            ends = np.concatenate([bounds, [len(tids)]])
            frames = []
            for s, e in zip(starts, ends):
                tid = int(tids[s])
                chunk = (xs[s:e], ys[s:e], seqs[s:e])
                if pend_id is not None and tid == pend_id:
                    pend.append(chunk)
                    continue
                if pend_id is not None:
                    f = flush(pend_id, pend)
                    if f is not None:
                        frames.append(f)
                pend_id = tid
                pend = [chunk]
            if frames:
                yield pd.concat(frames, ignore_index=True)
        if pend_id is not None:
            f = flush(pend_id, pend)
            if f is not None:
                yield f

    points = points.select("traj_id", "seq", "x", "y")
    df = (points
          .repartition(python_stage_partitions(points), "traj_id")
          .sortWithinPartitions("traj_id", "seq")
          .mapInPandas(_mdl_partitioned, SEGMENT_SCHEMA))
    df = _with_features(df).filter(F.col("len") > 0)
    return df


def mdl_segments_grouped(points: DataFrame) -> DataFrame:
    """Reference implementation via groupBy().applyInPandas — kept as the
    equivalence oracle for the mapInPandas fast path (tests)."""
    df = (points
          .select("traj_id", "seq", "x", "y")
          .groupBy("traj_id")
          .applyInPandas(_mdl_group, SEGMENT_SCHEMA))
    df = _with_features(df).filter(F.col("len") > 0)
    return df
