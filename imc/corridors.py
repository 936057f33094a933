"""Corridor polygons: miter-offset buffer around each cluster's
representative polyline (SURVEY.md §2.9 row 2; BASELINE.json:6
"representative-trajectory sweep for indoor-map polygon construction").

This is the VECTOR path to map polygons — the raster path
(imc.raster.extract_polygons) needs enough segment density to fill grid
cells past the threshold; the buffer path works from the sweep output
alone, so it degrades gracefully on sparse data.

Per cluster (grouped-map, clusters are small by construction):
  1. run the sweep WITH crossing spread (kernels.sweep_representative
     with_spread=True) — the spread column is the local corridor width
     estimate at each emitted point;
  2. corridor width = median of the per-point spreads, floored at
     params.corridor_min_width (sparse clusters under-estimate spread);
  3. ring = kernels.offset_polyline(polyline, width / 2) — miter joins,
     CCW, closed by implication (same ring convention as tiles).

corridors(cluster_id BIGINT, width DOUBLE, ring ARRAY<STRUCT<x,y>>).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from imc.config import IMCParams
from imc.kernels import offset_polyline, sweep_representative
from imc.partitioning import python_stage_partitions

CORRIDOR_SCHEMA = T.StructType([
    T.StructField("cluster_id", T.LongType()),
    T.StructField("width", T.DoubleType()),
    T.StructField("ring", T.ArrayType(T.StructType([
        T.StructField("x", T.DoubleType()),
        T.StructField("y", T.DoubleType()),
    ]))),
])


def corridor_polygons(segments: DataFrame, assignments: DataFrame,
                      params: IMCParams | None = None) -> DataFrame:
    """segments ⋈ assignments → per-cluster sweep+buffer → corridors.
    Clusters whose sweep emits < 2 points produce no polygon."""
    params = params or IMCParams()
    min_lns = params.min_lns
    gamma = params.gamma
    min_w = params.corridor_min_width

    def _buffer(pdf: pd.DataFrame) -> pd.DataFrame:
        segs = pdf.sort_values("seg_id")[["x1", "y1", "x2", "y2"]].to_numpy(np.float64)
        rep = sweep_representative(segs, min_lns, gamma, with_spread=True)
        # drop consecutive duplicate sweep points before checking viability
        if rep.shape[0] >= 2:
            keep = np.concatenate(
                [[True], (np.diff(rep[:, :2], axis=0) != 0).any(axis=1)])
            rep = rep[keep]
        if rep.shape[0] < 2:
            return pd.DataFrame(columns=["cluster_id", "width", "ring"])
        width = max(float(np.median(rep[:, 2])), min_w)
        ring = offset_polyline(rep[:, :2], width / 2.0)
        return pd.DataFrame({
            "cluster_id": int(pdf["cluster_id"].iloc[0]),
            "width": width,
            "ring": [[{"x": float(x), "y": float(y)} for x, y in ring]],
        })

    joined = (assignments.select("seg_id", "cluster_id")
              .join(segments.select("seg_id", "x1", "y1", "x2", "y2"), "seg_id"))
    return (joined
            .repartition(python_stage_partitions(joined), "cluster_id")
            .groupBy("cluster_id").applyInPandas(_buffer, CORRIDOR_SCHEMA))
