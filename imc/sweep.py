"""Representative-trajectory sweep per cluster ([T] §4.3 Fig. 13;
SURVEY.md §2.9). Clusters are small (bounded by venue corridor density),
so each is one grouped-map task; the numpy kernel does the rotate + sweep.

rep_points(cluster_id BIGINT, pt_seq INT, x DOUBLE, y DOUBLE) — ordered
polyline rows, deterministic (kernel conventions pinned in imc/kernels.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from imc.config import IMCParams
from imc.kernels import sweep_representative
from imc.partitioning import python_stage_partitions

REP_SCHEMA = T.StructType([
    T.StructField("cluster_id", T.LongType()),
    T.StructField("pt_seq", T.IntegerType()),
    T.StructField("x", T.DoubleType()),
    T.StructField("y", T.DoubleType()),
])


def representative_trajectories(segments: DataFrame, assignments: DataFrame,
                                params: IMCParams | None = None) -> DataFrame:
    """segments ⋈ assignments → per-cluster sweep → rep_points."""
    params = params or IMCParams()
    min_lns = params.min_lns
    gamma = params.gamma

    def _sweep(pdf: pd.DataFrame) -> pd.DataFrame:
        segs = pdf.sort_values("seg_id")[["x1", "y1", "x2", "y2"]].to_numpy(np.float64)
        rep = sweep_representative(segs, min_lns, gamma)
        cid = int(pdf["cluster_id"].iloc[0])
        return pd.DataFrame({
            "cluster_id": cid,
            "pt_seq": np.arange(rep.shape[0], dtype=np.int32),
            "x": rep[:, 0],
            "y": rep[:, 1],
        })

    joined = (assignments.select("seg_id", "cluster_id")
              .join(segments.select("seg_id", "x1", "y1", "x2", "y2"), "seg_id"))
    # the repartition satisfies the grouping distribution, so
    # applyInPandas adds no second exchange
    return (joined
            .repartition(python_stage_partitions(joined), "cluster_id")
            .groupBy("cluster_id").applyInPandas(_sweep, REP_SCHEMA))
