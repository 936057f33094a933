"""partitioning.fan_out: the scan fan-out decision, read from driver-side
metadata only."""

import re

import numpy as np
import pandas as pd

from imc import partitioning

MAX_PB = "spark.sql.files.maxPartitionBytes"
OPEN_COST = "spark.sql.files.openCostInBytes"


def _fanned_count(df, key):
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    m = re.search(rf"RepartitionByExpression \[{key}#\d+L?\], (\d+)", plan)
    return int(m.group(1)) if m else None


def test_scan_fanout_decision_starts_no_job(spark, tmp_path):
    sc = spark.sparkContext
    want = 2 * sc.defaultParallelism
    rng = np.random.default_rng(5)
    pdf = pd.DataFrame({"doc_id": np.arange(400, dtype=np.int64),
                        "venue": np.arange(400, dtype=np.int64) % 40,
                        "x": rng.normal(size=400)})
    pdf.to_parquet(tmp_path / "flat.parquet", index=False)
    pdf.to_parquet(tmp_path / "hive", partition_cols=["venue"], index=False)
    flat = spark.read.parquet(str(tmp_path / "flat.parquet"))
    hive = spark.read.parquet(str(tmp_path / "hive"))
    ckpt = flat.localCheckpoint(eager=True)

    flat_bytes = (tmp_path / "flat.parquet").stat().st_size

    group = "test_scan_fanout_decision"
    old = {k: spark.conf.get(k) for k in (MAX_PB, OPEN_COST)}
    sc.setJobGroup(group, group)
    try:
        for df in (flat, hive, hive.filter("venue < 3").select("doc_id"),
                   ckpt):
            assert _fanned_count(partitioning.fan_out(df, "doc_id"),
                                 "doc_id") == want
        # the same scans against a 1 KB split size already pack into
        # more than `want` splits: returned as they are
        spark.conf.set(MAX_PB, "1k")
        for df in (flat, hive):
            assert partitioning.fan_out(df, "doc_id") is df
        # a frame with no input files repartitions whatever its size
        assert _fanned_count(partitioning.fan_out(ckpt, "doc_id"),
                             "doc_id") == want
        # without open costs the file size alone decides, at the byte
        spark.conf.set(OPEN_COST, "0")
        spark.conf.set(MAX_PB, str(flat_bytes // want))
        assert partitioning.fan_out(flat, "doc_id") is flat
        spark.conf.set(MAX_PB, str(flat_bytes // want + 1))
        assert _fanned_count(partitioning.fan_out(flat, "doc_id"),
                             "doc_id") == want
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
