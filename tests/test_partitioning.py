"""partitioning: the scan fan-out decision, read from driver-side metadata
only; salted joins and the sharded top-k give the plain join's and the
single window's rows; a bad bucket count fails before any job."""

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from imc import joins, partitioning, textops
from imc.config import IMCParams

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


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_salted_join_equals_plain_join(spark):
    """On a skewed key (key 0 holds 80% of the probe rows, several build
    rows per key, keys on one side only), the salted inner and left joins
    give the plain join's rows, as a multiset, for hot keys marked by a
    broadcast join (NULL where cold, as eps_join marks them), for an
    is_hot expression, and for every key salted (lit(True))."""
    rng = np.random.default_rng(3)
    keys = np.where(rng.random(500) < 0.8, 0, rng.integers(1, 12, 500))
    probe = spark.createDataFrame(pd.DataFrame(
        {"key": keys, "pid": np.arange(500)}))
    build = spark.createDataFrame(pd.DataFrame(
        {"key": [0, 0, 1, 2, 2, 2, 5, 13], "bid": range(8)}))
    hot = F.broadcast(spark.createDataFrame(
        pd.DataFrame({"key": [0, 2]})).withColumn("_hot", F.lit(True)))
    cols = ["key", "pid", "bid"]
    cases = [(probe.join(hot, "key", "left"), build.join(hot, "key", "left"),
              F.col("_hot")),
             (probe, build, F.col("key").isin(0, 5)),
             (probe, build, F.lit(True))]
    for how in ("inner", "left"):
        want = _rows(probe.join(build, "key", how).select(*cols))
        for p, b, is_hot in cases:
            for buckets in (1, 4):
                sp, sb = partitioning.salt(p, b, is_hot, buckets, "pid")
                got = _rows(sp.join(sb, ["key", "_salt"], how)
                            .select(*cols))
                assert got == want, (how, buckets)


@pytest.mark.parametrize("shards", [1, 4, 64])
def test_sharded_top_k_equals_one_window(spark, shards):
    """sharded_top_k gives exactly the rows and ranks of one row_number()
    window per group, with a mega-group, groups smaller than k, and ties
    in the first sort key (broken by the second)."""
    rng = np.random.default_rng(7)
    n = 600
    pdf = pd.DataFrame({
        "g": np.where(np.arange(n) % 10 == 0, np.arange(n) % 7 + 1, 0),
        "v": rng.integers(0, 5, n),          # heavy ties
        "id": rng.permutation(n)})
    df = spark.createDataFrame(pdf)
    order = [F.desc("v"), "id"]
    k = 9
    w = Window.partitionBy("g").orderBy(*order)
    want = _rows(df.withColumn("rk", F.row_number().over(w).cast("long"))
                 .filter(F.col("rk") <= k))
    got = partitioning.sharded_top_k(df, ["g"], order, k, "id", shards, "rk")
    assert got.columns == ["g", "v", "id", "rk"]
    assert _rows(got) == want


def test_bad_bucket_count_raises_before_any_job(spark):
    """A salt or shard count below 1 raises ValueError while the plan is
    built: no Spark job starts (pmod by 0 would fail mid-job under ANSI
    mode, and without it give NULL salts that silently join nothing)."""
    sc = spark.sparkContext
    segs = spark.createDataFrame(pd.DataFrame(
        {"seg_id": [1, 2], "x1": [0.0, 0.5], "y1": [0.0, 0.0],
         "x2": [1.0, 1.5], "y2": [0.0, 0.0]}))
    docs = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [1, 2], "text": ["a\nb", "a\nc"]}))
    group = "test_bad_bucket_count"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(ValueError, match="salt_buckets"):
            joins.eps_join(segs, IMCParams(salt_buckets=0))
        with pytest.raises(ValueError, match="salt"):
            textops.boilerplate_scrub(docs, salt_mod=0)
        with pytest.raises(ValueError, match="shards"):
            partitioning.sharded_top_k(docs, ["doc_id"], ["text"], 1,
                                       "doc_id", 0, "rk")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
