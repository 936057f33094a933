"""Stage partitioning: the one policy for how many partitions a stage runs.

Both rules serve stages whose cost is Python CPU per row (numpy kernels
behind mapInPandas/applyInPandas) or per-row hashing/scoring in the JVM,
not bytes — the cost model of *Accelerating Python UDFs in Vectorized
Query Execution* (CIDR 2022). Spark's own sizing is by bytes, so left
alone it hands such stages too few tasks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def python_stage_partitions(spark) -> int:
    """Explicit partition count for shuffles feeding a PYTHON-KERNEL
    stage (mapInPandas / applyInPandas over numpy kernels).

    AQE's partition coalescing sizes post-shuffle partitions by BYTES
    (advisoryPartitionSizeInBytes) and cannot see that the downstream
    stage's cost is Python CPU per row: a ~10 MB point shuffle feeding
    the MDL walk coalesced onto 5 tasks and serialized 13 s of kernel
    CPU. A USER-SPECIFIED repartition count is exempt from AQE
    coalescing, so these stages pin one: the session's configured
    shuffle parallelism floored at 2× defaultParallelism — both session
    knobs, nothing hard-coded to this box, and at cluster scale the
    operator simply inherits the cluster's shuffle tuning."""
    try:
        conf_n = int(str(spark.conf.get("spark.sql.shuffle.partitions",
                                        "200")))
    except (TypeError, ValueError):  # e.g. "auto" on some builds
        conf_n = 200
    return max(conf_n, spark.sparkContext.defaultParallelism * 2)


def fan_out(df: DataFrame, key: str) -> DataFrame:
    """df hash-partitioned by `key` into 2× defaultParallelism partitions
    unless its scan already packs into at least that many splits.

    A small parquet packs into one or a few scan splits, which serializes
    the map-side kernel stage that follows onto a core or two. Spark packs
    files into splits of maxPartitionBytes, charging openCostInBytes per
    file, so the scan is left alone once Σ size + files × openCost
    reaches want × maxPartitionBytes. The size is the optimized plan's
    leaf statistics, which Spark takes from its file index for every
    filesystem scheme: driver-side metadata, no job, no physical
    planning.

    An input with no files (in-memory frames, localCheckpointed deltas)
    always repartitions: reading its partition count needs the RDD
    handle, i.e. eager physical planning at operator-construction time,
    which the no-RDD gate bans; every such input here is delta-sized, so
    one extra exchange of a small table buys guaranteed fan-out.

    Hash partitioning on a high-cardinality key, not round-robin, skips
    the per-partition pre-sort round-robin pays for deterministic
    retries."""
    spark = df.sparkSession
    want = spark.sparkContext.defaultParallelism * 2
    files = df.inputFiles()
    if files:
        conf = spark._jsparkSession.sessionState().conf()
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        size = sum(int(leaves.apply(i).stats().sizeInBytes())
                   for i in range(leaves.size()))
        if size + len(files) * conf.filesOpenCostInBytes() \
                >= want * conf.filesMaxPartitionBytes():
            return df
    return df.repartition(want, key)
