"""Stage partitioning: the one policy for how many partitions a stage runs
and how a hot key spreads over them.

Partition counts: both count rules serve stages whose cost is Python CPU
per row (numpy kernels behind mapInPandas/applyInPandas) or per-row
hashing/scoring in the JVM, not bytes — the cost model of *Accelerating
Python UDFs in Vectorized Query Execution* (CIDR 2022). Spark's own
sizing is by bytes, so left alone it hands such stages too few tasks.

Skew: a key holding a large share of rows would otherwise run through
one task, whatever the partition count. Three remedies, each written
once here and called by every operator that needs it:
  hot_keys       which keys are hot, estimated from a seeded sample
                 (*Random Sampling Over Spatial Range Joins*, ICDE 2025);
  salt           spread a hot key's equi-join over `buckets` partitions;
  sharded_top_k  a per-group top-k whose first phase is spread over
                 `shards` tasks, so a mega-group never funnels into one.
The engine owns the spread: it holds in any session config, whether or
not AQE's skew-join splitting is on.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# heat is estimated from this seeded fraction of the rows: relative
# hotness is what matters, and a key holding a constant share of rows
# stays hot under uniform sampling
HEAT_SAMPLE = 0.1
HEAT_SEED = 42


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


def check_buckets(n: int, what: str) -> None:
    """Raise ValueError unless n >= 1. pmod(x, 0) raises
    REMAINDER_BY_ZERO mid-job under ANSI mode and is NULL without it (a
    NULL salt joins nothing: rows lost silently), so a bucket or shard
    count is checked while the plan is built. salt() and sharded_top_k()
    check their own; an operator that runs eager jobs before it salts
    checks first, so a bad count starts no job."""
    if n < 1:
        raise ValueError(f"{what} must be >= 1, got {n}")


def hot_keys(rows: DataFrame, keys: list[str], factor: float,
             expand=None) -> DataFrame:
    """(*keys, n) for the hot keys of `rows`: those whose count in a
    HEAT_SAMPLE sample (seed HEAT_SEED) exceeds factor × the mean count
    per key. `expand`, if given, maps the sampled rows to the keyed rows
    (the ε-join samples segments, then covers them with cells), so a
    costly expansion runs on the sample only. One eager job (the mean);
    the key set itself stays lazy.

    Heat is a performance heuristic only: salt() replicates, never
    drops, so any hot set — stale, truncated or resampled — gives the
    same join output."""
    sample = rows.sample(fraction=HEAT_SAMPLE, seed=HEAT_SEED)
    if expand is not None:
        sample = expand(sample)
    counts = sample.groupBy(*keys).agg(F.count("*").alias("n"))
    mean = counts.agg(F.avg("n")).collect()[0][0] or 0.0
    return counts.filter(F.col("n") > factor * mean)


def salt(probe: DataFrame, build: DataFrame, is_hot: Column, buckets: int,
         *hash_cols: str) -> tuple[DataFrame, DataFrame]:
    """(probe, build), each with an int `_salt` column; equi-join them on
    their key columns plus `_salt`.

    Where `is_hot` holds, a probe row takes salt pmod(hash(hash_cols),
    buckets) and a build row is replicated once per salt 0..buckets-1;
    elsewhere both sides take salt 0. A hot key's probe rows so spread
    over `buckets` partitions, at the price of `buckets` copies of its
    build rows: salt the larger side as the probe.

    Salt invariance: `is_hot` is a function of the join key, so both
    sides of a matching pair agree on it. Every probe row carries exactly
    one salt, and its build partner exists under that salt exactly once,
    so each pair the plain join emits is emitted exactly once — for any
    hot set and any bucket count. `F.lit(True)` salts every key; Spark
    folds the condition away, leaving the uniform form.

    Raises ValueError for buckets < 1 while the plan is built."""
    check_buckets(buckets, "salt buckets")
    spread = F.pmod(F.hash(*hash_cols), F.lit(buckets))
    probe = probe.withColumn(
        "_salt", F.when(is_hot, spread).otherwise(F.lit(0)))
    build = build.withColumn("_salt", F.explode(
        F.when(is_hot, F.sequence(F.lit(0), F.lit(buckets - 1)))
        .otherwise(F.array(F.lit(0)))))
    return probe, build


def sharded_top_k(df: DataFrame, group: list[str], order: list, k: int,
                  hash_col: str, shards: int, rank: str) -> DataFrame:
    """The rows of `df` ranked 1..k within each `group` by `order`, with
    the rank in a long column `rank` — exactly the rows of one
    row_number() window per group, filtered to rank ≤ k.

    Two phases, so no group's rows funnel through one task: phase 1
    ranks within (group, pmod(hash(hash_col), shards)) and keeps ≤ k per
    shard; phase 2 ranks the ≤ shards·k survivors per group. Exactness:
    a row in its group's top-k is in its shard's top-k (a rank can only
    shrink on a subset), so phase 1 never drops a final row, and phase 2
    applies the same order to a superset of the final rows. The hash
    only prunes, so any hash function (and any shard count) gives the
    same output. `order` must be a total order for the output to be
    deterministic, as for the single window."""
    check_buckets(shards, "shards")
    w1 = Window.partitionBy(*group, "_shard").orderBy(*order)
    w2 = Window.partitionBy(*group).orderBy(*order)
    return (df
            .withColumn("_shard", F.pmod(F.hash(hash_col), F.lit(shards)))
            .withColumn("_rk1", F.row_number().over(w1))
            .filter(F.col("_rk1") <= k)
            .drop("_shard", "_rk1")
            .withColumn(rank, F.row_number().over(w2).cast("long"))
            .filter(F.col(rank) <= k))
