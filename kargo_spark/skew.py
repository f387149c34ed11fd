"""Skew handling: the engine's one partitioning policy.

North-star: "Skew from giant documents and hub terms is handled via salted
repartitioning and size-bucketed Arrow batches".

* ``widen`` — spread a CPU-dense stage's input to the session's default
  parallelism: by key before a grouped Python stage, round-robin after a
  scan narrower than the cluster, and not at all after a wide scan.
* ``size_bucketed`` — repartition documents by (size bucket, salt) so the
  Arrow batches entering a pandas-UDF stage have balanced byte volume: a
  handful of 100×-median documents land in their own partitions instead of
  stalling one task that also holds thousands of small docs.
* ``salted_agg`` — generic two-phase aggregation for hot keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def size_bucketed(
    df: DataFrame,
    payload_col: str,
    n_partitions: int | None = None,
) -> DataFrame:
    """Repartition by (log2 size bucket, hash salt). Documents of similar
    size co-locate (uniform Arrow batch cost) while the salt spreads each
    bucket across the cluster.

    The salt is derived from the PAYLOAD column and has 32x the
    partition count — both halves were the r05 8->32 scaling-tail root
    cause (guide §2.5: a synthetic partitioning key needs 20-100x more
    distinct values than partitions, or hash collisions leave some
    partitions holding several buckets and others empty). The old salt
    hashed the FIRST column — the repo id, ~20 distinct values on the
    scaling corpus — into 64 buckets, so the Python stages ran at <= 20
    effective partitions with up to 4x record skew no matter how many
    partitions were requested (measured: tokenize-stage tail ratio 3.5,
    max-task 22 s vs median 6.3 s, at 8 cores / 20k docs; at local[32]'s
    128 requested partitions most were simply empty). Hashing the payload
    gives ~one salt per document: same shuffle, uniform occupancy.

    The width defaults to the session's default parallelism (one task per
    core), not ``spark.sql.shuffle.partitions``: every Python-UDF task
    pays a fixed worker cost whatever its row count, because
    ``pyspark.worker_util.setup_spark_files`` calls
    ``importlib.invalidate_caches()`` per task and, on Python 3.11, each
    of the worker's zipimporters then re-reads its whole archive directory
    (43 ms per spark-core jar, 5.6 ms per pyspark.zip; ~0.2-0.35 s of
    worker CPU per task on a 4-core host). Measured there: an identity
    ``mapInPandas`` over 40k rows took 0.45 / 2.56 / 9.56 s at 4 / 32 /
    128 partitions, against 0.07-0.14 s with no Python. Balance inside
    each task comes from the 32x salt and the Arrow byte cap, not from
    extra partitions."""
    spark = df.sparkSession
    n = n_partitions or spark.sparkContext.defaultParallelism
    bucket = F.floor(F.log2(F.greatest(F.length(F.col(payload_col)), F.lit(1))))
    salt = F.pmod(F.abs(F.xxhash64(F.col(payload_col))), F.lit(32 * n))
    return (
        df.withColumn("__size_bucket", bucket)
        .withColumn("__salt", salt)
        .repartition(n, "__size_bucket", "__salt")
        .drop("__size_bucket", "__salt")
    )


def widen(df: DataFrame, *keys: str) -> DataFrame:
    """Spread ``df`` over the session's default parallelism for a
    CPU-dense stage, only where the spread pays for itself (the Hyper
    Dimension Shuffle rule: an exchange must buy back its own cost).

    **With keys** — ``repartition(defaultParallelism, *keys)`` before a
    grouped Python stage. One task per core is the width because a Python
    stage pays a fixed worker start-up cost per TASK (per-task
    ``importlib.invalidate_caches()`` re-reading every zipimporter's
    archive directory, ~0.2-0.35 s of worker CPU on a 4-core host; see
    ``size_bucketed``), so partitions beyond the core count only add that
    cost. Per-doc ranker and MMR inputs are byte-LIGHT but
    CPU-DENSE (r06 at sf0.1: ~2 MB of shuffle carrying ~73 s of kernel
    CPU), so AQE's byte-based partition coalescing, bound by the
    minPartitionSize floor, folds a plain groupBy exchange onto 1-2 tasks
    and serializes the Python stage (noop wall 32.6 s for topic_rank and
    16.2 s for embedrank on 32 cores). An explicit repartition is exempt
    from AQE coalescing and already satisfies the next groupBy's
    ClusteredDistribution, so no second exchange is planned.

    **Without keys** — round-robin, but only when ``df`` is a scan
    narrower than the default parallelism. A single-row-group parquet file
    is unsplittable: every scan of it is one task whatever the core count,
    so per-document signature work serializes on one core (r06 A/B at
    sf0.1, min of 3: simhash 5.26 -> 1.91 s, minhash 4.07 -> 3.91 s,
    decontaminate 0.61 -> 0.56 s; thin multi-branch scans lost to the
    added AQE stage barrier, textstats_suite +0.6 s and eval_suite
    +0.2 s, so they are not widened). A pre-split multi-file input is
    already as wide as the cluster and passes through unchanged. The width
    is read from the physical plan, which costs about a millisecond and
    starts no job; ``.rdd`` is never touched, because on a post-groupBy
    frame it runs the upstream stages and reports AQE's coalesced width
    (measured: 1 job, 1.6 s, width 1). AQE wraps every plan that holds an
    exchange, subquery or cached relation in ``AdaptiveSparkPlan`` (with
    AQE off, an ``Exchange`` in the plan tree marks it); such a frame is
    already behind an exchange and is always repartitioned, as
    the byte-light candidate set before a CPU-dense verify must be.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    if keys:
        return df.repartition(n, *keys)
    plan = df._jdf.queryExecution().executedPlan()
    exchanged = plan.nodeName() == "AdaptiveSparkPlan" or "Exchange" in plan.toString()
    if not exchanged and plan.execute().getNumPartitions() >= n:
        return df
    return df.repartition(n)


def salted_agg(
    df: DataFrame,
    key_cols: list[str],
    aggs: list,
    salt_buckets: int = 16,
):
    """Two-phase (salted) aggregation for additive aggregates: groupBy
    (key, salt) partial -> groupBy key final. Use when one key dominates
    (hub terms). ``aggs`` are (col_name, 'sum'|'count') pairs."""
    salted = df.withColumn(
        "__salt", F.pmod(F.abs(F.xxhash64(*[F.col(c) for c in key_cols])), F.lit(salt_buckets))
    )
    partial_exprs = []
    final_exprs = []
    for name, kind in aggs:
        if kind == "count":
            partial_exprs.append(F.count(F.lit(1)).alias(f"__p_{name}"))
        else:
            partial_exprs.append(F.sum(name).alias(f"__p_{name}"))
        final_exprs.append(F.sum(f"__p_{name}").alias(name))
    partial = salted.groupBy(*key_cols, "__salt").agg(*partial_exprs)
    return partial.groupBy(*key_cols).agg(*final_exprs)
