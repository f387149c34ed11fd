"""SparkSession factory tuned for this engine.

Local-mode defaults chosen for the sandbox (single JVM, ``local[N]``) but
every knob is the one you would set on a real cluster too: AQE for runtime
re-planning and skew-join splitting, Arrow for the pandas-UDF stages,
bounded Arrow batch sizes so one giant document cannot blow up an executor
(BASELINE.json north_star: "size-bucketed Arrow batches").
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

# Executor Python workers are separate processes: they see PYTHONPATH, not
# the driver's sys.path. On a real cluster the package ships via
# ``spark-submit --py-files kargo_spark.zip``; in local mode we export the
# package's parent dir before the JVM starts so forked workers import it.
_PKG_PARENT = str(Path(__file__).resolve().parent.parent)
if _PKG_PARENT not in os.environ.get("PYTHONPATH", ""):
    os.environ["PYTHONPATH"] = (
        _PKG_PARENT + os.pathsep + os.environ.get("PYTHONPATH", "")
    ).rstrip(os.pathsep)

DEFAULT_SHUFFLE_PARTITIONS = 32
# Rows per Arrow batch entering pandas UDFs. Each batch is one
# JVM<->Python socket round-trip, and on hosts where syscalls are
# expensive (sandboxed or nested-virtualized kernels — measured 83%
# system time at local[32] on this one) larger batches mean far fewer
# kernel crossings in wide-parallelism pandas-UDF stages: the r06
# 3-reps-per-setting A/B at local[32]/50k docs measured 8192 ~25% faster
# than 2048 (min 54.3 vs 72.6 s, median 56.0 vs 77.3 s, identical
# output). Memory safety for heavy-tailed documents no longer rests on
# this row cap: Spark 4's arrow.maxBytesPerBatch (set below, default
# 64m) bounds batch BYTES directly, so a giant document cannot blow up a
# worker regardless of the row setting.
ARROW_MAX_RECORDS_DEFAULT = 8192


def _arrow_max_records() -> int:
    """Read and validate KARGO_ARROW_MAX_RECORDS at session-build time
    (r05 ADVICE: an int() at import crashed any package import on a
    non-integer value, let <=0 through to Spark unvalidated, and silently
    ignored changes made after import)."""
    raw = os.environ.get("KARGO_ARROW_MAX_RECORDS", str(ARROW_MAX_RECORDS_DEFAULT))
    try:
        val = int(raw)
    except ValueError:
        raise ValueError(
            f"KARGO_ARROW_MAX_RECORDS must be an integer, got {raw!r}"
        ) from None
    if val <= 0:
        raise ValueError(
            f"KARGO_ARROW_MAX_RECORDS must be > 0 (rows per Arrow batch), got {val}"
        )
    return val


def get_spark(
    app_name: str = "kargo_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("KARGO_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # allow co-partitioning on a SUBSET of the join keys: the graph
        # store buckets triples on (subj, obj) so the incremental merge
        # join on (subj, pred, obj) reuses the layout even when the
        # optimizer constant-folds a literal pred out of the join keys
        # (probed r05 — with the default 'true' the bucketed scan is
        # "disabled by query planner" and the whole store re-shuffles)
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(_arrow_max_records()))
        # the direct byte bound on Arrow batches (Spark 4): the real
        # guard against heavy-tailed documents, independent of the row
        # cap above
        .config(
            "spark.sql.execution.arrow.maxBytesPerBatch",
            os.environ.get("KARGO_ARROW_MAX_BYTES", "64m"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", _PKG_PARENT)
        # local-mode shuffles go through spark.local.dir; /tmp here is
        # disk-backed (vda) while /dev/shm is tmpfs — shuffle IO would
        # otherwise serialize the multi-core runs
        .config("spark.local.dir", os.environ.get("KARGO_LOCAL_DIR", "/dev/shm/kargo_spark_local"))
        .config("spark.driver.memory", os.environ.get("KARGO_DRIVER_MEM", "24g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
