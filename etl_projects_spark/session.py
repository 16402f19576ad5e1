"""SparkSession bootstrap.

Replaces the reference's Spark-context bootstrap
(``etl_projects/base/processors/spark/base_spark.py:44-47``, which built a
legacy ``HiveContext``) with a modern ``SparkSession`` tuned for both the
local[N] test harness and a large multi-executor cluster:

- AQE on (runtime coalescing, skew-join handling) — subsumes the
  reference's count-based repartitioning (SURVEY §4).
- Arrow on — every Pandas-UDF path is vectorized.
- UTC session timezone — deterministic timestamp semantics, and parity
  with the DuckDB correctness oracle.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster AQE coalesces from a higher initial number, so the setting is
  safe at both scales.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def resource_defaults() -> tuple[int, str]:
    """(local cores, driver heap) for a session built here.

    ``$SPARK_GRAFT_CPUS`` and ``$SPARK_GRAFT_DRIVER_MEM`` win when set.
    Otherwise the cores are the machine's own and the heap is half its
    physical memory in whole GiB (at least 1g, at most 16g): more
    threads than cores only oversubscribe them, and a heap near the
    size of RAM leaves nothing for the Python workers or the OS.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if not mem:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        mem = f"{max(1, min(16, phys // 2 // 2**30))}g"
    return cpus, mem


DEFAULT_SHUFFLE_PARTITIONS = resource_defaults()[0]


def build_session(
    app_name: str = "etl_projects_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with the engine's standard config.

    ``master`` defaults to ``local[<cores>]`` (see
    :func:`resource_defaults`) so the same entry point works on the
    test harness; on a cluster, pass ``master=None`` via spark-submit
    and the submit-time master wins.
    """
    cpus, driver_mem = resource_defaults()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Idempotent incremental re-runs overwrite only the partitions
        # present in the incoming batch (SURVEY §2.6 / §7 hard-part c).
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # Parquet TIMESTAMP(NANOS) (e.g. pandas-written event streams) is
        # illegal for Spark's reader; surface it as long nanos and convert
        # explicitly (see queries.load).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_mem)
        # Scan sizing: 128 MiB splits keep one task's working set well
        # inside executor memory at any SF; openCostInBytes biases the
        # packer against tiny-file tasks (the 250k-rows-per-file layout
        # this engine writes makes splits uniform to begin with).
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.files.openCostInBytes", "4194304")
        # r15 optimization (guide §2.4/§7.2): InferFiltersFromGenerate
        # synthesizes `size(x)>0 AND isnotnull(x)` below every non-outer
        # explode/posexplode, substituting the generator child's FULL
        # expression tree — for this engine's generators over computed
        # arrays (md5 shingle transforms, token splits, gram chains)
        # that re-evaluates the expensive chain 1-2 extra times, and
        # the pushed copy lands BELOW the fan_out Exchange in the
        # single-task scan stage (measured at sf0.1: the bare span
        # shingle relation dropped 2.1 s → 0.64 s with the rule
        # excluded; catalog-wide the explode-over-computed-array shape
        # is the dedup/text/DSIR hot path). The rule's benefit —
        # pruning empty-input rows before the Generate — is preserved
        # where it matters by the operators' own explicit filters; the
        # hottest sites additionally use explode_outer + null-filter in
        # code so the fix holds under ANY session (e.g. the driver's
        # vanilla correctness session). Cost/benefit is the same at
        # every scale: the duplicated expression is per-row CPU, not a
        # partitioning concern.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer."
            "InferFiltersFromGenerate",
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
