"""SparkSession factory tuned for the spatial-join workload.

The reference's physical planner is ``osm2pgsql-tuner`` (RAM-based flag
selection, /root/reference/docker/osm2pgsql_recommendation.py:50-94). The
Spark analog is session configuration: AQE, Arrow batch sizing for binary
image payloads, and shuffle-partition counts sized to the core count.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "pgosm-flex-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS, else the CPUs this process may
    run on; on a real cluster the master/executor settings come from
    spark-submit and this factory only applies SQL-level tuning.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    if shuffle_partitions is None:
        # 2x cores: small enough to avoid tiny-task overhead at test scale,
        # AQE coalesces further at runtime; at 100 TB this is overridden via
        # spark.sql.adaptive.coalescePartitions + a much larger initial count.
        shuffle_partitions = max(DEFAULT_SHUFFLE_PARTITIONS, 2 * cores)

    # local mode: driver JVM == executor JVM; the 1g default heap OOMs at
    # bench scale. A quarter of host RAM leaves the rest to the JVM's
    # off-heap memory, the Python workers and the OS; on a real cluster
    # spark-submit supplies executor memory and this only affects the driver.
    host_ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{max(1, host_ram // 4 >> 30)}g")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # NO silent Arrow fallback: the legacy toPandas path degrades int64
        # to float64, truncating 64-bit content ids (xxhash64 vertex/edge
        # ids corrupt at |id| > 2^53 — observed under host memory pressure).
        # A loud conversion failure beats silently wrong ids.
        .config("spark.sql.execution.arrow.pyspark.fallback.enabled", "false")
        # large record batches keep the vectorized-UDF hot path efficient at
        # high parallelism (2048-row batches measured 9x slower at local[32]);
        # maxBytesPerBatch (64 MB default) still bounds memory for image
        # `bytes` payload batches (SURVEY.md §7.3)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(64 * 1024 * 1024))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # input split size — also the task granularity of every map-only
        # stage over a parquet source (the flagship join's point side).
        # Point parquet is spatially clustered (sequential ids ≈ nearby
        # cells), so coarse 128 MB splits concentrate the refine stage's
        # boundary-point work in a few tasks: at 16 cores the straggler
        # tail halves the join's effective rate. Finer splits cost nothing
        # (no shuffle) and let the scheduler balance the skew.
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        # FAIR scheduling between pools: the import job submits its two
        # independent stage chains (variable-size point side, fixed-size
        # feature world / export) from separate driver threads tagged with
        # separate pools, so the small fixed-world stages get task slots
        # while a large scan is in flight instead of queueing behind it.
        # Single-job workloads are unaffected (one pool, no competition).
        .config("spark.scheduler.mode", "FAIR")
        # Delay scheduling is a net loss for this workload: the hot paths
        # read either parquet splits (no preferred location on object
        # storage) or memory-persisted blocks consumed by SHORT tasks, and
        # the default 3 s/level wait idles task slots whenever a preferred
        # executor is busy — which is the steady state of the import job's
        # unit loop (42 small unit jobs racing over the same persisted point
        # blocks). Measured on the 96M-point full job through a 4-executor
        # standalone cluster: wait=0s cut the fixed-world section 130→72 s
        # and the checkpointed join 84→70 s (the 1-executor leg is immune —
        # every block is local — so the default 3 s silently depresses only
        # the multi-executor legs the north rule measures).
        .config("spark.locality.wait", "0s")
        # spark.sql.codegen.hugeMethodLimit stays at its default (65535):
        # aligning it with HotSpot's 8000-byte never-JIT threshold was
        # measured BOTH ways on this workload — it recovered ~20% on the
        # 44-table layer dispatch while its widest predicates fused into
        # 7-8 KB methods, but it also demoted the kNN candidate stage from
        # whole-stage codegen (min 4.1 s → 7.2 s, same window). The real
        # fix was shrinking the generated predicates themselves
        # (layers/registry.py flat member helpers: max branch method is
        # now ~2.5 KB), after which the lower limit had no remaining
        # upside. Keep generated methods small instead of tuning this.
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
    )
    master = os.environ.get("SPARK_GRAFT_MASTER")
    if master:
        builder = builder.master(master)
    elif SparkSession.getActiveSession() is None:
        builder = builder.master(f"local[{cores}]")
    # cluster-mode plumbing for plain-python drivers (no spark-submit):
    # a JSON dict of confs, e.g. spark.cores.max / spark.executor.cores /
    # spark.executorEnv.PYTHONPATH, so the same jobs run unchanged against
    # a standalone master
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF")
    if env_conf:
        import json

        for k, v in json.loads(env_conf).items():
            builder = builder.config(k, str(v))
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
