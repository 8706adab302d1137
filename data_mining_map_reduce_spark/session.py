"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[N]``; the same config block is what we
would ship to a 1000-executor cluster: AQE (runtime coalescing + skew
join splitting), UTC session timezone (for oracle comparability),
Arrow-enabled Python interop, shuffle partitions sized to the
parallelism at hand rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Sized from the host unless overridden: every CPU this process may
# run on, and (_host_heap) a driver heap of 40% of physical memory.
DEFAULT_CPUS = int(
    os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
)


def _host_heap() -> str:
    with open("/proc/meminfo") as fh:
        kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    return f"{min(16, max(1, int(0.4 * kb / (1024 * 1024))))}g"


def get_spark(
    app_name: str = "data_mining_map_reduce_spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    On a real cluster the ``master`` comes from spark-submit; here we
    pin ``local[DEFAULT_CPUS]``. ``spark.sql.shuffle.partitions`` is
    the core count, at least 8 — on a cluster you'd size it so
    post-shuffle partitions land in the 64-256 MiB range (AQE
    coalesces down).
    """
    builder = (
        SparkSession.builder.master(f"local[{DEFAULT_CPUS}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(DEFAULT_CPUS, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Default heap (_host_heap): 40% of host RAM, capped at 16g —
        # NOT bigger: the r10 sf10 probe's one-variable isolation
        # matrix (SCALE.md "64g-heap cliff") measured huge-hash-state
        # operators monotonically DEGRADING with heap size — minhash @
        # sf1 ran 56.8 s at 16 g, 105.3 s at 32 g, 436.9 s at 64 g
        # (G1 random-probe locality over heap-resident hash state).
        # The old 48 g default sat inside that cliff zone,
        # contradicting the repo's own measurement. Moderate heaps +
        # scale-out is the cluster design the probe validated;
        # SPARK_GRAFT_DRIVER_MEM overrides for workloads that truly
        # need driver headroom.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _host_heap(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Scan-side partition sizing: 128 MiB splits keep one scan
        # task's working set well inside executor memory at any SF
        # (Spark's default, pinned explicitly because it is a scale
        # contract, not an accident — at 100 TB this is ~800k scan
        # tasks, the right granularity for 1000 executors; raise it
        # only for very wide rows, lower it for heavy per-row decode
        # like the multimodal UDFs).
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
