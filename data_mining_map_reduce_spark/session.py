"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[N]``; the same config block is what we
would ship to a 1000-executor cluster: AQE (runtime coalescing + skew
join splitting), UTC session timezone (for oracle comparability),
Arrow-enabled Python interop, shuffle partitions sized to the
parallelism at hand rather than the 200 default (one count for batch
plans, another for stateful streams; see ``get_spark``).

Streaming checkpoints are written through Hadoop's ``FileSystem`` API
rather than Spark's ``FileContext`` default: without libhadoop, each
FileContext rename forks ``readlink`` (``RawLocalFileSystem.getFileLinkStatus``
→ ``FileUtil.readLink``), about 3 ms a fork on the micro-batch's
critical path, where ``FileSystem.rename`` on ``file://`` is a plain
``java.io.File.renameTo``. The ``chmod`` forks that remain are known;
see ``get_spark``.
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


CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)

# Workers start the daemon module by name, so they need the directory
# that holds the engine package on their path, wherever the driver runs.
_ENGINE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "data_mining_map_reduce_spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    On a real cluster the ``master`` comes from spark-submit; here we
    pin ``local[DEFAULT_CPUS]``.

    Shuffle partitions are split by plan kind. Batch plans run under
    AQE coalescing, where Spark takes the pre-coalesce count from
    ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``: the
    core count, at least 8 (on a cluster, size it so post-shuffle
    partitions land in the 64-256 MiB range; AQE coalesces down).
    Stateful streams run with AQE off, so nothing coalesces them and
    each shuffle partition is a state store with its own fixed cost
    per micro-batch: ``spark.sql.shuffle.partitions`` is the core
    count, one state store per core and one task wave. A stream
    restarted from an existing checkpoint keeps the partition count
    pinned in its offset log, whatever these settings say.

    Python workers start through ``pydaemon``
    (``spark.python.daemon.module``), so each task imports the
    installed pyspark instead of re-scanning ``pyspark.zip``.

    Checkpoints go through ``FileSystemBasedCheckpointFileManager``
    (``spark.sql.streaming.checkpointFileManagerClass``). Spark's
    ``FileContext`` default renames each atomic checkpoint write
    through ``AbstractFileSystem.renameInternal``, which without
    libhadoop execs ``readlink`` once per file link lookup: 8 forks per
    checkpoint file, 112 per ``keyed_reservoir`` pass of the stream
    benchmark. On ``file://`` the FileSystem manager renames with
    ``java.io.File.renameTo`` after the same does-the-target-exist
    check, so atomicity, no-overwrite semantics and the checkpoint
    layout (``.crc`` files included) are unchanged, and a checkpoint
    written under the default resumes under this manager. The
    remaining known forks are ``chmod`` from
    ``RawLocalFileSystem.setPermission`` (41 a pass), which only a
    file system class overriding ``setPermission`` would remove.
    """
    extra_conf = dict(extra_conf or {})
    worker_pythonpath = os.pathsep.join(
        p
        for p in (extra_conf.pop("spark.executorEnv.PYTHONPATH", None), _ENGINE_PARENT)
        if p
    )
    builder = (
        SparkSession.builder.master(f"local[{DEFAULT_CPUS}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(DEFAULT_CPUS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(max(DEFAULT_CPUS, 8)),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.daemon.module", "data_mining_map_reduce_spark.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", worker_pythonpath)
        .config(
            "spark.sql.streaming.checkpointFileManagerClass", CHECKPOINT_FILE_MANAGER
        )
        # At most 16g: huge-hash-state operators slow down as the heap
        # grows (SCALE.md "64g-heap cliff").
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
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
