"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[N]``; the same config block is what we
would ship to a 1000-executor cluster: AQE (runtime coalescing + skew
join splitting), UTC session timezone (for oracle comparability),
Arrow-enabled Python interop, shuffle partitions sized to the
parallelism at hand rather than the 200 default (one count for batch
plans, another for stateful streams; see ``get_spark``).

Local file I/O forks no shell command. Without libhadoop, Hadoop execs
a command wherever it would make a native call, about 3 ms a fork, on
the micro-batch's critical path for streams and per file for writes.
Streaming checkpoints are written through Hadoop's ``FileSystem`` API
rather than Spark's ``FileContext`` default, whose renames fork
``readlink`` (``RawLocalFileSystem.getFileLinkStatus`` →
``FileUtil.readLink``); ``FileSystem.rename`` on ``file://`` is a plain
``java.io.File.renameTo``. And ``file://`` is served by
``graft.hadoop.NioLocalFileSystem`` (``jvm/``), whose ``setPermission``
calls java.nio where the stock one forks ``chmod``. See ``get_spark``.
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


# The file:// file system: Hadoop's LocalFileSystem with a fork-free
# setPermission, built from jvm/src by jvm/build.sh.
LOCAL_FS_CLASS = "graft.hadoop.NioLocalFileSystem"
LOCAL_FS_JAR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "jvm", "graft-localfs.jar"
)

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
    written under the default resumes under this manager.

    ``file://`` is ``LOCAL_FS_CLASS`` (``spark.hadoop.fs.file.impl``),
    loaded from ``LOCAL_FS_JAR`` on the driver's class path (local-mode
    tasks run in the driver JVM). Unpinned, ``file://`` resolves through
    Hadoop's ServiceLoader registry to Hive's ``ProxyLocalFileSystem``
    (hive-exec registers it after Hadoop's ``LocalFileSystem``, which
    it wraps). Hadoop's ``mkdirs`` and ``create`` always pass a
    permission, and without libhadoop the stock
    ``RawLocalFileSystem.setPermission`` forks ``chmod`` for it: 41
    forks per ``keyed_reservoir`` pass, about 18 per ``write_parquet``
    of a 4-partition frame. The class sets the same 9 mode bits through
    ``java.nio.file.Files.setPosixFilePermissions``, and hands a sticky
    bit, a set-user/group-ID target, or a JVM with libhadoop to the
    stock code. Callers apply the umask before ``setPermission``, and
    both follow symlinks, so file modes, ``.crc`` files, renames and
    the checkpoint layout are unchanged: a checkpoint written by an
    unpinned session resumes under this one.

    A caller's ``spark.executorEnv.PYTHONPATH`` or
    ``spark.driver.extraClassPath`` in ``extra_conf`` is joined with the
    engine's entry, not put in its place; any other ``extra_conf`` entry
    wins over the default.
    """
    builder = SparkSession.builder.master(f"local[{DEFAULT_CPUS}]").appName(app_name)
    for k, v in _engine_conf(extra_conf).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _engine_conf(extra_conf: dict[str, str] | None) -> dict[str, str]:
    """The settings ``get_spark`` builds its session with."""
    extra_conf = dict(extra_conf or {})

    def joined(key: str, ours: str) -> str:
        return os.pathsep.join(p for p in (extra_conf.pop(key, None), ours) if p)

    conf = {
        "spark.sql.shuffle.partitions": str(DEFAULT_CPUS),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": str(
            max(DEFAULT_CPUS, 8)
        ),
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.python.daemon.module": "data_mining_map_reduce_spark.pydaemon",
        "spark.executorEnv.PYTHONPATH": joined(
            "spark.executorEnv.PYTHONPATH", _ENGINE_PARENT
        ),
        "spark.sql.streaming.checkpointFileManagerClass": CHECKPOINT_FILE_MANAGER,
        "spark.driver.extraClassPath": joined("spark.driver.extraClassPath", LOCAL_FS_JAR),
        "spark.hadoop.fs.file.impl": LOCAL_FS_CLASS,
        # At most 16g: huge-hash-state operators slow down as the heap
        # grows (SCALE.md "64g-heap cliff").
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _host_heap(),
        "spark.ui.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # Scan-side partition sizing: 128 MiB splits keep one scan
        # task's working set well inside executor memory at any SF
        # (Spark's default, pinned explicitly because it is a scale
        # contract, not an accident — at 100 TB this is ~800k scan
        # tasks, the right granularity for 1000 executors; raise it
        # only for very wide rows, lower it for heavy per-row decode
        # like the multimodal UDFs).
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    }
    return {**conf, **extra_conf}
