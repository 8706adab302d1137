"""Engine session defaults: batch plans shuffle into
max(DEFAULT_CPUS, 8) partitions under AQE, stateful streams (AQE off)
into one state partition per core, streaming checkpoints go through
Hadoop's FileSystem API, and ``file://`` is the engine's file system."""

from __future__ import annotations

import os
import re

import pytest

from py4j.java_gateway import JavaClass
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from data_mining_map_reduce_spark.session import (
    CHECKPOINT_FILE_MANAGER,
    DEFAULT_CPUS,
    LOCAL_FS_CLASS,
    LOCAL_FS_JAR,
    _engine_conf,
)
from data_mining_map_reduce_spark.sources.catalog import TABLES, load_table
from data_mining_map_reduce_spark.streaming.stateful import keyed_reservoir
from data_mining_map_reduce_spark.streaming.streams import (
    file_stream,
    foreach_batch_sink,
)


def test_shuffle_partition_split(spark):
    assert spark.conf.get("spark.sql.shuffle.partitions") == str(DEFAULT_CPUS)
    assert spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    ) == str(max(DEFAULT_CPUS, 8))


def test_stateful_stream_one_state_partition_per_core(spark, sf_dir, tmp_path):
    src = str(tmp_path / "events")
    load_table(spark, sf_dir, "events").coalesce(1).write.parquet(src)
    cp = tmp_path / "checkpoint"
    q = foreach_batch_sink(
        keyed_reservoir(file_stream(spark, src, TABLES["events"])),
        lambda df, _bid: df.count(),
        checkpoint_dir=str(cp),
    )
    q.awaitTermination()
    assert q.exception() is None
    parts = [p for p in os.listdir(cp / "state" / "0") if p.isdigit()]
    assert sorted(parts, key=int) == [str(p) for p in range(DEFAULT_CPUS)]


def test_batch_group_by_plans_initial_partition_num(spark):
    df = spark.range(100).withColumn("k", F.col("id") % 7).groupBy("k").count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(rf"hashpartitioning\(k#\d+L, {max(DEFAULT_CPUS, 8)}\)", plan), plan


_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"


def _checkpoint_manager(spark, path, manager_class=None):
    """``CheckpointFileManager.create`` for ``path`` under the session's
    Hadoop conf, with the manager class overridden when given."""
    jvm = spark._jvm
    pkg = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    assert isinstance(
        pkg.CheckpointFileManager, JavaClass
    ), f"no CheckpointFileManager in {pkg}"
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    if manager_class is not None:
        conf.set(_MANAGER_KEY, manager_class)
    return pkg.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(path)), conf
    )


def test_checkpoint_file_manager_pinned(spark, tmp_path):
    """The pinned class name must exist in this Spark: a release that
    moves the package fails here instead of in every stream."""
    assert spark.conf.get(_MANAGER_KEY) == CHECKPOINT_FILE_MANAGER
    got = _checkpoint_manager(spark, tmp_path)
    assert got.getClass().getName() == CHECKPOINT_FILE_MANAGER


@pytest.mark.parametrize(
    "manager_class",
    [
        CHECKPOINT_FILE_MANAGER,
        CHECKPOINT_FILE_MANAGER.replace("FileSystem", "FileContext"),
    ],
)
def test_checkpoint_file_no_overwrite(spark, tmp_path, manager_class):
    """Two writers of one checkpoint file, both open before either
    closes (two runs of a query committing the same batch): the first
    rename wins, the second fails and the file keeps the first write,
    under the pinned manager as under Spark's FileContext default."""
    fm = _checkpoint_manager(spark, tmp_path, manager_class)
    assert fm.getClass().getName() == manager_class
    target = spark._jvm.org.apache.hadoop.fs.Path(str(tmp_path / "0"))
    first, second = fm.createAtomic(target, False), fm.createAtomic(target, False)
    first.write(bytearray(b"first"))
    second.write(bytearray(b"second"))
    first.close()
    with pytest.raises(Py4JJavaError, match="already exists"):
        second.close()
    assert (tmp_path / "0").read_bytes() == b"first"


def test_local_file_system_pinned(spark):
    """The session serves ``file://`` with the engine's class, loaded
    from the jar on the driver's class path."""
    assert spark.conf.get("spark.hadoop.fs.file.impl") == LOCAL_FS_CLASS
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.driver.extraClassPath") == LOCAL_FS_JAR
    jvm = spark._jvm
    class_path = jvm.System.getProperty("java.class.path").split(os.pathsep)
    assert LOCAL_FS_JAR in class_path
    for hadoop_conf in (
        spark._jsc.hadoopConfiguration(),
        spark._jsparkSession.sessionState().newHadoopConf(),
    ):
        fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), hadoop_conf)
        assert fs.getClass().getName() == LOCAL_FS_CLASS
        assert fs.getRaw().getClass().getName() == LOCAL_FS_CLASS + "$Raw"


def test_extra_conf_paths_join_engine_entries():
    """A caller's class path or worker path is joined with the engine's,
    so ``fs.file.impl`` never names a class that is off the class path;
    every other setting the caller passes wins."""
    conf = _engine_conf(
        {
            "spark.driver.extraClassPath": "/opt/a.jar",
            "spark.executorEnv.PYTHONPATH": "/opt/py",
            "spark.ui.enabled": "true",
        }
    )
    assert conf["spark.driver.extraClassPath"] == os.pathsep.join(["/opt/a.jar", LOCAL_FS_JAR])
    assert conf["spark.executorEnv.PYTHONPATH"].startswith("/opt/py" + os.pathsep)
    assert conf["spark.hadoop.fs.file.impl"] == LOCAL_FS_CLASS
    assert conf["spark.ui.enabled"] == "true"
    assert _engine_conf(None)["spark.driver.extraClassPath"] == LOCAL_FS_JAR
