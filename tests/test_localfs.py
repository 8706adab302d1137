"""The ``file://`` file system the engine pins (``session.LOCAL_FS_CLASS``):
file modes equal to Hadoop's ``LocalFileSystem`` and to the class an
unpinned session resolves, no ``chmod`` or
``readlink`` fork on the write and checkpoint paths, checkpoints that
resume across the two, and a committed jar that rebuilds byte-equal."""

from __future__ import annotations

import json
import os
import shutil
import stat
import subprocess
import sys
import time
import zipfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from data_mining_map_reduce_spark.session import LOCAL_FS_CLASS, LOCAL_FS_JAR
from data_mining_map_reduce_spark.sources.catalog import TABLES, load_table
from data_mining_map_reduce_spark.streaming.stateful import keyed_reservoir
from data_mining_map_reduce_spark.streaming.streams import (
    file_stream,
    foreach_batch_sink,
)

ROOT = str(Path(__file__).resolve().parent.parent)
HADOOP_FS_CLASS = "org.apache.hadoop.fs.LocalFileSystem"
MODES = (0o644, 0o755, 0o700, 0o600)


def _unpinned_fs_class(spark) -> str:
    """What ``file://`` resolves to without the engine's pin: the last
    ``file`` entry of Hadoop's ServiceLoader registry. With pyspark's
    jars that is Hive's ``ProxyLocalFileSystem`` (hive-exec registers
    it after Hadoop's ``LocalFileSystem``, which it wraps)."""
    jvm = spark._jvm
    conf = jvm.org.apache.hadoop.conf.Configuration()
    name = jvm.org.apache.hadoop.fs.FileSystem.getFileSystemClass("file", conf).getName()
    assert name != LOCAL_FS_CLASS
    return name


def _stock_fs_classes(spark) -> list[str]:
    return sorted({HADOOP_FS_CLASS, _unpinned_fs_class(spark)})


def _file_system(spark, fs_class, umask="022"):
    """A new, uncached ``file://`` instance of ``fs_class``."""
    jvm = spark._jvm
    conf = jvm.org.apache.hadoop.conf.Configuration(spark._jsc.hadoopConfiguration())
    conf.set("fs.file.impl", fs_class)
    conf.set("fs.permissions.umask-mode", umask)
    fs = jvm.org.apache.hadoop.fs.FileSystem.newInstance(jvm.java.net.URI("file:///"), conf)
    assert fs.getClass().getName() == fs_class
    return fs


def _modes(root: Path) -> dict[str, int]:
    """Every path under ``root`` (``.crc`` files included) -> its full
    mode bits, set-ID and sticky bits included."""
    return {
        str(p.relative_to(root)): stat.S_IMODE(os.stat(p).st_mode)
        for p in sorted(root.rglob("*"))
    }


def _exercise(spark, fs, root: Path) -> None:
    """Each permission-carrying call, with the umask default and with
    each explicit mode."""
    jvm = spark._jvm
    path = lambda *parts: jvm.org.apache.hadoop.fs.Path(str(root.joinpath(*parts)))  # noqa: E731
    perm = lambda mode: jvm.org.apache.hadoop.fs.permission.FsPermission(f"{mode:o}")  # noqa: E731
    root.mkdir()
    fs.create(path("default_file")).close()
    fs.mkdirs(path("default_dir"))
    for mode in MODES:
        fs.create(path(f"create_{mode:o}"), perm(mode), True, 4096, 1, 1 << 20, None).close()
        fs.mkdirs(path(f"mkdirs_{mode:o}"), perm(mode))
        fs.create(path(f"set_{mode:o}")).close()
        fs.setPermission(path(f"set_{mode:o}"), perm(mode))


@pytest.mark.parametrize("umask", ["022", "077"])
def test_modes_match_stock_local_file_system(spark, tmp_path, umask):
    got = {}
    stock = _stock_fs_classes(spark)
    for fs_class in (*stock, LOCAL_FS_CLASS):
        fs = _file_system(spark, fs_class, umask)
        try:
            _exercise(spark, fs, tmp_path / fs_class)
        finally:
            fs.close()
        got[fs_class] = _modes(tmp_path / fs_class)
    ours = got[LOCAL_FS_CLASS]
    for fs_class in stock:
        assert ours == got[fs_class], fs_class
    for mode in MODES:
        assert ours[f"set_{mode:o}"] == ours[f".set_{mode:o}.crc"] == mode
    assert ours["default_file"] == 0o666 & ~int(umask, 8)


def test_sticky_and_set_group_id_bits_survive(spark, tmp_path):
    """NIO sets only the 9 permission bits; a sticky mode and a
    set-group-ID directory go through the stock ``chmod`` instead, which
    sets the first and keeps the second."""
    jvm = spark._jvm
    path = lambda p: jvm.org.apache.hadoop.fs.Path(str(p))  # noqa: E731
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission
    got = {}
    stock = _stock_fs_classes(spark)
    for fs_class in (*stock, LOCAL_FS_CLASS):
        root = tmp_path / fs_class
        root.mkdir()
        shared = root / "shared"
        shared.mkdir()
        os.chmod(shared, 0o2775)
        fs = _file_system(spark, fs_class)
        try:
            fs.mkdirs(path(root / "sticky"))
            fs.setPermission(path(root / "sticky"), perm("1777"))
            fs.mkdirs(path(shared / "child"), perm("755"))
            fs.setPermission(path(shared), perm("750"))
        finally:
            fs.close()
        got[fs_class] = _modes(root)
    for fs_class in stock:
        assert got[LOCAL_FS_CLASS] == got[fs_class], fs_class
    assert got[LOCAL_FS_CLASS]["sticky"] == 0o1777
    assert got[LOCAL_FS_CLASS]["shared"] == 0o2750
    assert got[LOCAL_FS_CLASS]["shared/child"] == 0o2755


@pytest.mark.skipif(not shutil.which("javac"), reason="needs a JDK's javac and jar")
def test_committed_jar_rebuilds_from_source(tmp_path):
    out = tmp_path / "rebuilt.jar"
    env = dict(os.environ, PYTHON=sys.executable)
    build = os.path.join(os.path.dirname(LOCAL_FS_JAR), "build.sh")
    subprocess.run([build, str(out)], env=env, check=True, capture_output=True)

    def classes(jar):
        with zipfile.ZipFile(jar) as zf:
            return {n: zf.read(n) for n in zf.namelist() if n.endswith(".class")}

    committed = classes(LOCAL_FS_JAR)
    assert LOCAL_FS_CLASS.replace(".", "/") + ".class" in committed
    assert classes(out) == committed


_FORK_PROBE = """
import json, os, sys
sys.path.insert(0, {root!r})
from data_mining_map_reduce_spark.session import get_spark
from data_mining_map_reduce_spark.sources.catalog import TABLES, load_table
from data_mining_map_reduce_spark.sources.writers import write_parquet
from data_mining_map_reduce_spark.streaming.stateful import keyed_reservoir
from data_mining_map_reduce_spark.streaming.streams import file_stream, foreach_batch_sink

log, out = sys.argv[1], sys.argv[2]

def forks():
    lines = open(log).read().split() if os.path.exists(log) else []
    return {{cmd: lines.count(cmd) for cmd in ("chmod", "readlink")}}

def delta(before):
    return {{cmd: n - before[cmd] for cmd, n in forks().items()}}

spark = get_spark(app_name="fork-probe")
events = load_table(spark, {sf!r}, "events").repartition(4)
got = {{}}
before = forks()
write_parquet(events, out + "/events")
got["write_parquet"] = delta(before)
before = forks()
q = foreach_batch_sink(
    keyed_reservoir(file_stream(spark, out + "/events", TABLES["events"])),
    lambda df, _bid: df.count(),
    checkpoint_dir=out + "/checkpoint",
)
q.awaitTermination()
assert q.exception() is None
got["keyed_reservoir"] = delta(before)
# the wrappers log: one stock setPermission is one chmod
jvm = spark._jvm
conf = jvm.org.apache.hadoop.conf.Configuration(spark._jsc.hadoopConfiguration())
conf.set("fs.file.impl", "org.apache.hadoop.fs.LocalFileSystem")
stock = jvm.org.apache.hadoop.fs.FileSystem.newInstance(jvm.java.net.URI("file:///"), conf)
before = forks()
stock.setPermission(
    jvm.org.apache.hadoop.fs.Path(out + "/events"),
    jvm.org.apache.hadoop.fs.permission.FsPermission("755"),
)
got["stock_set_permission"] = delta(before)
spark.stop()
print(json.dumps(got))
"""


def test_write_and_checkpoint_fork_no_chmod(tmp_path, sf_dir):
    """Hadoop's ``Shell`` runs ``chmod`` and ``readlink`` by name, so
    logging wrappers first on the JVM's ``PATH`` count its forks."""
    bindir = tmp_path / "bin"
    bindir.mkdir()
    for cmd in ("chmod", "readlink"):
        wrapper = bindir / cmd
        wrapper.write_text(
            f'#!/bin/sh\necho {cmd} >> "$FORKLOG"\nexec {shutil.which(cmd)} "$@"\n'
        )
        wrapper.chmod(0o755)
    log = tmp_path / "forks.log"
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(
        PATH=f"{bindir}{os.pathsep}{os.environ['PATH']}",
        FORKLOG=str(log),
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    script = _FORK_PROBE.format(root=ROOT, sf=sf_dir)
    out = subprocess.run(
        [sys.executable, "-c", script, str(log), str(tmp_path / "out")],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got == {
        "write_parquet": {"chmod": 0, "readlink": 0},
        "keyed_reservoir": {"chmod": 0, "readlink": 0},
        "stock_set_permission": {"chmod": 1, "readlink": 0},
    }


@pytest.mark.parametrize("seed", [0, 1])
def test_stock_checkpoint_resumes_under_engine_file_system(spark, sf_dir, tmp_path, seed):
    """A ``keyed_reservoir`` checkpoint written under the file system a
    session without the pin uses resumes under the engine's with the
    samples of one uninterrupted unpinned run: same keys, counts and
    sampled ids."""
    events = load_table(spark, sf_dir, "events")
    stamps = sorted(r.ts for r in events.where("ts IS NOT NULL").select("ts").collect())
    early = F.coalesce(F.col("ts") <= stamps[len(stamps) // 2], F.lit(False))
    halves = [events.where(early), events.where(~early)]
    src = tmp_path / "src"
    src.mkdir()

    def add_file(i):
        out = str(tmp_path / f"half{i}")
        halves[i].coalesce(1).write.parquet(out)
        (part,) = [f for f in os.listdir(out) if f.endswith(".parquet")]
        dst = str(src / f"events{i}.parquet")
        shutil.move(os.path.join(out, part), dst)
        mtime = time.time() + i  # the second file is strictly newer
        os.utime(dst, (mtime, mtime))

    def run(cp, fs_class):
        # session-level Hadoop settings reach the stream's checkpoint
        # and state store; the cache would hand back the engine's
        # instance whatever fs.file.impl says
        stock = fs_class != LOCAL_FS_CLASS
        if stock:
            spark.conf.set("fs.file.impl", fs_class)
            spark.conf.set("fs.file.impl.disable.cache", "true")
        try:
            jvm = spark._jvm
            fs = jvm.org.apache.hadoop.fs.FileSystem.get(
                jvm.java.net.URI("file:///"), spark._jsparkSession.sessionState().newHadoopConf()
            )
            assert fs.getClass().getName() == fs_class
            final: dict[int, tuple] = {}

            def fn(df, _bid):
                for r in df.collect():
                    final[r.user_id] = (r.n_seen, list(r.sample))

            q = foreach_batch_sink(
                keyed_reservoir(
                    file_stream(spark, str(src), TABLES["events"]), capacity=8, seed=seed
                ),
                fn,
                checkpoint_dir=str(cp),
            )
            q.awaitTermination()
            assert q.exception() is None
            return final
        finally:
            if stock:
                spark.conf.unset("fs.file.impl")
                spark.conf.unset("fs.file.impl.disable.cache")

    cp = tmp_path / "cp"
    add_file(0)
    unpinned = _unpinned_fs_class(spark)
    first = run(cp, unpinned)
    add_file(1)
    resumed = {**first, **run(cp, LOCAL_FS_CLASS)}
    whole = run(tmp_path / "cp_whole", unpinned)

    counts = {r.user_id: r["count"] for r in events.groupBy("user_id").count().collect()}
    assert {k: n for k, (n, _) in resumed.items()} == counts
    assert resumed == whole
    assert sorted(f for f in os.listdir(cp / "commits") if f.isdigit()) == ["0", "1"]
