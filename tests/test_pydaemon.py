"""The worker daemon module: workers import the installed pyspark, the
version guard falls back to Spark's zip, and sessions work from any
directory."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile
from pathlib import Path

import pyspark
import pytest

ROOT = str(Path(__file__).resolve().parent.parent)


def test_workers_import_installed_pyspark(spark):
    def probe(batches):
        import sys
        import zipimport

        import pandas as pd
        import pyspark

        for _ in batches:
            pass
        zips = sum(
            isinstance(v, zipimport.zipimporter)
            for v in sys.path_importer_cache.values()
        )
        yield pd.DataFrame({"file": [pyspark.__file__], "zipimporters": [zips]})

    rows = spark.range(2).mapInPandas(probe, "file string, zipimporters long").collect()
    assert rows
    for r in rows:
        assert "site-packages" in r.file, r.file
        assert r.zipimporters == 0


def _archive(path: Path, members: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in members.items():
            zf.writestr(name, text)
    return str(path)


@pytest.mark.parametrize(
    "case, zip_version, site, stripped",
    [
        ("other version", "0.0.0", True, False),
        ("no installed pyspark", pyspark.__version__, False, False),
        ("matching version", pyspark.__version__, True, True),
    ],
)
def test_worker_path_version_guard(tmp_path, case, zip_version, site, stripped):
    spark_entries = [
        _archive(
            tmp_path / "pyspark.zip",
            {"pyspark/version.py": f'__version__: str = "{zip_version}"\n'},
        ),
        _archive(tmp_path / "py4j-0.10.9.9-src.zip", {"py4j/__init__.py": ""}),
        _archive(tmp_path / "spark-core_2.13-0.0.0.jar", {"META-INF/MANIFEST.MF": ""}),
    ]
    script = (
        "import json, sys\n"
        "from data_mining_map_reduce_spark.pydaemon import worker_path\n"
        "print(json.dumps([sys.path, worker_path(list(sys.path))]))\n"
    )
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([*spark_entries, ROOT]))
    # -S leaves site-packages, and with it the installed pyspark, off the path
    cmd = [sys.executable, *([] if site else ["-S"]), "-c", script]
    out = subprocess.run(cmd, env=env, capture_output=True, text=True, check=True)
    before, after = json.loads(out.stdout)
    assert [p for p in before if p in spark_entries] == spark_entries, case
    if stripped:
        assert after == [p for p in before if p not in spark_entries], case
    else:
        assert after == before, case


def test_package_import_loads_no_pyspark():
    # ``python -m data_mining_map_reduce_spark.pydaemon`` runs the package
    # __init__ before it chooses the path; a pyspark import there would
    # load the zip's copy into every worker.
    script = (
        "import sys\n"
        "import data_mining_map_reduce_spark.pydaemon\n"
        "print(sorted(m for m in sys.modules if m.split('.')[0] in ('pyspark', 'py4j')))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=ROOT, capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == "[]"


def test_session_from_any_directory(tmp_path):
    script = (
        "import sys\n"
        f"sys.path.insert(0, {ROOT!r})\n"
        "from data_mining_map_reduce_spark.session import get_spark\n"
        "spark = get_spark(app_name='any-directory')\n"
        "rows = spark.range(4).mapInPandas(lambda it: it, 'id long').collect()\n"
        "print(sorted(r.id for r in rows))\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().splitlines()[-1] == "[0, 1, 2, 3]"
