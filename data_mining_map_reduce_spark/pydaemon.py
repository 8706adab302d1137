"""Python worker daemon that imports the installed pyspark, not Spark's zip.

Spark starts its Python workers with ``pyspark.zip``, the py4j source
zip and the ``spark-core`` jar on ``sys.path``. Every task then runs
``importlib.invalidate_caches()`` (``pyspark.worker_util.
setup_spark_files``), which on CPython 3.11 re-reads the directory of
each zip through its zipimporters, a fixed cost of 0.1-0.3 s per task.
This module drops those three archives from ``sys.path`` and clears
the importer cache before it runs the stock ``pyspark.daemon``, so the
forked workers import the installed ``site-packages`` pyspark (which
also ships compiled bytecode). It does so only when the installed
pyspark's version equals the one in the zip, i.e. the JVM's; otherwise
the daemon runs unchanged on Spark's path.

``session.get_spark`` selects it through ``spark.python.daemon.module``.
This file imports only the standard library: nothing from pyspark may
load before the path is chosen.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

_VERSION = re.compile(r"""^__version__\s*(?::\s*str\s*)?=\s*["']([^"']+)["']""", re.M)


def _is_spark_entry(entry: str) -> bool:
    name = os.path.basename(entry)
    return (
        name == "pyspark.zip"
        or (name.startswith("py4j-") and name.endswith("-src.zip"))
        or (name.startswith("spark-core") and name.endswith(".jar"))
    )


def _version(source: str) -> str | None:
    m = _VERSION.search(source)
    return m.group(1) if m else None


def _zip_version(archive: str) -> str | None:
    try:
        with zipfile.ZipFile(archive) as zf:
            return _version(zf.read("pyspark/version.py").decode())
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def _installed_version(path: list[str]) -> str | None:
    if PathFinder.find_spec("py4j", path) is None:
        return None
    spec = PathFinder.find_spec("pyspark", path)
    if spec is None or not spec.submodule_search_locations:
        return None
    try:
        with open(os.path.join(spec.submodule_search_locations[0], "version.py")) as fh:
            return _version(fh.read())
    except OSError:
        return None


def worker_path(path: list[str]) -> list[str]:
    """``path`` without Spark's archives when the installed pyspark (and
    py4j) found on what remains has the zip's version; else ``path``."""
    zips = [p for p in path if os.path.basename(p) == "pyspark.zip"]
    if not zips:
        return path
    kept = [p for p in path if not _is_spark_entry(p)]
    zip_version = _zip_version(zips[0])
    if zip_version is None or _installed_version(kept) != zip_version:
        return path
    return kept


def main() -> None:
    sys.path[:] = worker_path(sys.path)
    sys.path_importer_cache.clear()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
