"""The engine's and bench.py's environment knobs are a closed set.

Every ``SPARK_GRAFT_*`` name read from ``os.environ`` in the engine
package or ``bench.py`` must be listed here, so adding (or dropping) a
knob takes a deliberate edit of this file. Pure AST scan, no Spark.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

KNOBS = {
    "SPARK_GRAFT_BPE_LOCAL_ELEMS",
    "SPARK_GRAFT_BPE_LOCAL_WORDS",
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_EXACT_PAIRS_MAX",
    "SPARK_GRAFT_ITEMSET_SUPPORT",
    "SPARK_GRAFT_ITEMSET_SUPPORT_FRAC",
    "SPARK_GRAFT_KMEANS_REDUCE_PARTS",
    "SPARK_GRAFT_LSH_VERIFY_BUDGET",
    "SPARK_GRAFT_SF_DIR",
}


def _is_environ(node: ast.AST) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
        isinstance(node, ast.Name) and node.id == "environ"
    )


def _env_keys(tree: ast.AST) -> list[ast.expr]:
    """Key expressions of every ``os.environ`` read: ``environ.get(k)``,
    ``environ[k]``, ``k in environ`` and ``os.getenv(k)``."""
    keys = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and node.args:
            f = node.func
            if isinstance(f, ast.Attribute) and (
                (f.attr == "get" and _is_environ(f.value)) or f.attr == "getenv"
            ):
                keys.append(node.args[0])
        elif isinstance(node, ast.Subscript) and _is_environ(node.value):
            keys.append(node.slice)
        elif isinstance(node, ast.Compare) and any(
            _is_environ(c) for c in node.comparators
        ):
            keys.append(node.left)
    return keys


def _sources() -> list[Path]:
    return sorted((ROOT / "data_mining_map_reduce_spark").rglob("*.py")) + [
        ROOT / "bench.py"
    ]


def test_env_knobs_are_the_pinned_set():
    found: set[str] = set()
    dynamic: list[str] = []
    for path in _sources():
        for key in _env_keys(ast.parse(path.read_text(), filename=str(path))):
            where = f"{path.relative_to(ROOT)}:{key.lineno}"
            if isinstance(key, ast.Constant) and isinstance(key.value, str):
                if key.value.startswith("SPARK_GRAFT_"):
                    found.add(key.value)
            else:
                dynamic.append(where)
    assert not dynamic, f"environment read with a non-literal name: {dynamic}"
    assert found == KNOBS, (
        f"new knobs {sorted(found - KNOBS)}, gone {sorted(KNOBS - found)}"
    )


def test_scan_sees_every_read_form():
    tree = ast.parse(
        "import os\n"
        "from os import environ\n"
        "a = os.environ.get('SPARK_GRAFT_A', '1')\n"
        "b = os.environ['SPARK_GRAFT_B']\n"
        "c = 'SPARK_GRAFT_C' in os.environ\n"
        "d = os.getenv('SPARK_GRAFT_D')\n"
        "e = environ.get('SPARK_GRAFT_E')\n"
    )
    assert sorted(k.value for k in _env_keys(tree)) == [
        "SPARK_GRAFT_A",
        "SPARK_GRAFT_B",
        "SPARK_GRAFT_C",
        "SPARK_GRAFT_D",
        "SPARK_GRAFT_E",
    ]
