"""Scale guards: one bounded probe (``guards.local_rows``) and one budget
check (``guards.require``).

The itemset caps trip on tiny data through a monkeypatched
``CANDIDATE_CAP``, and their messages name the knob and the remedy. A
source scan keeps the bounded ``.limit(cap + 1).collect()`` probe
inside ``guards.py``.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

from data_mining_map_reduce_spark import guards
from data_mining_map_reduce_spark.guards import GuardError, local_rows, require

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "data_mining_map_reduce_spark"
GUARDS = Path(guards.__file__).resolve()


def _son(spark, monkeypatch, cap, baskets, num_partitions):
    from data_mining_map_reduce_spark.operators import itemsets

    monkeypatch.setattr(itemsets, "CANDIDATE_CAP", cap)
    df = spark.createDataFrame([(b,) for b in baskets], "items array<string>")
    itemsets.son_frequent_itemsets(
        df, support=1, num_partitions=num_partitions
    ).collect()


# The itemset caps, which no other test trips. The other budget sites
# have their own trip tests (test_similarity, test_ann, test_streaming),
# and every site formats its message through ``require``, whose shape
# test_require_disabled_never_measures pins.
# site -> (CANDIDATE_CAP, baskets, partitions, text of the op, raised
# on a worker)
ITEMSET_CAPS = {
    # 4 singletons + 6 pairs = 10 frequent sets > 5 after k=2
    "apriori_pairs": (5, [["a", "b", "c", "d"]] * 3, 1, "up to k=2", True),
    # 10 sets after k=2 fit a cap of 12; the 4 triples at k=3 do not
    "apriori_k": (12, [["a", "b", "c", "d"]] * 3, 1, "up to k=3", True),
    # 40 one-item baskets spread over 8 partitions: each partition's
    # frequent sets fit a cap of 20, their union does not
    "son_phase1": (
        20, [[f"i{n}"] for n in range(40)], 8, "SON phase-1 candidates", False,
    ),
}


@pytest.mark.parametrize("site", sorted(ITEMSET_CAPS))
def test_itemset_cap_names_knob_and_remedy(spark, monkeypatch, site):
    cap, baskets, num_partitions, op, on_worker = ITEMSET_CAPS[site]
    with pytest.raises(Exception) as info:
        _son(spark, monkeypatch, cap, baskets, num_partitions)
    msg = str(info.value)
    if on_worker:
        # raised inside mapInPandas; reaches the driver as a PythonException
        assert "GuardError" in msg, msg
    else:
        assert isinstance(info.value, GuardError), repr(info.value)
    assert op in msg and f"exceeds CANDIDATE_CAP={cap}" in msg, msg
    assert "raise `support`" in msg, msg


@pytest.mark.parametrize(
    "cap, expected",
    [(4, None), (5, 5), (6, 5), (0, None)],
    ids=["cap_below_rows", "cap_equals_rows", "cap_above_rows", "cap_0"],
)
def test_local_rows_bounds(spark, cap, expected):
    rows = local_rows(spark.range(5), cap)
    assert (None if rows is None else len(rows)) == expected


def test_require_disabled_never_measures():
    def measure():
        raise AssertionError("a disabled guard must not measure")

    require("op", None, measure, "knob", "remedy")
    require("op", 0, measure, "knob", "remedy")
    require("op", 3, lambda: 3, "knob", "remedy")  # at the limit passes
    with pytest.raises(ValueError, match=r"^op: 4 exceeds knob=3; remedy$"):
        require("op", 3, lambda: 4, "knob", "remedy")
    assert issubclass(GuardError, RuntimeError)


def _bounded_probes(tree: ast.AST) -> list[int]:
    """Line numbers of every ``<x>.limit(<y> + 1).collect()`` call."""
    lines = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "collect"
            and isinstance(node.func.value, ast.Call)
            and isinstance(node.func.value.func, ast.Attribute)
            and node.func.value.func.attr == "limit"
            and node.func.value.args
            and isinstance(arg := node.func.value.args[0], ast.BinOp)
            and isinstance(arg.op, ast.Add)
            and isinstance(arg.right, ast.Constant)
            and arg.right.value == 1
        ):
            lines.append(node.lineno)
    return lines


def test_bounded_probe_only_in_guards():
    found = [
        f"{path.relative_to(ROOT)}:{line}"
        for path in sorted(PKG.rglob("*.py"))
        if path.resolve() != GUARDS
        for line in _bounded_probes(ast.parse(path.read_text(), filename=str(path)))
    ]
    assert not found, f"bounded probe outside guards.local_rows: {found}"
    assert _bounded_probes(ast.parse(GUARDS.read_text()))


def test_probe_scan_sees_split_lines():
    tree = ast.parse(
        "a = df.limit(cap + 1).collect()\n"
        "b = (df.orderBy('x')\n      .limit(n +\n 1)\n      .collect())\n"
        "c = df.limit(cap).collect()\n"
    )
    assert _bounded_probes(tree) == [1, 2]
