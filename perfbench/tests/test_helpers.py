"""Tests for the benchmark's own helpers. Run from the repository root:

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pytest

from perfbench import inputs, procstat
from perfbench.oracle import canon_result, check
from perfbench.sparkstats import ExecTotals, StageRow, fold_stages
from perfbench.stats import geomean, percentile
from perfbench.trace import Tracer


def _stage(**kw):
    row = dict(
        tasks=4,
        failed_tasks=0,
        run_ms=400.0,
        cpu_ns=2e8,
        gc_ms=10.0,
        shuffle_write_bytes=2 * 1024 * 1024,
        shuffle_read_bytes=1024 * 1024,
        spill_bytes=0.0,
        input_bytes=512 * 1024,
        task_run_median_ms=100.0,
        task_run_max_ms=100.0,
    )
    row.update(kw)
    return StageRow(**row)


def test_fold_stages_sums_and_converts_units():
    t = fold_stages([_stage(), _stage(failed_tasks=1, spill_bytes=3 * 1024 * 1024)], jobs=1)
    assert (t.jobs, t.stages, t.tasks, t.failed_tasks) == (1, 2, 8, 1)
    assert t.executor_run_s == pytest.approx(0.8)
    assert t.executor_cpu_s == pytest.approx(0.4)
    assert t.gc_s == pytest.approx(0.02)
    assert t.shuffle_write_mb == pytest.approx(4.0)
    assert t.shuffle_read_mb == pytest.approx(2.0)
    assert t.spill_mb == pytest.approx(3.0)
    assert t.input_mb == pytest.approx(1.0)


def test_fold_stages_skew_is_worst_stage_and_ignores_tiny_stages():
    rows = [
        _stage(task_run_median_ms=100.0, task_run_max_ms=300.0),
        _stage(task_run_median_ms=50.0, task_run_max_ms=100.0),
        _stage(tasks=2, task_run_median_ms=10.0, task_run_max_ms=1000.0),
    ]
    assert fold_stages(rows, jobs=2).task_skew_max == pytest.approx(3.0)


def test_exec_totals_add_sums_counters_and_maxes_skew():
    a = ExecTotals(jobs=2, tasks=5, shuffle_read_mb=1.5, task_skew_max=2.0)
    a.add(ExecTotals(jobs=1, tasks=3, shuffle_read_mb=0.5, task_skew_max=1.5))
    assert (a.jobs, a.tasks, a.shuffle_read_mb, a.task_skew_max) == (3, 8, 2.0, 2.0)


def test_check_compares_oracle_results_order_insensitively():
    expected = {"q": canon_result(["b", "a"], [(2.0000001, 1), (4.0, 3)])}
    assert check("q", ["a", "b"], [(3, 4.0), (1, 2.0)], expected, None) is None
    assert check("q", ["a", "b"], [(3, 4.5), (1, 2.0)], expected, None) == "rows differ (2 vs 2)"
    assert check("q", ["a", "c"], [(3, 4.0), (1, 2.0)], expected, None).startswith("columns")


def test_check_rows_only_needs_rows_and_columns():
    assert check("r", ["N"], [(7,)], {}, ["n"]) is None
    assert check("r", ["n"], [], {}, ["n"]) == "empty result"
    assert check("r", ["m"], [(7,)], {}, ["n"]).startswith("columns")


def _stat_line(pid, comm, ppid, utime, stime, cutime=0, cstime=0):
    # fields after comm: state ppid pgrp session tty tpgid flags minflt
    # cminflt majflt cmajflt utime stime cutime cstime ...
    rest = ["S", ppid, 0, 0, 0, 0, 0, 0, 0, 0, 0, utime, stime, cutime, cstime, 20, 0]
    return f"{pid} ({comm}) " + " ".join(map(str, rest))


def test_parse_stat_handles_parentheses_in_comm():
    p = procstat.parse_stat(_stat_line(42, "we(ird) name", 7, 10, 5, 2, 1))
    assert (p.pid, p.ppid, p.comm, p.cpu_ticks) == (42, 7, "we(ird) name", 18)


def test_cpu_split_by_process_role():
    tck = procstat.CLK_TCK
    lines = [
        _stat_line(10, "python3", 1, 2 * tck, 0),  # driver
        _stat_line(11, "bash", 10, 0, 0),  # launcher
        _stat_line(12, "java", 11, 30 * tck, 5 * tck),
        _stat_line(13, "python3", 12, tck, 0, 3 * tck, 0),  # daemon + reaped workers
        _stat_line(14, "python3", 13, tck, tck),  # live worker
        _stat_line(99, "java", 1, 100 * tck, 0),  # outside the tree
    ]
    procs = {p.pid: p for p in map(procstat.parse_stat, lines)}
    split = procstat.cpu_split(procs, 10)
    assert split == pytest.approx({"driver": 2.0, "jvm": 35.0, "python": 6.0, "other": 0.0})


def test_cpu_split_of_this_process_is_live():
    split = procstat.cpu_split(procstat.read_procs(), os.getpid())
    assert split["driver"] > 0


def test_percentile_interpolates_and_counts_samples():
    assert percentile([3.0, 1.0, 2.0, 4.0], 50) == (2.5, 4)
    assert percentile([10.0], 90) == (10.0, 1)
    p90, n = percentile(list(map(float, range(1, 11))), 90)
    assert (p90, n) == (pytest.approx(9.1), 10)
    with pytest.raises(ValueError):
        percentile([], 50)


def test_geomean():
    assert geomean([1.0, 4.0]) == pytest.approx(2.0)
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])


@pytest.fixture(scope="module")
def base_tables():
    return inputs.read_tables(inputs.BASE_DIR)


def _join_count(tables, left, lcol, right, rcol):
    joined = tables[left].select([lcol]).join(
        tables[right].select([rcol]), keys=lcol, right_keys=rcol, join_type="inner"
    )
    return joined.num_rows


def test_seed_zero_is_the_committed_data(base_tables):
    assert inputs.derive_tables(base_tables, 0) == base_tables


def test_same_seed_gives_identical_tables(base_tables):
    a = inputs.derive_tables(base_tables, 5)
    b = inputs.derive_tables(base_tables, 5)
    c = inputs.derive_tables(base_tables, 6)
    assert all(a[t].equals(b[t]) for t in inputs.TABLES)
    assert not a["orders"].equals(c["orders"])


def test_derivation_keeps_distribution_and_foreign_keys(base_tables):
    d = inputs.derive_tables(base_tables, 3)
    for t in inputs.TABLES:
        assert d[t].num_rows == base_tables[t].num_rows
        assert d[t].schema == base_tables[t].schema
    # rows were permuted and keys relabelled
    assert not d["customer"].column("c_custkey").equals(base_tables["customer"].column("c_custkey"))
    # a relabelling is a bijection: the primary key (listed first) keeps
    # its value set, every column keeps its frequency profile
    for cols in inputs.KEYS.values():
        pt, pcol = cols[0]
        assert set(d[pt].column(pcol).to_numpy()) == set(base_tables[pt].column(pcol).to_numpy())
        for t, c in cols:
            got, want = d[t].column(c).to_numpy(), base_tables[t].column(c).to_numpy()
            assert np.array_equal(
                np.sort(np.unique(got, return_counts=True)[1]),
                np.sort(np.unique(want, return_counts=True)[1]),
            )
    for left, lcol, right, rcol in [
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ]:
        assert _join_count(d, left, lcol, right, rcol) == _join_count(
            base_tables, left, lcol, right, rcol
        )
    # a foreign key still points at the same (relabelled) parent row
    base_o = base_tables["orders"].sort_by("o_orderkey")
    base_c = base_tables["customer"]
    nation_of = dict(zip(base_c["c_custkey"].to_pylist(), base_c["c_nationkey"].to_pylist()))
    want = sorted(zip(base_o["o_totalprice"].to_pylist(), map(nation_of.get, base_o["o_custkey"].to_pylist())))
    dc = d["customer"]
    nation_of_d = dict(zip(dc["c_custkey"].to_pylist(), dc["c_nationkey"].to_pylist()))
    do = d["orders"]
    got = sorted(zip(do["o_totalprice"].to_pylist(), map(nation_of_d.get, do["o_custkey"].to_pylist())))
    assert got == want


def test_split_events_orders_by_time(tmp_path):
    ev = inputs.split_events(inputs.BASE_DIR, str(tmp_path / "split"), 4)
    files = sorted(os.listdir(tmp_path / "split"))
    assert len(files) == 4
    ts = ev.column("ts").cast(pa.int64()).to_numpy()
    assert np.all(np.diff(ts) >= 0)
    assert ev.schema.field("ts").type == pa.timestamp("us", tz="UTC")
    assert pc.sum(ev.column("user_id")).as_py() > 0


class _Clock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_span_self_time_subtracts_direct_children():
    clock = _Clock()
    tr = Tracer("run", clock=clock)
    outer = tr.open("q", "queries")
    clock.t = 1.0
    inner = tr.open("op", "operators.x")
    clock.t = 1.5
    leaf = tr.open("load", "sources")
    clock.t = 2.5
    tr.close(leaf)
    clock.t = 3.0
    tr.close(inner)
    clock.t = 4.0
    tr.close(outer)
    assert outer.dur == 4.0 and outer.self_s == pytest.approx(2.0)
    assert inner.self_s == pytest.approx(1.0)
    assert leaf.self_s == pytest.approx(1.0) and leaf.parent == inner.id
    assert tr.layer_totals()["sources"] == (1, pytest.approx(1.0))
    assert set(tr.layer_totals(first=2)) == {"sources"}


def test_instrument_module_patches_import_time_bindings():
    import types

    mod = types.ModuleType("fake_layer")
    exec("def public(x):\n    return helper(x) + 1\n\ndef helper(x):\n    return x * 2\n", mod.__dict__)
    caller = types.ModuleType("fake_caller")
    caller.public = mod.public
    tr = Tracer("run")
    assert tr.instrument_module(mod, "layer", also=(caller,)) == 2
    assert caller.public(3) == 7
    assert [s.name for s in tr.spans] == ["layer.public", "layer.helper"]
    assert tr.spans[1].parent == tr.spans[0].id
