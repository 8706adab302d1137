#!/usr/bin/env python
"""Benchmark harness: runs every registered query at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is timed end-to-end (plan + execute + collect) and runs
inside its own try/except: one failing query records an error entry
instead of destroying the whole run, and a dead JVM (py4j connection
loss) triggers a session restart before the next query. A warmup run
of the flagship query absorbs JVM/codegen startup so per-query
numbers reflect steady-state execution.
"""

from __future__ import annotations

import gc
import json
import os
import re
import sys
import time
import traceback

# Session recycle cadence, in timed executions (see _Sessions).
RESTART_EVERY = 16
# Queries whose first run takes at least MEDIAN_MIN_SEC re-run to
# HEAVY_REPS samples in total and report the median; BUDGET_SEC caps
# the wall time of those re-runs.
MEDIAN_MIN_SEC = 1.0
HEAVY_REPS = 3
BUDGET_SEC = 1500.0
# Line shaping (render_line): at most SPREAD_TOP spread entries, for
# rows of at least SPREAD_MIN_SEC, in a line of at most LINE_BUDGET
# bytes (the driver captures only the last ~2000 bytes of stdout).
SPREAD_TOP = 64
LINE_BUDGET = 1900
SPREAD_MIN_SEC = 3.0


def _alive(spark) -> bool:
    try:
        spark.sql("SELECT 1").collect()
        return True
    except Exception:
        return False


def _tree_cpu_sec() -> float | None:
    """CPU seconds (utime+stime) summed over this process and every
    LIVE descendant, via /proc. In local mode the whole engine is the
    bench's process tree — the JVM (executors are its threads) plus
    the pyspark daemon/worker processes that run Arrow UDF stages —
    so the per-query CPU delta is a load-insensitive second signal
    next to wall-clock: a co-tenant burst inflates wall 2-5x while
    CPU barely moves, a real plan regression moves both. Sidecar-only
    (r13) — round-over-round drift adjudication kept needing matched
    re-runs because wall was the only record. (JMX getProcessCpuTime
    was the first cut; Java 17 module encapsulation blocks py4j's
    reflective dispatch on the internal bean class.) Linux-only; any
    failure degrades to None and the sidecar simply omits the row."""
    try:
        procs: dict[int, tuple[int, int]] = {}
        for pid_s in os.listdir("/proc"):
            if not pid_s.isdigit():
                continue
            try:
                with open(f"/proc/{pid_s}/stat", "rb") as fh:
                    stat = fh.read().decode("ascii", "replace")
            except OSError:
                continue  # raced a process exit
            rest = stat[stat.rindex(")") + 2 :].split()
            procs[int(pid_s)] = (int(rest[1]), int(rest[11]) + int(rest[12]))
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _) in procs.items():
            kids.setdefault(ppid, []).append(pid)
        total, stack, seen = 0, [os.getpid()], set()
        while stack:
            pid = stack.pop()
            if pid in seen or pid not in procs:
                continue
            seen.add(pid)
            total += procs[pid][1]
            stack.extend(kids.get(pid, ()))
        return total / os.sysconf("SC_CLK_TCK")
    except Exception:
        return None


def _cpu_delta(c0: float | None, c1: float | None) -> float | None:
    """Paired CPU delta or None — ONE entry per wall sample, so
    ``cpu_sec[q][i]`` always pairs with ``samples[q][i]`` (a skipped
    append would silently shift the pairing for every later sample).
    None marks an unusable reading: a /proc miss at either endpoint,
    or a NEGATIVE delta — a pyspark worker that died mid-query takes
    its accumulated utime out of the live tree, so the delta is
    garbage, not zero."""
    if c0 is None or c1 is None:
        return None
    d = round(c1 - c0, 2)
    return d if d >= 0 else None


def _anchor_query(spark, sf_dir: str):
    """Calibration anchor (r16 verdict task 2): a CODE-FROZEN copy of
    the flagship plan, deliberately NOT imported from the registry so
    no engine change can ever move it — its round-over-round ratio
    measures the BOX, not the code. Six same-code r16 officials
    spanned 310-359 s (±8%) purely on box drift; scripts/bench_drift
    divides every query's wall ratio by the anchor's before flagging,
    so uniform environmental drift normalizes out and a real plan
    regression still shows. The anchor's plan shape matches the
    session warmup (the registry flagship), so its samples are
    steady-state codegen, not first-compile noise."""
    from pyspark.sql import functions as F

    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_partkey", "l_extendedprice"
    )
    part = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        "p_partkey", "p_type"
    )
    return (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .select(
            F.explode(F.split("p_type", " ")).alias("category"),
            "l_extendedprice",
        )
        .groupBy("category")
        .agg(
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy(F.col("avg_price").desc(), F.col("category").asc())
        .limit(10)
    )


class _Sessions:
    """The bench's one live Spark session and every timed execution in
    it. Recycle the session every RESTART_EVERY executions: one local
    JVM accumulating 60+ queries' generated classes, broadcasts, and
    shuffle state measures late queries 2-5x slower than the same
    query in a fresh session (metaspace/GC pressure, not plan cost).
    The reference's scripts each ran as their own process; a
    periodically fresh session is the comparable condition. Restart
    + warmup time is NOT counted against any query."""

    def __init__(self, sf_dir: str):
        self.sf_dir = sf_dir
        self.spark = self._start()
        # sidecar-only, see _tree_cpu_sec; entries are None (JSON null)
        # when the paired CPU reading was unusable (_cpu_delta)
        self.cpu_sec: dict[str, list[float | None]] = {}
        # sidecar-only (r14 verdict task 4): [session ordinal, 1-based
        # execution index within that recycled JVM session] per sample,
        # appended in lockstep with cpu_sec. A query's first
        # executions in a fresh session measure codegen/JIT at 1.5-2x
        # wall AND cpu (r14: betweenness 9.0 -> 4.9 -> 3.7 s consecutive
        # in ONE session), and roster growth shifts every session
        # boundary — so drift adjudication needs to know WHERE in its
        # session each sample ran; scripts/bench_drift.py auto-annotates
        # flags whose inflated samples are early-in-session.
        self.positions: dict[str, list[list[int]]] = {}
        self.session_idx = 0
        self.since_restart = 0

    def _start(self):
        from data_mining_map_reduce_spark.queries import SPARK_QUERIES
        from data_mining_map_reduce_spark.session import get_spark

        spark = get_spark(app_name="bench")
        # Warmup: JVM JIT + codegen + parquet footer caches.
        try:
            SPARK_QUERIES["flagship_category_avg"](spark, self.sf_dir).collect()
            spark.catalog.clearCache()
        except Exception:
            pass
        return spark

    def _restart(self) -> None:
        try:
            self.spark.stop()
        except Exception:
            pass
        gc.collect()
        self.spark = self._start()

    def timed(self, name: str, fn) -> tuple[float | None, str | None]:
        """Run ``fn(spark, sf_dir).collect()`` once: (wall, None) on
        success, (None, error) on failure — a failure never escapes,
        and one that killed the JVM restarts the session."""
        if self.since_restart >= RESTART_EVERY:
            self.since_restart = 0
            self.session_idx += 1
            self._restart()
        self.since_restart += 1
        t0 = time.perf_counter()
        c0 = _tree_cpu_sec()
        try:
            fn(self.spark, self.sf_dir).collect()
            wall = round(time.perf_counter() - t0, 4)
            self.cpu_sec.setdefault(name, []).append(
                _cpu_delta(c0, _tree_cpu_sec())
            )
            self.positions.setdefault(name, []).append(
                [self.session_idx, self.since_restart]
            )
            # Several operators legitimately cache intermediates whose
            # lifetime is the caller's collect (SON partitions, CF
            # ratings, graph edge sets). Drop them so query N's leftovers
            # never contaminate query N+1's measurement. The gc.collect
            # releases py4j handles so the JVM ContextCleaner can drop
            # the matching broadcasts/shuffle state — without it, 60+
            # queries of leftovers pile up in the single local JVM and
            # late queries measure GC pressure, not their own plan.
            self.spark.catalog.clearCache()
            gc.collect()
            return wall, None
        except Exception as exc:  # noqa: BLE001 — bench must survive anything
            err = f"{type(exc).__name__}: {exc}"[:300]
            print(
                f"[bench] {name} FAILED after "
                f"{time.perf_counter() - t0:.1f}s: {err}",
                file=sys.stderr,
            )
            traceback.print_exc(file=sys.stderr)
            if not _alive(self.spark):
                print(f"[bench] JVM dead after {name}; restarting", file=sys.stderr)
                self._restart()
            return None, err


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    from data_mining_map_reduce_spark.queries import SPARK_QUERIES

    sessions = _Sessions(sf_dir)

    # anchor samples (open / middle / close — see _anchor_query);
    # sidecar-only, never part of "queries" or the total
    anchor_walls: list[float] = []
    anchor_cpus: list[float | None] = []

    def _run_anchor() -> None:
        t0 = time.perf_counter()
        c0 = _tree_cpu_sec()
        try:
            _anchor_query(sessions.spark, sf_dir).collect()
            anchor_walls.append(round(time.perf_counter() - t0, 4))
            anchor_cpus.append(_cpu_delta(c0, _tree_cpu_sec()))
        except Exception as exc:  # noqa: BLE001 — anchor must not kill the run
            print(f"[bench] anchor run failed: {exc}", file=sys.stderr)

    _run_anchor()  # session open

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    anchor_mid_at = len(SPARK_QUERIES) // 2
    for qi, (name, fn) in enumerate(sorted(SPARK_QUERIES.items())):
        if qi == anchor_mid_at:
            _run_anchor()  # session middle
        wall, err = sessions.timed(name, fn)
        if err is None:
            timings[name] = wall
        else:
            errors[name] = err

    # Noise stabilization: shared-box variance polluted r4->r6
    # round-over-round comparisons (five r6 queries "regressed" 2-5x
    # with zero code change; top-10-only medians buried whether
    # k-means++ actually paid). Re-run EVERY query above the threshold
    # twice more and report the MEDIAN of 3 — sub-threshold queries
    # keep their single-run number (noise there is absolute-small).
    # Structure matters as much as the count: the box's noise arrives
    # as MINUTES-LONG co-tenant bursts (measured: isolated 5-rep runs
    # of the same heavy query are flat at ~9.5 s while a burst window
    # inflates everything 2-3x), so back-to-back reps would put both
    # extra samples inside the same burst and the median would follow
    # them. Instead the re-runs happen as FULL PASSES over the heavy
    # list (pass 1 of everything, then pass 2), minutes apart, so at
    # most one of the three samples lands in any one burst. Sessions
    # recycle on execution count, same cadence as the first pass.
    heavy = [
        name
        for name in sorted(timings, key=timings.get, reverse=True)
        if timings[name] >= MEDIAN_MIN_SEC
    ]
    # Global wall budget: a co-tenant burst can stretch a rep pass
    # 2-3x, and an external caller may kill a bench that runs too
    # long — losing the whole JSON line. When the budget is hit the
    # remaining re-runs are skipped and each query reports the median
    # of the samples it HAS (1 or 2), which degrades precision, not
    # the artifact.
    t_budget0 = time.perf_counter()
    samples: dict[str, list[float]] = {name: [timings[name]] for name in heavy}
    if heavy and HEAVY_REPS > 1:
        sessions.since_restart = RESTART_EVERY  # force a fresh session up front
        for _pass in range(HEAVY_REPS - 1):
            if time.perf_counter() - t_budget0 > BUDGET_SEC:
                break
            for name in heavy:
                if time.perf_counter() - t_budget0 > BUDGET_SEC:
                    print(
                        f"[bench] budget {BUDGET_SEC}s hit; skipping remaining re-runs",
                        file=sys.stderr,
                    )
                    break
                wall, _err = sessions.timed(name, SPARK_QUERIES[name])
                if wall is not None:
                    samples[name].append(wall)
        for name in heavy:
            ss = sorted(samples[name])
            n = len(ss)
            if n % 2:
                timings[name] = ss[n // 2]
            else:
                # even count (a re-run failed): true median, not the
                # upper-middle element — picking index n//2 of two
                # samples would report the MAX and bias upward
                timings[name] = round((ss[n // 2 - 1] + ss[n // 2]) / 2, 4)
            print(
                f"[bench] {name} samples={ss} -> median {timings[name]}",
                file=sys.stderr,
            )

    _run_anchor()  # session close
    if anchor_walls:
        print(f"[bench] anchor samples={anchor_walls}", file=sys.stderr)

    # Spread for the official artifact (r11 verdict ask 6): BENCH_NOTES
    # twice needed matched-session re-runs to separate box drift from
    # code because the JSON carried only the point estimate. The
    # per-query [min, max] next to the median in "queries" makes the
    # round-over-round delta attribution data, not prose. The full-
    # precision samples also land in BENCH_SPREAD.json next to this
    # script (the stdout line has a hard byte budget; the sidecar
    # doesn't).
    try:
        # The committed BENCH_SPREAD.json is the OFFICIAL record, written
        # only by a run at the official SF; anything else (a smoke or
        # debug run) lands in BENCH_SPREAD.local.json (gitignored) so it
        # can never clobber the committed file.
        at_official_sf = os.path.realpath(sf_dir) == os.path.realpath(
            "/root/testdata/sf0.1"
        )
        sidecar = os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "BENCH_SPREAD.json" if at_official_sf else "BENCH_SPREAD.local.json",
        )
        with open(sidecar, "w") as fh:
            json.dump(
                {
                    "sf": sf,
                    "samples": samples,
                    "cpu_sec": sessions.cpu_sec,
                    "positions": sessions.positions,
                    "errors": errors,
                    # open/middle/close walls of the code-frozen
                    # calibration plan (_anchor_query) — the box-drift
                    # denominator scripts/bench_drift.py normalizes by
                    "anchor": {"samples": anchor_walls, "cpu_sec": anchor_cpus},
                },
                fh,
                indent=1,
            )
    except OSError as exc:  # read-only checkout must not kill the line
        print(f"[bench] sidecar write failed: {exc}", file=sys.stderr)
    print("[bench] full detail: " + json.dumps({"queries": timings, "errors": errors}),
          file=sys.stderr)
    print(render_line(timings, errors, sf, samples, anchor=anchor_walls))
    try:
        sessions.spark.stop()
    except Exception:
        pass


def render_line(
    timings: dict[str, float],
    errors: dict[str, str],
    sf: float | None,
    samples: dict[str, list[float]] | None = None,
    spread_top: int = SPREAD_TOP,
    budget: int = LINE_BUDGET,
    spread_min_sec: float = SPREAD_MIN_SEC,
    anchor: list[float] | None = None,
) -> str:
    """Render the single driver-facing JSON line.

    "anchor" (r18, VERDICT task 8) carries the code-frozen calibration
    plan's [open, middle, close] walls (1-decimal) IN the line —
    additions-only, ~30 bytes — so a burst-contended official is
    self-evident in the driver's artifact (the r17 official carried a
    63.7 s ann_recall sample with nothing in the line to flag it; the
    anchor reached only the sidecar). Never enters "queries" or the
    total; the fold cascade already guarantees the byte budget.

    The driver captures only the LAST ~2000 bytes of stdout; a line
    longer than that loses its head (r3: "parsed": null), so the line
    is compacted to ``budget`` bytes: 1-decimal timings, no spaces;
    over budget, the smallest timings fold into an "other" bucket
    first (sub-second rows are noise-dominated — their point estimate
    is worth less than a heavy row's spread), then spread entries
    shed cheapest-first, then (r13, advisor ask: the budget is a HARD
    guarantee) the formerly spread-exempt rows fold too, and as the
    last resort error messages shrink and drop into an
    "errors_dropped" count — the sidecar keeps every sample and full
    error text regardless.

    "spread" carries [min, max] for every multi-sampled query whose
    median is at least ``spread_min_sec`` (r12 covered only the 8
    heaviest; the r12 verdict's drift adjudication needed prose for
    the mid-weight rows), up to ``spread_top`` entries — min/max only
    because the median IS the "queries" value; repeating it would
    spend line budget on redundancy.

    Spread keys are POSITIONS, not names (r14): each key is the
    0-based index of the query in the rendered "queries" object's key
    order, as a decimal string — ``"spread":{"3":[4.1,4.6]}`` means
    the 4th "queries" entry ran [4.1, 4.6] across samples. Why: at
    r13's roster (35 rows >= 3 s, avg name ~22 chars) name-keyed
    spread costs ~36 bytes/entry and 9 obligated rows shed against
    the 1900-byte line budget (the driver's stdout capture is a hard
    2000); index keys cost ~17, so every >= 3 s row now fits with
    room to spare (r13 verdict task 5). The committed
    BENCH_SPREAD.json sidecar keeps full name-keyed samples — the
    line encoding only exists to squeeze the official artifact."""
    total = round(sum(timings.values()), 2)

    def _num(x: float):
        # integral values render "7" not "7.0" — ~2 bytes per value,
        # worth several spread entries across a ~130-number line
        r = round(x, 1)
        return int(r) if r == int(r) else r

    spread = {
        name: [_num(min(ss)), _num(max(ss))]
        for name, ss in sorted(
            (samples or {}).items(), key=lambda kv: -timings[kv[0]]
        )[:spread_top]
        if len(ss) > 1 and timings[name] >= spread_min_sec
    }

    errs = {k: v[:80] for k, v in errors.items()}
    errs_dropped = 0

    def render(qdict: dict[str, float]) -> str:
        out = {
            "metric": "total_query_wall",
            "value": total,
            "unit": "sec",
            "sf": sf,
            "queries": qdict,
        }
        if anchor:
            out["anchor"] = [_num(x) for x in anchor]
        if spread:
            # positional keys (see docstring); a name that fell out of
            # qdict (tiny-budget fold paths) keeps its full name so the
            # entry stays decodable rather than dangling
            pos = {name: i for i, name in enumerate(qdict)}
            out["spread"] = {
                str(pos.get(name, name)): mm for name, mm in spread.items()
            }
        if errs:
            out["errors"] = errs
        if errs_dropped:
            out["errors_dropped"] = errs_dropped
        return json.dumps(out, separators=(",", ":"))

    compact = {k: _num(v) for k, v in timings.items()}
    line = render(compact)
    folded = 0.0
    if len(line) > budget:
        by_cost = sorted(
            (k for k in compact if k not in spread),
            key=lambda k: (compact[k], k),
        )
        while len(line) > budget and by_cost:
            k = by_cost.pop(0)
            folded += compact.pop(k)
            compact["other"] = _num(folded)
            line = render(compact)
    if len(line) > budget:
        # folding exhausted: shed spread entries, NARROWEST first
        # (r13): the field exists to adjudicate round-over-round
        # drift, and a [5.8, 5.9] band carries no signal while a
        # [12.8, 17.0] one is the whole story — keep the wide ones.
        # Ties break toward shedding the cheaper row.
        by_info = sorted(
            spread, key=lambda k: (spread[k][1] - spread[k][0], timings[k], k)
        )
        while len(line) > budget and by_info:
            spread.pop(by_info.pop(0))
            line = render(compact)
    if len(line) > budget:
        # spread fully shed but the line still overflows: fold the
        # formerly spread-exempt rows too (cheapest first), so the
        # budget holds unconditionally — a too-long line loses its
        # HEAD in the driver capture, the exact failure the budget
        # exists to prevent
        by_cost = sorted(
            (k for k in compact if k != "other"),
            key=lambda k: (compact[k], k),
        )
        while len(line) > budget and by_cost:
            k = by_cost.pop(0)
            folded += compact.pop(k)
            compact["other"] = _num(folded)
            line = render(compact)
    if len(line) > budget and errs:
        # last exempt field: a many-failure run can overflow on the
        # errors dict alone (each entry ~name + 80B message). Shed
        # messages longest-first down to a bare name marker, then
        # drop whole entries, keeping a count — the driver must still
        # SEE that queries failed even when it can't see every one.
        for k in sorted(errs, key=lambda k: -len(errs[k])):
            if len(line) <= budget:
                break
            errs[k] = errs[k][:20]
            line = render(compact)
        for k in sorted(errs, key=lambda k: (-len(k), k)):
            if len(line) <= budget:
                break
            errs.pop(k)
            errs_dropped += 1
            line = render(compact)
    return line


if __name__ == "__main__":
    sys.exit(main())
