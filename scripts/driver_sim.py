#!/usr/bin/env python
"""Driver simulation — the project verify recipe.

Consumes __spark_entry__ exactly as the driver does: plain
SparkSession (no engine defaults), entry() smoke, every queries()
entry vs its oracle_sql() in DuckDB at sf0.01 (override with
SPARK_GRAFT_SF_DIR), order-insensitive compare. Exits non-zero on any
mismatch.

Usage: python scripts/driver_sim.py [query_name ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb
from pyspark.sql import SparkSession

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(canon(x) for x in v)
    return v


def main() -> int:
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    only = set(sys.argv[1:])

    # Scale-run knobs (r8 verdict item 3): the sf1 co-occurrence graph
    # build GC-OOMs a default-heap driver, so scale runs need explicit
    # headroom, e.g.
    #   SPARK_GRAFT_SF_DIR=$PWD/scaledata/sf1 SPARK_GRAFT_DRIVER_MEM=16g \
    #   SPARK_GRAFT_SIM_CPUS=16 SPARK_GRAFT_SIM_PARTS=32 \
    #   python scripts/driver_sim.py <linear-oracle queries...>
    # Defaults keep the historical sf0.01 verify recipe byte-identical.
    cpus = os.environ.get("SPARK_GRAFT_SIM_CPUS", "8")
    parts = os.environ.get("SPARK_GRAFT_SIM_PARTS", "8")
    # SPARK_GRAFT_SKIP_ORACLE=1 runs every selected query Spark-side
    # only (rows + wall time, no DuckDB replay). Scale runs need this
    # for queries whose *oracles* are deliberately quadratic (all-pairs
    # similarity twins, recursive-CTE connected components): the Spark
    # side scales, the DuckDB check does not.
    skip_oracle = os.environ.get("SPARK_GRAFT_SKIP_ORACLE") == "1"
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", parts)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .appName("driver-sim")
    )
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if mem:  # must be set before the JVM launches
        builder = builder.config("spark.driver.memory", mem)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as e

    df = e.entry(spark)
    n = len(df.collect())
    print(f"entry(): rows={n}")
    assert n > 0

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")

    qs, oracles = e.queries(), e.oracle_sql()
    fails = []
    t_start = time.perf_counter()
    for name in sorted(qs):
        if only and name not in only:
            continue
        t0 = time.perf_counter()
        sdf = qs[name](spark, sf)
        scols = [c.lower() for c in sdf.columns]
        srows = [tuple(r) for r in sdf.collect()]
        dt = time.perf_counter() - t0
        if skip_oracle or name not in oracles:
            print(f"  {name}: rows-only, {len(srows)} rows [{dt:.1f}s]", flush=True)
            continue
        res = con.execute(oracles[name])
        dcols = [d[0].lower() for d in res.description]
        drows = res.fetchall()
        so = sorted(range(len(scols)), key=lambda i: scols[i])
        do = sorted(range(len(dcols)), key=lambda i: dcols[i])
        sset = sorted((tuple(canon(r[i]) for i in so) for r in srows), key=repr)
        dset = sorted((tuple(canon(r[i]) for i in do) for r in drows), key=repr)
        ok = sorted(scols) == sorted(dcols) and sset == dset
        dt = time.perf_counter() - t0
        print(f"  {name}: {'OK' if ok else 'MISMATCH'} rows={len(srows)} [{dt:.1f}s]", flush=True)
        if not ok:
            fails.append(name)
            for a, b in list(zip(sset, dset))[:3]:
                if a != b:
                    print("    spark:", a)
                    print("    duck :", b)
    print(f"total query wall: {time.perf_counter() - t_start:.1f}s")
    print("FAILS:", fails if fails else "none")
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
