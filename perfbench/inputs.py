"""Seeded benchmark inputs.

Seed 0 is the committed sf0.01 table set under ``perfbench/data``
unchanged. Any other seed derives a same-distribution copy: every
table's rows are permuted, and every surrogate key is relabelled by a
seeded bijection on its dense range, applied identically to the
primary key and every foreign key that carries it. Derived copies are
written once per seed under the benchmark's cache directory.

The stream workload replays ``events`` split by event time into a
fixed number of parquet files.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BASE_DIR = os.path.join(HERE, "data", "sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# key name -> every (table, column) that carries it
KEYS: dict[str, list[tuple[str, str]]] = {
    "custkey": [("customer", "c_custkey"), ("orders", "o_custkey")],
    "partkey": [("part", "p_partkey"), ("lineitem", "l_partkey")],
    "orderkey": [("orders", "o_orderkey"), ("lineitem", "l_orderkey")],
    "suppkey": [("supplier", "s_suppkey"), ("lineitem", "l_suppkey")],
    "user_id": [("events", "user_id")],
    "event_id": [("events", "event_id")],
    "doc_id": [("documents", "doc_id")],
    "vec_id": [("embeddings", "vec_id")],
}


def derive_tables(
    base: dict[str, pa.Table], seed: int
) -> dict[str, pa.Table]:
    """Permute rows and relabel surrogate keys, deterministically in
    ``seed``. Seed 0 returns ``base`` unchanged."""
    if seed == 0:
        return dict(base)
    rng = np.random.default_rng(seed)
    out = dict(base)
    for cols in KEYS.values():
        hi = max(int(pc.max(base[t][c]).as_py()) for t, c in cols)
        lo = min(int(pc.min(base[t][c]).as_py()) for t, c in cols)
        mapping = lo + rng.permutation(hi - lo + 1)
        for t, c in cols:
            tbl = out[t]
            i = tbl.schema.get_field_index(c)
            col = tbl.column(i)
            vals = col.to_numpy(zero_copy_only=False)
            relabelled = pa.array(mapping[vals - lo], type=col.type)
            out[t] = tbl.set_column(i, tbl.schema.field(i), relabelled)
    for t in TABLES:
        out[t] = out[t].take(rng.permutation(out[t].num_rows))
    return out


def read_tables(sf_dir: str) -> dict[str, pa.Table]:
    return {t: pq.read_table(os.path.join(sf_dir, f"{t}.parquet")) for t in TABLES}


def write_tables(tables: dict[str, pa.Table], sf_dir: str) -> None:
    tmp = sf_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for t, tbl in tables.items():
        pq.write_table(tbl, os.path.join(tmp, f"{t}.parquet"))
    shutil.rmtree(sf_dir, ignore_errors=True)
    os.rename(tmp, sf_dir)


def seeded_sf_dir(seed: int, cache_dir: str) -> str:
    """Directory holding the table set for ``seed``; derives it on
    first use."""
    if seed == 0:
        return BASE_DIR
    sf_dir = os.path.join(cache_dir, f"seed{seed}", "sf")
    if not os.path.isdir(sf_dir):
        write_tables(derive_tables(read_tables(BASE_DIR), seed), sf_dir)
    return sf_dir


def split_events(sf_dir: str, out_dir: str, files: int) -> pa.Table:
    """Write ``events`` ordered by event time into ``files`` parquet
    files (ties broken by event_id) and return the ordered table. The
    timestamps are written UTC-adjusted so the streaming file source
    reads them as TIMESTAMP."""
    ev = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    ev = ev.sort_by([("ts", "ascending"), ("event_id", "ascending")])
    i = ev.schema.get_field_index("ts")
    ev = ev.set_column(
        i, pa.field("ts", pa.timestamp("us", tz="UTC")), ev.column(i).cast(pa.timestamp("us", tz="UTC"))
    )
    ev = ev.replace_schema_metadata(None)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    bounds = np.linspace(0, ev.num_rows, files + 1).astype(int)
    for k in range(files):
        part = ev.slice(bounds[k], bounds[k + 1] - bounds[k])
        pq.write_table(part, os.path.join(out_dir, f"part-{k:04d}.parquet"))
    return ev
