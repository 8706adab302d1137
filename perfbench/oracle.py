"""Correctness expectations for the batch workload.

Oracle-backed queries are compared with the engine's DuckDB oracle
SQL run over the same (seeded) tables: same column names, same rows,
order-insensitive, floats rounded to 6 places. Queries without an
oracle must return a non-empty result with the expected columns.
Expectations are computed once per seed and cached.
"""

from __future__ import annotations

import math
import os
import pickle

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    return v


def canon_result(cols: list[str], rows) -> tuple[tuple[str, ...], list[tuple]]:
    """Column-order- and row-order-insensitive form of a result."""
    lower = [c.lower() for c in cols]
    order = sorted(range(len(lower)), key=lambda i: lower[i])
    body = sorted((tuple(canon(r[i]) for i in order) for r in rows), key=repr)
    return tuple(lower[i] for i in order), body


def duckdb_expectations(sf_dir: str, names: list[str], oracles: dict[str, str]) -> dict:
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    out = {}
    for name in names:
        if name not in oracles:
            continue
        res = con.execute(oracles[name])
        out[name] = canon_result([d[0] for d in res.description], res.fetchall())
    con.close()
    return out


def cached_expectations(
    cache_path: str, sf_dir: str, names: list[str], oracles: dict[str, str]
) -> dict:
    if os.path.exists(cache_path):
        with open(cache_path, "rb") as fh:
            cached = pickle.load(fh)
        if set(cached) == {n for n in names if n in oracles}:
            return cached
    exp = duckdb_expectations(sf_dir, names, oracles)
    os.makedirs(os.path.dirname(cache_path), exist_ok=True)
    tmp = cache_path + ".tmp"
    with open(tmp, "wb") as fh:
        pickle.dump(exp, fh)
    os.replace(tmp, cache_path)
    return exp


def check(name: str, cols: list[str], rows, expected: dict, rows_only_cols: list[str] | None) -> str | None:
    """None when the result is correct, else a one-line reason. Queries
    without an entry in ``expected`` are checked against
    ``rows_only_cols``."""
    if name in expected:
        got = canon_result(cols, rows)
        want = expected[name]
        if got[0] != want[0]:
            return f"columns {got[0]} != {want[0]}"
        if got[1] != want[1]:
            return f"rows differ ({len(got[1])} vs {len(want[1])})"
        return None
    if not rows:
        return "empty result"
    if [c.lower() for c in cols] != rows_only_cols:
        return f"columns {cols} != {rows_only_cols}"
    return None
