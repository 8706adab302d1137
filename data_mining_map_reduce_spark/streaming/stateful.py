"""Custom stateful streaming via applyInPandasWithState (ST8).

The reference's only stateful stream operator is a single GLOBAL
reservoir updated in a tweepy callback on the driver (reference
Assignment6/task3.py:38-78) — driver-sequential by construction.
This module carries the same update rule to the engine's scale shape:
ONE reservoir PER KEY, held as Structured Streaming per-group state
(``applyInPandasWithState``), updated inside Arrow-batched executors.
State is partitioned by key across the cluster and checkpointed by
the engine; nothing sequential touches the driver. A per-key uniform
sample is not expressible with built-in streaming aggregates
(collect_list has no eviction; sampling needs arbitrary state), which
is exactly the gap applyInPandasWithState exists to fill.

Determinism contract: randomness is hash-derived — u(n) =
blake2b(key, n, seed) scaled to [0, 1) (stdlib hashlib; see
``_u01``) — instead of a stateful RNG,
so a replayed micro-batch (or a recomputed task) makes identical
keep/evict decisions; rows are folded in (ts, item) order within each
group-batch so arrival order is pinned under availableNow replay.
A TIMESTAMP order column reaches the Python worker as epoch
microseconds (``unix_micros``, bigint), so each key's fold order is
one ``numpy.lexsort`` over two integer arrays; null order values fold
last, ties among them broken by item as for any other order value.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

_MASK = (1 << 63) - 1


def _u01(*parts: Any) -> float:
    """Deterministic uniform [0,1) from the tuple of parts (blake2b
    of the string form — stdlib, driver- and executor-stable; no
    PYTHONHASHSEED dependence)."""
    import hashlib

    h = hashlib.blake2b(
        "\x1f".join(map(str, parts)).encode(), digest_size=8
    ).digest()
    return (int.from_bytes(h, "big") & _MASK) / float(_MASK + 1)


def _fold_batch(
    k: Any,
    n: int,
    items: list[int],
    order: np.ndarray,
    batch_items: np.ndarray,
    capacity: int,
    seed: int,
) -> int:
    """The per-key update rule: first ``capacity`` items fill the
    reservoir; the n-th item is kept with probability capacity/n,
    evicting a uniform slot (Assignment6/task3.py:52-60); randomness
    hash-derived, ``batch_items`` folded in (order, item) order with
    null (NaN) order values last."""
    for item in batch_items[np.lexsort((batch_items, order))].tolist():
        n += 1
        if len(items) < capacity:
            items.append(item)
        elif _u01(k, n, seed, "keep") < capacity / n:
            items[int(_u01(k, n, seed, "slot") * capacity)] = item
    return n


def keyed_reservoir(
    stream: DataFrame,
    key_col: str = "user_id",
    item_col: str = "event_id",
    order_col: str = "ts",
    capacity: int = 32,
    seed: int = 7,
) -> DataFrame:
    """Per-key streaming reservoir sample. Output (update mode): one
    row per key per micro-batch — (key, n_seen, sample array) with
    the reservoir AFTER folding that batch in; the last row per key
    after a bounded replay is the full-stream sample.

    Update rule per item: see ``_fold_batch``.
    """

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (k,) = key
        if state.exists:
            prior = state.get
            n, items = int(prior[0]), list(prior[1])
        else:
            n, items = 0, []
        for pdf in pdfs:
            n = _fold_batch(
                k, n, items, pdf[order_col].to_numpy(), pdf[item_col].to_numpy(),
                capacity, seed,
            )
        state.update((n, items))
        yield pd.DataFrame({key_col: [k], "n_seen": [n], "sample": [list(items)]})

    order = F.col(order_col)
    if isinstance(stream.schema[order_col].dataType, T.TimestampType):
        order = F.unix_micros(order)
    return (
        stream.select(key_col, item_col, order.alias(order_col))
        .groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=(
                f"{key_col} bigint, n_seen bigint, sample array<bigint>"
            ),
            stateStructType="n bigint, items array<bigint>",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )

