"""Seeded input generators for the benchmark.

Every table is a pure function of ``(seed, table, scale)``: the same
arguments give byte-identical parquet files. The tables (``orders`` and
``events``) follow the schema the engine's operators read (``io.TABLES``;
column names and types as in ``FIXTURES.md``), with the value distributions
of the shipped sf0.1 fixture. ``scale`` is the TPC-style scale factor: ``orders`` has
``1_500_000 * scale`` rows, so ``scale=0.1`` is the sf0.1 size.

Nothing here imports Spark, so generation cost stays outside the program's
measured set-up and the generators can be tested on their own.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def rng_for(seed: int, *parts: object) -> np.random.Generator:
    """Independent stream per (seed, part...): adding a table or a cycle
    never shifts the values of another."""
    h = hashlib.sha256(repr((seed,) + parts).encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def orders_columns(
    r: np.random.Generator, keys: np.ndarray, n_customers: int
) -> dict[str, pa.Array]:
    """Order rows for the given keys (shared by the base table and the
    ``ingest`` update batches, so updates look like the rows they replace)."""
    n = len(keys)
    days = r.integers(0, 2404, n)  # 1995-01-01 .. 2001-08-01
    return {
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_customers, n), pa.int64()),
        "o_orderstatus": np.asarray(("F", "O", "P"))[r.integers(0, 3, n)],
        "o_totalprice": _money(r, 1000.0, 500000.0, n),
        "o_orderdate": _ts(_EPOCH_1995 + days * _US_PER_DAY),
        "o_orderpriority": np.asarray(PRIORITIES)[r.integers(0, 5, n)],
    }


def orders(seed: int, scale: float) -> pa.Table:
    n = int(1_500_000 * scale)
    r = rng_for(seed, "orders")
    return pa.table(orders_columns(r, np.arange(n), int(150_000 * scale)))


def events(seed: int, scale: float) -> pa.Table:
    n = int(1_000_000 * scale)
    r = rng_for(seed, "events")
    ts = np.sort(r.integers(0, 30 * _US_PER_DAY, n)) + _EPOCH_2024
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(r.integers(0, 1500, n), pa.int64()),
        "event_type": np.asarray(EVENT_TYPES)[r.integers(0, 5, n)],
        "value": np.round(r.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
    })


def write(table: pa.Table, path: str) -> int:
    """Write one parquet file with fixed options; returns its size."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def orders_update_batch(
    seed: int, cycle: int, n_keys: int, churn: float, n_customers: int
) -> pa.Table:
    """One ``ingest`` update batch against an orders table holding keys
    ``0 .. n_keys-1``: ``churn`` of the table as changed keys, a fifth of
    that as new keys ``n_keys ..``, and a tenth as in-batch duplicates of
    changed keys (same key twice with another payload, so last-writer-wins
    has to pick one)."""
    r = rng_for(seed, "orders_update", cycle)
    n_changed = int(n_keys * churn)
    changed = r.choice(n_keys, n_changed, replace=False)
    new = np.arange(n_keys, n_keys + n_changed // 5)
    dups = r.choice(changed, n_changed // 10, replace=False)
    keys = np.concatenate([changed, new, dups])
    return pa.table(orders_columns(r, keys, n_customers))
