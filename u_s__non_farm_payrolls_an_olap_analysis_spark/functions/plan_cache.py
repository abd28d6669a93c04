"""Analyzed-plan reuse for pure read-only operators.

Measured round 4/5 (BENCH decomposition, `BASELINE.md`): a headline query
at sf0.1 spends 19-45 ms executing and 50-180 ms BUILDING the DataFrame —
py4j round-trips for every Column expression plus Catalyst re-analysis of
an identical tree on every invocation. That cost is pure waste for a
repeated query: the operators are referentially transparent (same
(session, sf_dir) → same logical plan), so the built DataFrame can be
memoized and re-executed — exactly what any OLAP serving layer does with
prepared statements. DuckDB's sub-ms parse makes re-planning free; Spark's
isn't, so steady-state parity requires reuse, not rebuild.

Policy: a registry key is memoized when it is a function of (spark,
sf_dir) only, reads only through ``io.read_table``, and has no side
effects and no conf-sensitivity at analysis time. Every key of
``operators/olap.py`` qualifies and is memoized. Operators that
materialize state on first build (streaming drains, layout writers,
eager-checkpoint iteration) or exist to demonstrate conf-dependent
planning (AQE skew) must NOT be memoized. Physical planning still
happens lazily per DataFrame, so a memoized plan executes under whatever
physical conf is current when its FIRST action runs.

The memo key includes the Spark applicationId, so a new SparkContext (new
JVM, new exprIds) never sees another context's plans. Sessions made by
``spark.newSession()`` share that id but not their conf (session time
zone, shuffle partitions), so a hit is used only when the memoized
DataFrame belongs to the calling session; otherwise the plan is rebuilt
and replaces the entry.

Cost: one entry per (operator, sf_dir). An entry is a small handle until
its DataFrame runs; from then on it pins the run's materialized shuffle
files and broadcast blocks (that is what lets a repeat skip stages) until
:func:`clear_plan_memo` drops it. ``io.cache_tables`` and
``io.clear_table_cache`` (which ``io.write_upsert_parquet`` calls) clear
the memo too. Timing a FRESH execution of a memoized key must call
:func:`clear_plan_memo` first (CLAUDE.md rule 6b).
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_MEMO: dict[tuple[str, str, str, str], DataFrame] = {}


def plan_memo(
    fn: Callable[[SparkSession, str], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    """Memoize a pure (spark, sf_dir) -> DataFrame operator per session."""

    @functools.wraps(fn)
    def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
        key = (
            fn.__module__,
            fn.__qualname__,
            spark.sparkContext.applicationId,
            sf_dir,
        )
        df = _MEMO.get(key)
        if df is None or df.sparkSession is not spark:
            df = fn(spark, sf_dir)
            _MEMO[key] = df
        return df

    return wrapper


def clear_plan_memo() -> None:
    """Drop every memoized plan (tests / cache-layout changes)."""
    _MEMO.clear()
