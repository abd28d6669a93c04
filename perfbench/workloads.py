"""The two workloads. Each is a closed loop with one client: the next
request is sent when the previous one has returned and been checked.

A request is timed from the call into the program until its result has been
fetched in full; checking the result happens after the clock stops. Timed
requests come in rounds of a fixed mix (a dashboard refresh of 19 queries,
or an ingest cycle); a round's time is the sum of its requests'. In a
traced run every second request is traced, so the run also measures the
tracing overhead (traced minus untraced median latency)."""

from __future__ import annotations

import os
import sys
import time
import traceback
from collections import defaultdict

import numpy as np

import datagen
import probes
from measure import Tracer, Verifier, write_amplification
from scripts.check_parity import canon_frame

from u_s__non_farm_payrolls_an_olap_analysis_spark import io, registry
from u_s__non_farm_payrolls_an_olap_analysis_spark.streaming.stream_windows import (
    stream_upsert_foreach_batch,
)

# The reference dashboard's questions, in popularity order. All of them
# read the monthly series of ``orders``.
DASHBOARD_KEYS = (
    "slice_avg_by_year", "filter_in_and_between", "filter_threshold",
    "rollup_quarter_qoq", "top1_by_metric", "drill_sharpest_drop",
    "dice_recovery_asof", "rollup_decade_avg", "dice_q4_avg_by_month",
    "window_pct_change_partitioned",
)
DASHBOARD_TABLES = ("orders",)
READ_AFTER_WRITE_KEYS = ("slice_avg_by_year", "rollup_quarter_qoq")
STREAM_KEY = "stream_upsert_foreach_batch"

SCALE = 0.1  # sf0.1 star schema
INGEST_CHURN = 0.05
# Untimed warm-up. A new JVM runs these loops up to 2x slower for its first
# half minute, while the JIT compiler is busy and, on the dashboard, while
# the heap is still small: a dashboard round then triggers 6-11 young
# collections, and 0-3 once the collector has grown the heap. When it grows
# the heap varies from run to run, so the dashboard warms up until a round
# runs with few collections, within a minimum and a maximum of rounds.
DASHBOARD_WARM_ROUNDS = (7, 12)
DASHBOARD_WARM_GCS = 4
INGEST_WARM_CYCLES = 8


def zipf_round(keys: tuple[str, ...], top: int = 6) -> list[str]:
    """One round of the dashboard mix: key of popularity rank r appears
    round(top / r) times, at least once. Every round has the same
    composition, so whole rounds keep the mix fixed across seeds."""
    return [k for r, k in enumerate(keys, 1) for _ in range(max(1, round(top / r)))]


def make_inputs(workload: str, seed: int, data_dir: str) -> dict:
    """Write the workload's input tables under ``data_dir``; return their
    sizes (rows, bytes) by table."""
    tables = {"orders": datagen.orders(seed, SCALE)}
    if workload == "ingest":
        tables["events"] = datagen.events(seed, SCALE)
    sizes = {}
    for name, t in tables.items():
        path = f"{data_dir}/{name}.parquet"
        if workload == "ingest" and name == "orders":
            path = f"{path}/part-00000.parquet"  # a directory the upsert rewrites
        sizes[name] = {"rows": t.num_rows, "bytes": datagen.write(t, path)}
    return sizes


class Run:
    """State of one benchmark run: the session, the tracer, the checks and
    every number the run reports."""

    def __init__(self, spark, data_dir: str, work_dir: str, seed: int,
                 seconds: float, trace: bool, oracle_con, tracer: Tracer) -> None:
        self.spark = spark
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.con = oracle_con
        self.tracer = tracer
        self.queries = registry.queries()
        self.oracle_sql = registry.oracle_sql()
        self.verifier = Verifier(self._oracle)
        self.attempted = 0
        self.failed = 0
        self.latency_ms = {False: [], True: []}  # by traced
        self.log: list[tuple[str, float]] = []  # (request label, ms), in order
        self.round_ms: list[float] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.op_calls = 0
        self.memo_hits = 0
        self._last_df: dict[str, object] = {}

    def _oracle(self, key):
        name = key[0] if isinstance(key, tuple) else key
        return canon_frame(self.con.execute(self.oracle_sql[name]).fetchdf())

    def request(self, body, index: int = 0, label: str = "", timed: bool = True) -> None:
        """Run one request. ``body()`` does the work and returns the checks
        to run after the clock stops (callables returning bool). Untimed
        requests (warm-up) are still checked and counted."""
        traced = timed and self.trace and index % 2 == 1
        self.tracer.enabled = traced
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            with self.tracer.span("op"):
                checks = body()
            ms = (time.perf_counter() - t0) * 1e3
            self.tracer.enabled = False
            if timed:
                self.latency_ms[traced].append(ms)
                self.log.append((label, ms))
            if not all(check() for check in checks):
                self.failed += 1
                print(f"MISMATCH {label or index}", file=sys.stderr)
        except Exception:
            self.failed += 1
            traceback.print_exc()
        finally:
            self.tracer.enabled = False

    def call(self, key: str):
        """Build, plan, execute and fetch one registry operator; returns the
        fetched pandas frame. Traced, it also forces planning before the
        action and reads the job, stage and plan counters."""
        spark, tr = self.spark, self.tracer
        traced = tr.enabled
        fn = self.queries[key]
        if traced:
            group = f"op-{self.op_calls}"
            spark.sparkContext.setJobGroup(group, key)
        with tr.span("operators.build"):
            df = fn(spark, self.data_dir)
        self.op_calls += 1
        self.memo_hits += self._last_df.get(key) is df
        self._last_df[key] = df
        if traced:
            with tr.span("operators.plan"):
                df._jdf.queryExecution().executedPlan()
            shuffle0, spill0 = probes.plan_bytes(df)
        with tr.span("operators.exec_fetch"):
            pdf = df.toPandas()
        if traced:
            shuffle1, spill1 = probes.plan_bytes(df)
            c = self.counters
            c["calls"] += 1
            c["shuffle_bytes"] += shuffle1 - shuffle0
            c["spill_bytes"] += spill1 - spill0
            for name, v in probes.job_counts(spark, group).items():
                c[name] += v
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        return pdf

    def end_round(self, first: int) -> None:
        """Close the round whose first timed request is ``self.log[first]``."""
        self.round_ms.append(sum(ms for _, ms in self.log[first:]))

    def check(self, key, pdf):
        return lambda: self.verifier.check(key, pdf)

    def done(self, t_start: float) -> bool:
        """The timed window is over, and a traced run has both traced and
        untraced samples."""
        return time.perf_counter() - t_start >= self.seconds and all(
            self.latency_ms[t] for t in ((False, True) if self.trace else (False,)))


def dashboard(run: Run) -> dict:
    """Zipf-popular OLAP keys over cached sf0.1 tables. The plan memo is
    never cleared, so repeats reuse memoized plans and their materialized
    shuffle stages (counted in ``operators.stages_skipped``)."""

    def one(key):
        return [run.check(key, run.call(key))]

    rng = datagen.rng_for(run.seed, "dashboard_sequence")
    mix = zipf_round(DASHBOARD_KEYS)
    t_warm = time.perf_counter()
    # The first warm-up round holds every key, and each key's first result
    # is the one compared with its oracle. The timed part stops at a round
    # boundary, so its mix is fixed.
    least, most = DASHBOARD_WARM_ROUNDS
    warm_gcs = []
    while len(warm_gcs) < most and (
            len(warm_gcs) < least or warm_gcs[-1] > DASHBOARD_WARM_GCS):
        gcs = probes.gc_count(run.spark)
        for key in map(str, rng.permutation(mix)):
            run.request(lambda: one(key), label=key, timed=False)
        warm_gcs.append(probes.gc_count(run.spark) - gcs)
    t_start, timed = time.perf_counter(), 0
    while not run.done(t_start):
        first = len(run.log)
        for key in map(str, rng.permutation(mix)):
            run.request(lambda: one(key), timed, key)
            timed += 1
        run.end_round(first)
    return {"requests": timed, "warm_s": t_start - t_warm, "warm_round_gcs": warm_gcs}


def _apply_lww(con, batch_path: str) -> None:
    """The expected table after an upsert, recomputed in DuckDB with the
    rule ``io.upsert_by_key`` documents: a batch row replaces the table row
    of its key; among batch rows of one key the one with the greatest
    payload columns, compared in column order, wins."""
    con.execute(f"""
        CREATE OR REPLACE TABLE expected AS
        WITH b AS (SELECT * FROM read_parquet('{batch_path}')),
        w AS (SELECT * EXCLUDE (rn) FROM (
            SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY
                o_custkey DESC, o_orderstatus DESC, o_totalprice DESC,
                o_orderdate DESC, o_orderpriority DESC) AS rn FROM b)
            WHERE rn = 1)
        SELECT * FROM w
        UNION ALL
        SELECT * FROM expected WHERE o_orderkey NOT IN (SELECT o_orderkey FROM b)
    """)


def _state_matches(con, target: str) -> bool:
    con.execute(
        f"CREATE OR REPLACE VIEW actual AS SELECT * FROM read_parquet('{target}/*.parquet')"
    )
    n_extra, n_missing = con.execute(
        "SELECT (SELECT count(*) FROM (SELECT * FROM actual EXCEPT ALL SELECT * FROM expected)),"
        " (SELECT count(*) FROM (SELECT * FROM expected EXCEPT ALL SELECT * FROM actual))"
    ).fetchone()
    return n_extra == 0 and n_missing == 0


def ingest(run: Run) -> dict:
    """Cycles of a keyed upsert beside reads: upsert a seeded update batch
    into the orders table, invalidate the program's caches, re-read two
    dashboard keys over the new table, then drain the streaming upsert."""
    con = run.con
    target = f"{run.data_dir}/orders.parquet"
    con.execute(f"CREATE TABLE expected AS SELECT * FROM read_parquet('{target}/*.parquet')")
    con.execute("CREATE OR REPLACE VIEW orders AS SELECT * FROM expected")
    n_keys = con.execute("SELECT count(*) FROM expected").fetchone()[0]
    n_customers = int(150_000 * SCALE)
    batch_dir = f"{run.work_dir}/batches"
    os.makedirs(batch_dir, exist_ok=True)
    stats = defaultdict(list)
    spark, tr = run.spark, run.tracer

    def one(cycle):
        nonlocal n_keys
        batch = datagen.orders_update_batch(run.seed, cycle, n_keys, INGEST_CHURN, n_customers)
        batch_path = f"{batch_dir}/batch-{cycle:04d}.parquet"
        batch_bytes = datagen.write(batch, batch_path)
        n_keys += int(n_keys * INGEST_CHURN) // 5

        def state_ok():
            written, files = probes.tree_bytes_files(target)
            stats["bytes_written"].append(written)
            stats["files_written"].append(files)
            stats["write_amplification"].append(write_amplification(written, batch_bytes))
            _apply_lww(con, batch_path)
            return _state_matches(con, target)

        def body():
            with tr.span("io.read_table"):
                current = io.read_table(spark, run.data_dir, "orders")
            with tr.span("io.write_upsert"):
                updates = spark.read.parquet(batch_path)
                merged = io.upsert_by_key(current, updates, ["o_orderkey"])
                io.write_upsert_parquet(target, merged)
            with tr.span("io.clear_table_cache"):
                io.clear_table_cache()
            reads = [(k, run.call(k)) for k in READ_AFTER_WRITE_KEYS]
            with tr.span("streaming.drain"):
                drained = stream_upsert_foreach_batch(spark, run.data_dir).toPandas()
            return [state_ok] + [run.check((k, cycle), pdf) for k, pdf in reads] + [
                run.check(STREAM_KEY, drained)]

        return body

    t_warm = time.perf_counter()
    for cycle in range(INGEST_WARM_CYCLES):
        run.request(one(cycle), label=f"cycle {cycle}", timed=False)
    t_start, cycle = time.perf_counter(), INGEST_WARM_CYCLES
    while not run.done(t_start):
        first = len(run.log)
        run.request(one(cycle), cycle, f"cycle {cycle}")
        run.end_round(first)
        cycle += 1
    return {"requests": cycle - INGEST_WARM_CYCLES, "warm_s": t_start - t_warm, **{k: float(np.mean(v)) for k, v in stats.items()}}


WORKLOADS = {"dashboard": dashboard, "ingest": ingest}


def setup(workload: str, get_spark, data_dir: str, tracer: Tracer):
    """The program's own set-up for a workload: session start, plus the
    input cache fill for ``dashboard``. Returns the session and the seconds
    each part took."""
    t0 = time.perf_counter()
    with tracer.span("session.start"):
        spark = get_spark()
    t1 = time.perf_counter()
    if workload != "dashboard":
        return spark, t1 - t0, 0.0
    with tracer.span("io.cache_fill"):
        io.cache_tables(spark, data_dir, DASHBOARD_TABLES)
    return spark, t1 - t0, time.perf_counter() - t1

