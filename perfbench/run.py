"""Benchmark of the OLAP engine as shipped: one command, two workloads.

    python3 perfbench/run.py --workload {dashboard,ingest} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. Inputs are generated from the seed under
``.perfbench_work/`` (removed at exit); a traced run also writes its spans to
``.perfbench_out/``. The session is ``session.get_spark()`` with its own
defaults, sized only through the environment variables it reads. The last
line on stdout is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (end-to-end metrics untraced, per-layer metrics traced).
The exit code is 1 if any output was wrong or any operation failed.
See ``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Set-ups per run, each from no JVM. A dashboard set-up takes 9-12 s on a
# 4-vCPU host, so two keep a run near a minute.
SETUP_REPS = 2


def _host_env(work: str) -> None:
    """Size the session through the variables it reads and point every
    temporary file into ``work``."""
    # one CPU stays free for the driver's own threads and this client, which
    # share the host with the task threads in local mode
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, len(os.sched_getaffinity(0)) - 1))
    mem_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 30
    # half the host's RAM: the session's 16g default can exceed it
    os.environ["SPARK_DRIVER_MEM"] = f"{max(1, mem_gib // 2)}g"
    for var, sub in (("SPARK_LOCAL_DIRS", "spark-local"), ("TMPDIR", "tmp")):
        os.environ[var] = f"{work}/{sub}"
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work}/tmp"
    tempfile.tempdir = None


def _stop(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM. The
    next ``get_spark()`` launches a new JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    SparkContext._gateway = SparkContext._jvm = None
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _per_call_ms(totals: dict, name: str) -> float:
    """Mean self time per span of one name, 0 if the layer was not called."""
    calls, own = totals.get(name, (0, 0.0))
    return own / calls * 1e3 if calls else 0.0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("dashboard", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # a terminated run still leaves through ``finally``: JVM stopped, work dir removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_begin = time.perf_counter()
    work = f"{ROOT}/.perfbench_work/{args.workload}-{args.seed}-{os.getpid()}"
    _host_env(work)  # before the package is imported: it reads them then
    sys.path[:0] = [ROOT, HERE]
    import duckdb
    import numpy as np

    import probes
    import workloads
    from measure import Tracer, failed_ratio

    from u_s__non_farm_payrolls_an_olap_analysis_spark.session import get_spark

    record = {"workload": args.workload, "seed": args.seed, "loadavg_start": probes.loadavg()}
    cpu_start = probes.cpu_times()
    record["python_loop_ms_start"] = probes.python_loop_ms()
    spark = None
    try:
        for var in ("SPARK_LOCAL_DIRS", "TMPDIR"):
            os.makedirs(os.environ[var])
        data_dir = f"{work}/data"
        t0 = time.perf_counter()
        record["inputs"] = workloads.make_inputs(args.workload, args.seed, data_dir)
        record["generate_s"] = time.perf_counter() - t0

        tracer = Tracer(enabled=bool(args.trace))
        starts, fills = [], []
        # Each set-up starts from no JVM, as the served program does; the
        # last one's session runs the workload.
        for _ in range(SETUP_REPS):
            if spark is not None:
                _stop(spark)
                spark = None
            spark, start_s, fill_s = workloads.setup(args.workload, get_spark, data_dir, tracer)
            starts.append(start_s)
            fills.append(fill_s)
        setups = [a + b for a, b in zip(starts, fills)]
        noop = probes.noop_ms(spark)

        con = duckdb.connect()
        for name in record["inputs"]:
            src = f"{data_dir}/{name}.parquet"
            if os.path.isdir(src):
                src += "/*.parquet"
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
        tracer.enabled = False
        run = workloads.Run(spark, data_dir, work, args.seed, args.seconds, bool(args.trace), con, tracer)
        record.update(workloads.WORKLOADS[args.workload](run))
        noop += probes.noop_ms(spark)
        record["python_loop_ms_end"] = probes.python_loop_ms()
        rss = probes.vm_hwm_mb(os.getpid()) + probes.vm_hwm_mb(probes.jvm_pid(spark))
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    record["wall_s"] = time.perf_counter() - t_begin

    untraced = run.latency_ms[False]
    if args.trace:
        totals = tracer.layer_totals()
        traced = run.latency_ms[True]
        c = run.counters
        calls = c["calls"] or 1
        values = {
            "session.start_s": np.median(starts),
            "session.noop_floor_ms": np.median(noop),
            "io.cache_fill_s": np.median(fills),
            "io.read_table_ms": _per_call_ms(totals, "io.read_table"),
            "io.write_upsert_ms": _per_call_ms(totals, "io.write_upsert"),
            "io.bytes_written": record.get("bytes_written", 0.0),
            "io.files_written": record.get("files_written", 0.0),
            "io.write_amplification": record.get("write_amplification", 0.0),
            "operators.build_ms": _per_call_ms(totals, "operators.build"),
            "operators.plan_ms": _per_call_ms(totals, "operators.plan"),
            "operators.exec_fetch_ms": _per_call_ms(totals, "operators.exec_fetch"),
            "operators.jobs": c["jobs"] / calls,
            "operators.stages": c["stages"] / calls,
            "operators.stages_skipped": c["stages_skipped"] / calls,
            "operators.tasks": c["tasks"] / calls,
            "operators.shuffle_bytes": c["shuffle_bytes"] / calls,
            "operators.spill_bytes": c["spill_bytes"] / calls,
            "plan_cache.hit_ratio": run.memo_hits / max(1, run.op_calls),
            "streaming.drain_ms": _per_call_ms(totals, "streaming.drain"),
            "op.self_ms": _per_call_ms(totals, "op"),
            "trace.overhead_ms": np.median(traced) - np.median(untraced),
            "request.p50_ms": np.percentile(untraced, 50),
            "request.p90_ms": np.percentile(untraced, 90),
            "peak_rss_mb": rss,
        }
        os.makedirs(f"{ROOT}/.perfbench_out", exist_ok=True)
        with open(f"{ROOT}/.perfbench_out/trace-{args.workload}-{args.seed}.json", "w") as f:
            json.dump({"record": record, "spans": tracer.spans}, f)
    else:
        values = {"setup_s": np.median(setups), "round_p50_ms": np.median(run.round_ms)}
    record.update(
        loadavg_end=probes.loadavg(), cpu_steal_share=probes.steal_share(cpu_start, probes.cpu_times()),
        noop_ms=noop, setup_reps_s=setups,
        failed_ratio=failed_ratio(run.failed, run.attempted), mismatches=[str(k) for k in run.verifier.mismatches],
        requests_log=run.log,
    )
    with open(f"{ROOT}/BENCHMARK.json") as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
