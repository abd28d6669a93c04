"""Profile registry keys: one record per key, split by layer.

Usage:
    python scripts/profile.py [KEY ...] --sf DIR [--runs N] [--out FILE]
                              [--explain DIR] [--oracle]

With no KEY, every registry key is profiled. The session takes the
measured sweep posture (``POSTURE``: AQE off, constraint propagation
off; shuffle partitions are ``get_spark``'s ``SPARK_GRAFT_CPUS``
default) and caches every table present under DIR, as the round-16
registry sweep did. Then, per key (:func:`profile`):

- one warm call, timed as ``warm_s``;
- ``--runs`` fresh runs (default 2). Each clears the plan memo and starts
  the clock BEFORE ``fn()``, because iterative operators run their
  eager-checkpoint rounds inside ``fn()`` (CLAUDE.md rule 6b). A run
  splits at the points perfbench's ``Run.call`` uses: build = ``fn()``,
  plan = ``queryExecution().executedPlan()``, exec_fetch = ``toPandas()``;
- ``total_s`` is the median of the per-run totals, and ``build_s``,
  ``plan_s`` and ``exec_fetch_s`` are the per-layer medians;
- the no-op floor, jobs, stages run and skipped and tasks per layer of
  the last run (each layer runs under its own job group named after the
  key), its shuffle and spill bytes, and the SQL metrics of every node of
  its executed plan, walking into adaptive query stages.

``--out FILE`` writes every record as JSON. ``--explain DIR`` writes each
key's formatted physical plan to ``DIR/<key>.txt``; building it runs the
eager-checkpoint rounds of iterative operators again. ``--oracle`` times
each key's DuckDB twin in a fresh subprocess after the Spark session
has stopped (``--runs`` warm runs, ``ORACLE_BUDGET_S`` per key) and adds
``oracle_s`` and ``ratio`` (Spark / DuckDB) to the records. Exit status
is 1 if any key raised.

Time nothing else on the host while this runs: concurrent Spark sessions
inflate spreads 3-5x (CLAUDE.md rule 6b).
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

if __name__ == "profile":
    # A script run from scripts/ has this directory first on sys.path, so
    # ``import profile`` there (cProfile does it, and pyspark imports
    # cProfile) finds this file: put the standard library's module in its
    # place. For the same reason this module imports pyspark and the engine
    # only inside its functions.
    import importlib.util
    import sysconfig

    _spec = importlib.util.spec_from_file_location(
        "profile", os.path.join(sysconfig.get_path("stdlib"), "profile.py"))
    sys.modules["profile"] = importlib.util.module_from_spec(_spec)
    _spec.loader.exec_module(sys.modules["profile"])

from perfbench.probes import _STAGE_WRAPPERS, job_counts, noop_ms, plan_bytes  # noqa: E402

POSTURE = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.constraintPropagation.enabled": "false",
}
ORACLE_BUDGET_S = 900
LAYERS = ("build", "plan", "exec_fetch")
_CALLS = itertools.count()


def profile(spark, key: str, sf_dir: str, runs: int) -> dict:
    """Profile one registry key under the caller's session (see the
    module docstring for the protocol and the record)."""
    from u_s__non_farm_payrolls_an_olap_analysis_spark import registry
    from u_s__non_farm_payrolls_an_olap_analysis_spark.functions.plan_cache import (
        clear_plan_memo,
    )

    fn = registry.queries()[key]
    sc = spark.sparkContext
    tag = f"{key}#{next(_CALLS)}"
    floor = statistics.median(noop_ms(spark))
    per_run = []
    try:
        sc.setJobGroup(f"{tag}/warm", key)
        t0 = time.perf_counter()
        fn(spark, sf_dir).toPandas()
        warm_s = time.perf_counter() - t0
        for i in range(runs):
            clear_plan_memo()
            groups = {layer: f"{tag}.{i}/{layer}" for layer in LAYERS}
            sc.setJobGroup(groups["build"], key)
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            sc.setJobGroup(groups["plan"], key)
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            sc.setJobGroup(groups["exec_fetch"], key)
            rows = len(df.toPandas())
            t3 = time.perf_counter()
            per_run.append({"build_s": t1 - t0, "plan_s": t2 - t1,
                            "exec_fetch_s": t3 - t2, "total_s": t3 - t0})
        shuffle, spill = plan_bytes(df)
        rec = {
            "key": key,
            "sf": sf_dir,
            "rows": rows,
            "warm_s": round(warm_s, 4),
            "noop_floor_ms": round(floor, 2),
            **{f: round(statistics.median(r[f] for r in per_run), 4)
               for f in per_run[0]},
            "per_run": [{f: round(v, 4) for f, v in r.items()} for r in per_run],
            "counts": {layer: job_counts(spark, g) for layer, g in groups.items()},
            "shuffle_bytes": shuffle,
            "spill_bytes": spill,
            "nodes": node_metrics(df),
        }
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        clear_plan_memo()
    return rec


def node_metrics(df) -> list[dict]:
    """Every node of ``df``'s executed plan in pre-order, walking into
    adaptive query stages, with the values of its SQL metrics."""
    to_java = df.sparkSession._jvm.scala.jdk.javaapi.CollectionConverters
    out = []
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        metrics = to_java.asJava(node.metrics())
        out.append({"node": node.nodeName(),
                    "metrics": {m: metrics[m].value() for m in metrics}})
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif name in _STAGE_WRAPPERS:
            todo.append(node.plan())
        else:
            children = node.children()
            todo.extend(children.apply(i) for i in reversed(range(children.size())))
    return out


def oracle_seconds(keys: list[str], sf_dir: str, runs: int) -> dict:
    """Median warm DuckDB time of each key's oracle SQL, from a fresh
    subprocess (no Spark running). A key with no oracle, or past its
    budget, reads None; one slower than 120 s keeps its single warm run."""
    duck_child = f"""
import json, statistics, sys, time, os
sys.path.insert(0, {REPO!r})
import duckdb
from u_s__non_farm_payrolls_an_olap_analysis_spark import registry
con = duckdb.connect()
con.execute("SET enable_progress_bar = false")
for t in ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split():
    p = f"{sf_dir}/{{t}}.parquet"
    if os.path.exists(p):
        src = f"'{{p}}/*.parquet'" if os.path.isdir(p) else f"'{{p}}'"
        con.execute(f"CREATE VIEW {{t}} AS SELECT * FROM {{src}}")
oracles = registry.oracle_sql()
out = {{}}
for key in {keys!r}:
    if key not in oracles:
        out[key] = None
        continue
    sql = oracles[key]
    import threading
    # hard per-key budget: interrupt DuckDB rather than letting one
    # pathological oracle (the CC recursive CTE ground >22 min at
    # 30x) stall the whole sweep; an interrupted key reports as
    # DUCK ERROR (interrupt) and the summary shows n/a
    tm = threading.Timer({ORACLE_BUDGET_S}, con.interrupt)
    tm.start()
    try:
        t = time.time(); con.execute(sql).fetchdf()
        warm = time.time() - t
        tm.cancel()
        if warm > 120.0:
            # past any useful baseline precision (the Spark side is
            # sub-second here): record the single warm run and move on
            # rather than stalling the whole sweep (round-15: the CC
            # recursive-CTE oracle ground >22 min at 30x)
            out[key] = round(warm, 3)
            print("DUCK SLOW (1 run)", key, round(warm, 1), flush=True)
            continue
        times = []
        for _ in range({runs}):
            t = time.time(); con.execute(sql).fetchdf()
            times.append(time.time() - t)
        out[key] = round(statistics.median(times), 3)
    except Exception as e:
        out[key] = None
        print("DUCK ERROR", key, str(e)[:200], flush=True)
    finally:
        tm.cancel()  # or an expired timer would interrupt a LATER key
print("DUCK_RESULT " + json.dumps(out), flush=True)
"""
    proc = subprocess.run(
        [sys.executable, "-c", duck_child],
        capture_output=True, text=True, cwd=REPO, timeout=7200,
    )
    for line in proc.stdout.splitlines():
        if line.startswith("DUCK_RESULT "):
            return json.loads(line[len("DUCK_RESULT "):])
        if line.strip():
            print(line, flush=True)
    print("duck child stderr:", proc.stderr[-2000:])
    raise SystemExit(1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        description="Profile registry keys layer by layer (see the module "
        "docstring for the protocol).")
    ap.add_argument("keys", nargs="*", metavar="KEY",
                    help="registry keys (default: all of them)")
    ap.add_argument("--sf", required=True, metavar="DIR", help="table directory")
    ap.add_argument("--runs", type=int, default=2, help="timed runs per key")
    ap.add_argument("--out", metavar="FILE", help="write the records as JSON")
    ap.add_argument("--explain", metavar="DIR",
                    help="write formatted physical plans to DIR/<key>.txt")
    ap.add_argument("--oracle", action="store_true",
                    help="also time the DuckDB oracles, after Spark stops")
    args = ap.parse_args(argv)
    if args.runs < 1:
        ap.error("--runs must be at least 1")
    from u_s__non_farm_payrolls_an_olap_analysis_spark import io, registry
    from u_s__non_farm_payrolls_an_olap_analysis_spark.functions.plan_cache import (
        clear_plan_memo,
    )
    from u_s__non_farm_payrolls_an_olap_analysis_spark.session import (
        DEFAULT_SHUFFLE_PARTITIONS,
        get_spark,
    )

    queries = registry.queries()
    keys = args.keys or list(queries)
    unknown = [k for k in keys if k not in queries]
    if unknown:
        ap.error(f"unknown keys: {' '.join(unknown)}")
    if args.explain:
        os.makedirs(args.explain, exist_ok=True)
    spark = get_spark(app_name="profile", extra_conf=POSTURE)
    spark.sparkContext.setLogLevel("ERROR")
    present = tuple(t for t in io.TABLES
                    if os.path.exists(os.path.join(args.sf, f"{t}.parquet")))
    io.cache_tables(spark, args.sf, tables=present,
                    max_partitions=DEFAULT_SHUFFLE_PARTITIONS)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    results: dict[str, dict] = {}
    t_start = time.perf_counter()
    for i, key in enumerate(keys, 1):
        try:
            r = results[key] = profile(spark, key, args.sf, args.runs)
            print(f"[{i}/{len(keys)}] {key}: {r['total_s']} s = build "
                  f"{r['build_s']} + plan {r['plan_s']} + exec_fetch "
                  f"{r['exec_fetch_s']}, {r['rows']} rows", flush=True)
            if args.explain:
                df = queries[key](spark, args.sf)
                with open(os.path.join(args.explain, f"{key}.txt"), "w") as f:
                    f.write(df._jdf.queryExecution().explainString(mode))
                clear_plan_memo()
        except Exception as e:  # noqa: BLE001 — record and continue
            results[key] = {"key": key, "error": str(e)[:300]}
            print(f"[{i}/{len(keys)}] {key}: ERROR {str(e)[:200]}", flush=True)
    wall_s = round(time.perf_counter() - t_start, 1)
    spark.stop()

    if args.oracle:
        duck = oracle_seconds(keys, args.sf, args.runs)
        for key, r in results.items():
            d = r["oracle_s"] = duck.get(key)
            r["ratio"] = round(r["total_s"] / d, 2) if d and "total_s" in r else None
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"sf": args.sf, "runs": args.runs, "posture": POSTURE,
                       "wall_s": wall_s, "results": results}, f, indent=1)
    ok = [r for r in results.values() if "error" not in r]
    print(f"\n{len(ok)} of {len(keys)} keys in {wall_s} s; slowest 20:")
    print(f"{'total_s':>8} {'build_s':>8} {'exec_s':>8} {'ratio':>6}  key")
    for r in sorted(ok, key=lambda r: -r["total_s"])[:20]:
        print(f"{r['total_s']:>8} {r['build_s']:>8} {r['exec_fetch_s']:>8} "
              f"{r.get('ratio')!s:>6}  {r['key']}")
    if args.out:
        print(f"wrote {args.out}")
    return 1 if len(ok) < len(keys) else 0


if __name__ == "__main__":
    sys.exit(main())
