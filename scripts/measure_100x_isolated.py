"""Definitive isolated-process 100x q8 measurement (r9 verdict item 1).

The repo accumulated two mutually exclusive measured claims for DuckDB
q8 at 100x facts: the round-8 "corrected record" (1.07-1.29 s, measured
— the round-9 commit evidence shows — against a bench dir that held ~1x
data), and BENCH_r09's in-protocol sfn100 section (24.7-45.6 s, measured
on verified 100x data but while the Spark JVM held ~GBs of cached tables
in the same process, violating the isolation rule the repo itself
mandates in CLAUDE.md 6b). This script settles it with a protocol where
neither objection applies:

  phase A (subprocess 1, Spark ONLY): generate/verify .bench_sf100x via
    bench._ensure_sf1, LOG footer-metadata row counts into the output,
    build the bucketed q8 layout (prep timed separately), then time
    flat q8 / bucketed q8 / join_agg_pricing (control) with the bench
    fresh-plan protocol (median of N, spreads). Process exits — the JVM
    is gone before anything DuckDB is timed.
  phase B (subprocess 2, DuckDB ONLY): re-verify row counts with real
    COUNT(*), then time the SAME oracle SQL warm, median of N, spreads.
  parent: merges, computes ratios + the bucketed-layout breakeven, and
    writes SCALE_100x_isolated.json next to this script's repo root.

Run it on a quiet host with no other Spark session (CLAUDE.md 6b).
Usage: python scripts/measure_100x_isolated.py [--rep 100] [--runs 5]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

SPARK_CHILD = r"""
import json, os, statistics, sys, time
sys.path.insert(0, {repo!r})
import bench
from u_s__non_farm_payrolls_an_olap_analysis_spark.session import get_spark
from u_s__non_farm_payrolls_an_olap_analysis_spark import registry
from u_s__non_farm_payrolls_an_olap_analysis_spark.io import cache_tables
from u_s__non_farm_payrolls_an_olap_analysis_spark.functions.plan_cache import (
    clear_plan_memo,
)
from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import layout

rep, runs, base_dir = {rep}, {runs}, {base_dir!r}
out_dir = os.path.join({repo!r}, ".bench_sf100x" if rep == 100
                       else f".bench_iso{{rep}}x")
# posture matches bench._sfn_section's swept settings: 16 partitions
# below 100x, 32 at 100x (BENCH sfn100;
# `git show 8188806:scripts/measure_q8_sfn_sweep.py`)
spark = get_spark(app_name="iso100x",
                  shuffle_partitions=(32 if rep >= 100 else 16),
                  extra_conf={{"spark.sql.adaptive.enabled": "true"}})
spark.sparkContext.setLogLevel("ERROR")
t0 = time.time()
bench._ensure_sf1(spark, base_dir, out_dir, n_rep=rep)
gen_sec = time.time() - t0
table_rows = bench._table_rows(out_dir, ("orders", "lineitem", "events"))
t0 = time.time()
cache_tables(spark, out_dir,
             tables=("orders", "lineitem", "customer", "nation", "events"),
             max_partitions=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
cache_sec = time.time() - t0
t0 = time.time()
layout._q8_bucketed_tables(spark, out_dir)
bucket_prep_sec = time.time() - t0
t0 = time.time()
layout._events_user_bucketed_table(spark, out_dir)
events_bucket_prep_sec = time.time() - t0

qs = registry.queries()
timed = {{}}
spread = {{}}
for key in ("tpch_q8_market_share", "tpch_q8_bucketed", "join_agg_pricing",
            "events_pattern_match", "events_pattern_match_clustered",
            "sessionize_batch", "sessionize_batch_clustered"):
    fn = qs[key]
    fn(spark, out_dir).toPandas()  # warm: caches, codegen, code paths
    times = []
    for _ in range(runs):
        clear_plan_memo()
        df = fn(spark, out_dir)
        t = time.time()
        df.toPandas()
        times.append(time.time() - t)
    timed[key] = round(statistics.median(times), 4)
    spread[key] = [round(min(times), 4), round(max(times), 4)]
spark.stop()
print("SPARK_RESULT " + json.dumps({{
    "out_dir": out_dir, "rep": rep, "runs": runs,
    "gen_sec": round(gen_sec, 2), "cache_sec": round(cache_sec, 2),
    "bucket_prep_sec": round(bucket_prep_sec, 2),
    "events_bucket_prep_sec": round(events_bucket_prep_sec, 2),
    "table_rows": table_rows, "spark": timed, "spark_spread": spread,
}}), flush=True)
"""

DUCK_CHILD = r"""
import json, os, statistics, sys, time
sys.path.insert(0, {repo!r})
import duckdb
from u_s__non_farm_payrolls_an_olap_analysis_spark import registry

out_dir, runs = {out_dir!r}, {runs}
con = duckdb.connect()
# long queries trip duckdb's stdout progress bar, which would interleave
# with the DUCK_RESULT line (prefix-scan tolerates it; keep stdout clean)
con.execute("SET enable_progress_bar = false")
table_rows = {{}}
for t in ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"):
    p = f"{{out_dir}}/{{t}}.parquet"
    if not os.path.exists(p):
        continue
    src = f"'{{p}}/*.parquet'" if os.path.isdir(p) else f"'{{p}}'"
    con.execute(f"CREATE VIEW {{t}} AS SELECT * FROM {{src}}")
for t in ("orders", "lineitem", "events"):
    (n,) = con.execute(f"SELECT COUNT(*) FROM {{t}}").fetchone()
    table_rows[t] = n
oracles = registry.oracle_sql()
timed = {{}}
spread = {{}}
for key in ("tpch_q8_market_share", "join_agg_pricing",
            "events_pattern_match", "sessionize_batch"):
    sql = oracles[key]
    con.execute(sql).fetchdf()  # warm the OS page cache + duckdb state
    times = []
    for _ in range(runs):
        t = time.time()
        con.execute(sql).fetchdf()
        times.append(time.time() - t)
    timed[key] = round(statistics.median(times), 4)
    spread[key] = [round(min(times), 4), round(max(times), 4)]
con.close()
print("DUCK_RESULT " + json.dumps({{
    "table_rows": table_rows, "duckdb": timed, "duckdb_spread": spread,
}}), flush=True)
"""


def _run_child(code: str, tag: str) -> dict:
    proc = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, cwd=REPO, timeout=3600,
    )
    for line in proc.stdout.splitlines():
        if line.startswith(tag):
            return json.loads(line[len(tag):])
    raise RuntimeError(
        f"child produced no {tag} line\nstdout:\n{proc.stdout[-3000:]}\n"
        f"stderr:\n{proc.stderr[-3000:]}"
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rep", type=int, default=100)
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument(
        "--base-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    args = ap.parse_args()

    print(f"phase A: Spark (gen+verify+time) rep={args.rep} ...", flush=True)
    spark_res = _run_child(
        SPARK_CHILD.format(
            repo=REPO, rep=args.rep, runs=args.runs, base_dir=args.base_dir
        ),
        "SPARK_RESULT ",
    )
    print(json.dumps(spark_res), flush=True)

    print("phase B: DuckDB (verify+time), no JVM alive ...", flush=True)
    duck_res = _run_child(
        DUCK_CHILD.format(
            repo=REPO, out_dir=spark_res["out_dir"], runs=args.runs
        ),
        "DUCK_RESULT ",
    )
    print(json.dumps(duck_res), flush=True)

    if spark_res["table_rows"] != duck_res["table_rows"]:
        raise SystemExit(
            f"row-count mismatch between phases: {spark_res['table_rows']} "
            f"vs {duck_res['table_rows']}"
        )

    d_q8 = duck_res["duckdb"]["tpch_q8_market_share"]
    s_flat = spark_res["spark"]["tpch_q8_market_share"]
    s_bkt = spark_res["spark"]["tpch_q8_bucketed"]
    merged = {
        "protocol": (
            "two sequential subprocesses: Spark generates+verifies+times "
            "then exits; DuckDB re-verifies COUNT(*) and times with no "
            "JVM alive (CLAUDE.md 6b). Fresh-plan, warm inputs, median "
            f"of {args.runs}, spreads recorded."
        ),
        "rep": args.rep,
        "runs": args.runs,
        "base_dir": args.base_dir,
        "table_rows": spark_res["table_rows"],
        "gen_sec": spark_res["gen_sec"],
        "cache_sec": spark_res["cache_sec"],
        "bucket_prep_sec": spark_res["bucket_prep_sec"],
        "events_bucket_prep_sec": spark_res["events_bucket_prep_sec"],
        "spark": spark_res["spark"],
        "spark_spread": spark_res["spark_spread"],
        "duckdb": duck_res["duckdb"],
        "duckdb_spread": duck_res["duckdb_spread"],
        "ratio_q8_flat": round(s_flat / d_q8, 3),
        "ratio_q8_bucketed": round(s_bkt / d_q8, 3),
        "ratio_join_agg_pricing": round(
            spark_res["spark"]["join_agg_pricing"]
            / duck_res["duckdb"]["join_agg_pricing"],
            3,
        ),
        # round-14 plan-change keys (CEP anchor-frame collapse,
        # sessionize boundary-row algebra); clustered twins share the
        # flat oracle (layout is physical, never semantic)
        "ratio_cep_flat": round(
            spark_res["spark"]["events_pattern_match"]
            / duck_res["duckdb"]["events_pattern_match"], 3),
        "ratio_cep_clustered": round(
            spark_res["spark"]["events_pattern_match_clustered"]
            / duck_res["duckdb"]["events_pattern_match"], 3),
        "ratio_sessionize_flat": round(
            spark_res["spark"]["sessionize_batch"]
            / duck_res["duckdb"]["sessionize_batch"], 3),
        "ratio_sessionize_clustered": round(
            spark_res["spark"]["sessionize_batch_clustered"]
            / duck_res["duckdb"]["sessionize_batch"], 3),
        # recurring-query breakeven for the write-once bucketed layout:
        # how many q8 reruns amortize the bucket prep (None if the
        # bucketed variant isn't actually faster at this scale)
        "bucketed_breakeven_runs": (
            round(spark_res["bucket_prep_sec"] / (s_flat - s_bkt), 1)
            if s_flat > s_bkt
            else None
        ),
    }
    out_path = os.path.join(REPO, "SCALE_100x_isolated.json")
    with open(out_path, "w") as f:
        json.dump(merged, f, indent=1)
        f.write("\n")
    print(f"wrote {out_path}", flush=True)
    print(json.dumps(merged), flush=True)


if __name__ == "__main__":
    main()
