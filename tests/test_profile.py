"""The profiler's protocol (``scripts/profile.py``): fresh plans per run,
the clock started before construction, layers that add up to the total,
and a complete record for every key."""

from __future__ import annotations

import pytest

from perfbench.probes import job_counts
from scripts.profile import LAYERS, profile
from u_s__non_farm_payrolls_an_olap_analysis_spark import registry

from tests.conftest import SF_SMOKE

MEMO_KEY = "dice_recovery_asof"  # memoized olap key with shuffles
EAGER_KEY = "graph_connected_components"  # checkpoints inside fn()
FIELDS = ("key", "sf", "rows", "warm_s", "noop_floor_ms", "build_s", "plan_s",
          "exec_fetch_s", "total_s", "per_run", "counts", "shuffle_bytes",
          "spill_bytes", "nodes")
COUNTS = ("jobs", "stages", "stages_skipped", "tasks")


def _counted(spark, group, action):
    spark.sparkContext.setJobGroup(group, group)
    try:
        action()
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    return job_counts(spark, group)


@pytest.fixture(scope="module")
def records(spark):
    registry.queries()[MEMO_KEY](spark, SF_SMOKE).toPandas()  # memoized, run
    recs = {k: profile(spark, k, SF_SMOKE, 2) for k in (MEMO_KEY, EAGER_KEY)}
    # the same session state, measured by hand: a memo hit on a run plan
    # (which skips its map stages) and one warm build of the eager key
    fn = registry.queries()[MEMO_KEY]
    df = fn(spark, SF_SMOKE)
    df.toPandas()
    assert fn(spark, SF_SMOKE) is df
    memo_hit = _counted(spark, "test-memo-hit", df.toPandas)
    eager_build = _counted(
        spark, "test-eager-build",
        lambda: registry.queries()[EAGER_KEY](spark, SF_SMOKE))
    return recs, memo_hit, eager_build


def test_memoized_key_is_executed_fresh(records):
    recs, memo_hit, _ = records
    ran = recs[MEMO_KEY]["counts"]["exec_fetch"]["stages"]
    assert ran >= 1
    assert ran > memo_hit["stages"]


def test_jobs_inside_fn_count_as_build(records):
    recs, _, eager_build = records
    counts = recs[EAGER_KEY]["counts"]
    assert eager_build["jobs"] > 0
    assert counts["build"]["jobs"] == eager_build["jobs"]
    assert counts["exec_fetch"]["jobs"] < eager_build["jobs"]


def test_layers_add_up_to_each_run(records):
    recs, _, _ = records
    for rec in recs.values():
        assert len(rec["per_run"]) == 2
        for run in rec["per_run"]:
            layers = sum(run[f"{layer}_s"] for layer in LAYERS)
            assert abs(layers - run["total_s"]) <= 1e-3


def test_every_record_has_every_field(records):
    recs, _, _ = records
    for rec in recs.values():
        assert set(FIELDS) <= rec.keys()
        assert rec["rows"] > 0 and rec["total_s"] > 0 and rec["noop_floor_ms"] > 0
        assert set(rec["counts"]) == set(LAYERS)
        for layer in LAYERS:
            assert set(rec["counts"][layer]) == set(COUNTS)
        assert rec["nodes"] and all({"node", "metrics"} <= n.keys()
                                    for n in rec["nodes"])
