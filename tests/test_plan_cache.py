"""The plan-reuse contract of ``functions.plan_cache.plan_memo``.

A dashboard refresh asks the same questions again; a memoized question
re-executes its built plan instead of rebuilding it (py4j construction,
Catalyst analysis, a full re-aggregation of ``orders``). A silently
missing decorator costs most of a refresh, and a hit handed to the wrong
session runs under the wrong conf — both are checked here.
"""

from __future__ import annotations

import pytest

from u_s__non_farm_payrolls_an_olap_analysis_spark import io
from u_s__non_farm_payrolls_an_olap_analysis_spark.operators import olap

from tests.conftest import SF_SMOKE

# the reference dashboard's questions
DASHBOARD_KEYS = (
    "slice_avg_by_year",
    "filter_in_and_between",
    "filter_threshold",
    "rollup_quarter_qoq",
    "top1_by_metric",
    "drill_sharpest_drop",
    "dice_recovery_asof",
    "rollup_decade_avg",
    "dice_q4_avg_by_month",
    "window_pct_change_partitioned",
)


def _sorted(pdf):
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def test_every_olap_key_is_memoized():
    bare = [k for k, fn in olap.QUERIES.items() if not hasattr(fn, "__wrapped__")]
    assert bare == []


@pytest.mark.parametrize("key", DASHBOARD_KEYS)
def test_dashboard_key_reuses_its_plan(spark, key):
    fn = olap.QUERIES[key]
    io.clear_table_cache()
    first = fn(spark, SF_SMOKE)
    assert fn(spark, SF_SMOKE) is first
    pdf = first.toPandas()
    assert fn(spark, SF_SMOKE).toPandas().equals(pdf)

    io.clear_table_cache()
    after_clear = fn(spark, SF_SMOKE)
    assert after_clear is not first

    cached = io.cache_tables(spark, SF_SMOKE, ("orders",))
    try:
        after_cache = fn(spark, SF_SMOKE)
        assert after_cache is not after_clear
        assert _sorted(after_cache.toPandas()).equals(_sorted(pdf))
    finally:
        cached["orders"].unpersist()
        io.clear_table_cache()


@pytest.mark.parametrize("key", ["slice_avg_by_year", "dice_recovery_asof"])
def test_memo_hit_belongs_to_the_calling_session(spark, key):
    """``spark.newSession()`` shares the applicationId (the memo key) but
    not the conf; a hit built by another session must not be returned."""
    fn = olap.QUERIES[key]
    io.clear_table_cache()
    mine = fn(spark, SF_SMOKE)
    other = spark.newSession()
    other.conf.set("spark.sql.session.timeZone", "America/New_York")
    theirs = fn(other, SF_SMOKE)
    assert theirs.sparkSession is other
    assert io.read_table(other, SF_SMOKE, "orders").sparkSession is other
    assert fn(other, SF_SMOKE) is theirs
    assert fn(spark, SF_SMOKE).sparkSession is spark
    assert _sorted(theirs.toPandas()).equals(_sorted(mine.toPandas()))
    io.clear_table_cache()
