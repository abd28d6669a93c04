"""Keyed-upsert writer semantics (SURVEY §2 S3): the distributed
replacement for the reference's row-at-a-time ON CONFLICT loop
(`etl.py:57-73`)."""

from __future__ import annotations

from u_s__non_farm_payrolls_an_olap_analysis_spark.io import (
    cache_tables,
    clear_table_cache,
    read_table,
    upsert_by_key,
    write_upsert_parquet,
)

from tests.conftest import SF_SMOKE


def test_upsert_update_and_insert(spark):
    target = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "k long, v double"
    )
    updates = spark.createDataFrame([(2, 99.0), (4, 40.0)], "k long, v double")
    out = {
        r["k"]: r["v"] for r in upsert_by_key(target, updates, ["k"]).collect()
    }
    assert out == {1: 10.0, 2: 99.0, 3: 30.0, 4: 40.0}


def test_upsert_idempotent(spark):
    target = spark.createDataFrame([(1, 10.0)], "k long, v double")
    updates = spark.createDataFrame([(1, 11.0)], "k long, v double")
    once = upsert_by_key(target, updates, ["k"])
    twice = upsert_by_key(once, updates, ["k"])
    assert once.collect() == twice.collect() == [twice.collect()[0]]
    assert twice.collect()[0]["v"] == 11.0


def test_upsert_order_col_tiebreak(spark):
    target = spark.createDataFrame([], "k long, v double, ts long")
    updates = spark.createDataFrame(
        [(1, 1.0, 100), (1, 2.0, 200)], "k long, v double, ts long"
    )
    out = upsert_by_key(target, updates, ["k"], order_col="ts").collect()
    assert len(out) == 1 and out[0]["v"] == 2.0  # latest ts wins


def test_write_roundtrip(spark, tmp_path):
    merged = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double")
    path = str(tmp_path / "out.parquet")
    write_upsert_parquet(path, merged)
    back = spark.read.parquet(path)
    assert sorted(r["k"] for r in back.collect()) == [1, 2]


def test_write_partitioned_layout(spark, tmp_path):
    """partition_by produces the year=<v> directory layout that enables
    partition pruning for downstream scans (the S3 scale posture)."""
    import os

    merged = spark.createDataFrame(
        [(1, 1999, 10.0), (2, 1999, 20.0), (3, 2000, 30.0)],
        "k long, year int, v double",
    )
    path = str(tmp_path / "part.parquet")
    write_upsert_parquet(path, merged, partition_by=["year"])
    subdirs = {d for d in os.listdir(path) if d.startswith("year=")}
    assert subdirs == {"year=1999", "year=2000"}
    pruned = spark.read.parquet(path).filter("year = 1999")
    assert pruned.count() == 2
    from u_s__non_farm_payrolls_an_olap_analysis_spark.plans.explain import (
        formatted_plan,
    )
    assert "PartitionFilters" in formatted_plan(pruned)


def test_write_file_uri_forms(spark, tmp_path):
    """'file:' URIs — including the single-slash form produced by
    Path.as_uri() manipulation — must resolve to the local path, not be
    treated as a literal filename (round-1 advice)."""
    merged = spark.createDataFrame([(1, 10.0)], "k long, v double")
    base = tmp_path / "uri_out.parquet"
    for uri in (f"file:{base}", f"file://{base}", f"file:///{str(base).lstrip('/')}"):
        write_upsert_parquet(uri, merged)
        assert base.exists(), uri
        back = spark.read.parquet(str(base))
        assert back.count() == 1
        import shutil

        shutil.rmtree(base)


def test_write_overwrite_leaves_no_stragglers(spark, tmp_path):
    """The swap must leave exactly the live table: no __staging or __old
    residue after a successful overwrite, and the new contents win."""
    import os

    path = str(tmp_path / "swap.parquet")
    first = spark.createDataFrame([(1, 1.0)], "k long, v double")
    second = spark.createDataFrame([(2, 2.0), (3, 3.0)], "k long, v double")
    write_upsert_parquet(path, first)
    write_upsert_parquet(path, second)
    assert sorted(r["k"] for r in spark.read.parquet(path).collect()) == [2, 3]
    residue = [d for d in os.listdir(tmp_path) if "__staging" in d or "__old" in d]
    assert residue == []


def test_write_invalidates_memoized_reads(spark, tmp_path):
    """A write through write_upsert_parquet is visible to the next
    read_table with no explicit clear_table_cache(): neither the memoized
    relation over the replaced files nor the cache_tables copy of the old
    table may be returned."""
    d = str(tmp_path)
    path = f"{d}/orders.parquet"
    schema = "k long, v double"
    write_upsert_parquet(path, spark.createDataFrame([(1, 10.0), (2, 20.0)], schema))

    def rows():
        return {r["k"]: r["v"] for r in read_table(spark, d, "orders").collect()}

    assert rows() == {1: 10.0, 2: 20.0}
    current = read_table(spark, d, "orders")
    updates = spark.createDataFrame([(2, 99.0), (3, 30.0)], schema)
    write_upsert_parquet(path, upsert_by_key(current, updates, ["k"]))
    assert rows() == {1: 10.0, 2: 99.0, 3: 30.0}

    cached = cache_tables(spark, d, ("orders",))["orders"]
    try:
        updates = spark.createDataFrame([(1, 11.0)], schema)
        write_upsert_parquet(path, upsert_by_key(cached, updates, ["k"]))
        assert rows() == {1: 11.0, 2: 99.0, 3: 30.0}
    finally:
        cached.unpersist()


def test_cache_tables_holds_one_copy_and_clear_releases_it(spark):
    """A second cache_tables() on the same dir replaces its cached frame
    instead of caching a copy of it, and clear_table_cache() unpersists
    what cache_tables() cached."""
    clear_table_cache()
    spark.catalog.clearCache()
    # earlier tests' localCheckpoint-ed RDDs stay persisted: count new ones
    before = set(spark.sparkContext._jsc.getPersistentRDDs())

    def persisted():
        return len(set(spark.sparkContext._jsc.getPersistentRDDs()) - before)

    cache_tables(spark, SF_SMOKE, ("orders",))
    cache_tables(spark, SF_SMOKE, ("orders",))
    assert persisted() == 1
    clear_table_cache()
    assert persisted() == 0
